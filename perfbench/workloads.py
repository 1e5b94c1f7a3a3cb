"""The benchmark's workloads.

Each workload makes its inputs from the seed, runs the program through
its public entry points, checks the outputs and turns what it measured
into the metrics that BENCHMARK.json names. Two crawl workloads share
one implementation and differ only in the shape of the synthetic web:

- ``crawl_wide``: many hosts, few chains each. Rounds pop thousands of
  URLs, so per-row work (canonicalize/priority UDFs, bloom build and
  probe, simulated fetch, parse, image synthesis and phash, near-dup)
  is a large share of each round.
- ``crawl_deep``: few hosts, many chains each. Politeness caps every
  round at 150 pops over a growing deferred backlog, so per-row work is
  close to nil and the per-round cost (Spark jobs, manifest and footer
  I/O, the ledger) sets the time.

Each run does a fixed number of rounds, derived from ``--seconds`` and a
nominal round length measured on the reference machine, so that every
run of a workload does the same work whatever the machine's speed.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import checks
from perfbench.harness import log
from perfbench.tracing import UDF_LAYERS

SERIAL_PHASES = ("prepass", "pop_rank", "fetch", "parse_vet")
FAMILIES = ("frontier_ckpt", "seen_tomb", "vet_counters", "write_images", "write_items")
TABLES = ("frontier", "tomb", "enqueued", "enqueued_filters", "seen", "seen_filters",
          "items", "api_items", "sales_items", "images", "metrics",
          "near_dup_images", "image_bands", "phash_filters")
# bootstrap wall time on the reference machine, for sizing runs
NOMINAL_BOOTSTRAP_S = 10.0


class CrawlWorkload:
    headline = "crawl_urls_per_s"

    def __init__(self, name: str, spec_kw: dict, nominal_round_s: float,
                 min_rounds: int, reference: dict):
        self.name = name
        self.spec_kw = spec_kw
        self.nominal_round_s = nominal_round_s
        self.min_rounds = min_rounds
        # this workload's untraced medians on the reference machine (see
        # README); the traced run's overhead falls back to them
        self.reference = reference

    # ------------------------------------------------------------ inputs
    def rounds_for(self, seconds: int) -> int:
        fit = int((seconds - NOMINAL_BOOTSTRAP_S) // self.nominal_round_s)
        return max(self.min_rounds, fit)

    def make_inputs(self, seed: int, seconds: int, cores: int) -> dict:
        from pyspider_spark.synth import GraphSpec

        spec = GraphSpec(seed_tag=f"{self.name}-{seed}", **self.spec_kw)
        return {"spec": spec, "rounds": self.rounds_for(seconds), "cores": cores}

    # ------------------------------------------------------------ measure
    def measure(self, spark, inputs: dict, workdir: str, tracer) -> dict:
        from pyspider_spark.loop import CrawlEngine

        eng = CrawlEngine(spark, workdir, inputs["spec"], n_seen_partitions=inputs["cores"])
        rounds: list[dict] = []
        run_round = eng.run_round
        last_return = [0.0]

        def timed_round(r: int):
            # the gap since the previous round (or the start of run) is
            # the bootstrap before round 0, compaction after later rounds
            gap = time.perf_counter() - last_return[0]
            tracer.begin(f"round {r}", round=r)
            before = dict(eng.phase_times)
            t = time.perf_counter()
            stats = run_round(r)
            wall = time.perf_counter() - t
            phases = {k: v - before.get(k, 0.0) for k, v in eng.phase_times.items()}
            tracer.end(phases=phases)
            rounds.append({
                "round": r, "wall_s": wall, "gap_s": gap, "phases": phases,
                "stats": dict(stats.__dict__),
                "filter_bytes": _table_state(workdir, ("seen_filters", "enqueued_filters"))[0]
                if tracer.enabled else 0,
            })
            tracer.begin("between rounds")
            last_return[0] = time.perf_counter()
            return stats

        eng.run_round = timed_round
        tracer.begin("bootstrap")
        t0 = last_return[0] = time.perf_counter()
        stats = eng.run(max_rounds=inputs["rounds"])
        crawl_s = time.perf_counter() - t0
        tracer.end()
        live = eng.store.count_rows("frontier") - eng.store.count_rows("tomb")
        state = {t: _table_state(workdir, (t,)) for t in TABLES} if tracer.enabled else {}
        return {
            "engine": eng,
            "stats": [dict(s.__dict__) for s in stats],
            "rounds": rounds,
            "crawl_s": crawl_s,
            "live_rows": live,
            "table_state": state,
            "attempted": len(rounds),
            "failed": 0,
        }

    def end_to_end_values(self, out: dict) -> dict:
        popped = sum(s["popped"] for s in out["stats"])
        return {
            "crawl_urls_per_s": popped / out["crawl_s"],
            "round_s": statistics.median(r["wall_s"] for r in out["rounds"]),
        }

    # ------------------------------------------------------------ checks
    def check(self, spark, inputs: dict, out: dict) -> list[str]:
        from pyspider_spark.schemas import API_ITEMS, ITEMS, SALES_ITEMS, SEEN

        t = time.perf_counter()
        oracle, vetted_seeds = checks.run_oracle(inputs["spec"], inputs["rounds"])
        store = out["engine"].store

        def rows(name, schema):
            return [tuple(r) for r in store.read_or_empty(name, schema).collect()]

        engine_sets = {
            "seen": [r[0] for r in store.read_or_empty("seen", SEEN).select("url_canon").collect()],
            "items": rows("items", ITEMS),
            "api_items": rows("api_items", API_ITEMS),
            "sales_items": rows("sales_items", SALES_ITEMS),
        }
        oracle_sets = {
            "seen": list(oracle.seen),
            "items": oracle.items,
            "api_items": oracle.api_items,
            "sales_items": oracle.sales_items,
        }
        errors = (
            checks.check_counters(out["stats"], oracle.metrics)
            + checks.check_digests(engine_sets, oracle_sets)
            + checks.check_conservation(out["live_rows"], vetted_seeds, out["stats"])
        )
        log(f"{self.name}: checked {len(out['stats'])} rounds, "
            f"{len(engine_sets['seen'])} seen URLs, {len(engine_sets['items'])} items "
            f"against the oracle in {time.perf_counter() - t:.1f}s")
        return errors

    # ------------------------------------------------------------ layers
    def layer_metrics(self, out: dict, tracer) -> dict:
        rounds = out["rounds"]
        n = len(rounds)
        wins = [w for w in tracer.windows if w["label"].startswith("round ")]
        boot = next(w for w in tracer.windows if w["label"] == "bootstrap")

        def mean(vals):
            vals = list(vals)
            return sum(vals) / len(vals) if vals else 0.0

        def phase(r, k):
            return r["phases"].get(k, 0.0)

        m = {
            "loop.rounds": n,
            "loop.bootstrap_s": rounds[0]["gap_s"],
            "loop.compact_s": sum(r["gap_s"] for r in rounds[1:]),
            "loop.write_section_s": mean(
                r["wall_s"] - sum(phase(r, k) for k in SERIAL_PHASES) for r in rounds
            ),
            "loop.critical_family_s": mean(max(phase(r, k) for k in FAMILIES) for r in rounds),
            "neardup.pairs_s": mean(phase(r, "nd_pairs") for r in rounds),
            "neardup.index_s": mean(phase(r, "nd_index") for r in rounds),
        }
        for k in SERIAL_PHASES:
            m[f"loop.{k}_s"] = mean(phase(r, k) for r in rounds)
        for k in FAMILIES:
            m[f"loop.family.{k}_s"] = mean(phase(r, k) for r in rounds)
        for k in ("jobs", "stages", "tasks"):
            m[f"spark.{k}_per_round"] = mean(w[k] for w in wins)
        m["spark.bootstrap_jobs"] = boot["jobs"]
        for k in ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{k}_per_round"] = mean(w.get(k, 0.0) for w in wins)
        udf_total = 0.0
        for k in UDF_LAYERS:
            v = sum(w["udf_s"][k] for w in wins)
            udf_total += v
            m[f"udf.{k}_s"] = v / n
        task_total = sum(w.get("task_s", 0.0) for w in wins)
        m["udf.total_s"] = udf_total / n
        m["udf.share_of_task_time"] = udf_total / task_total if task_total else 0.0
        m["tables.manifest_loads_per_round"] = mean(w["manifest_loads"] for w in wins)
        m["tables.manifest_bytes_per_round"] = mean(w["manifest_bytes"] for w in wins)
        m["tables.manifest_bytes_last_round"] = wins[-1]["manifest_bytes"]
        m["tables.appends_per_round"] = mean(w["appends"] for w in wins)
        m["tables.append_s_per_round"] = mean(w["append_s"] for w in wins)
        m["tables.overwrite_s"] = sum(w["overwrite_s"] for w in tracer.windows)
        state = out["table_state"]
        m["tables.state_bytes"] = sum(b for b, _ in state.values())
        m["tables.data_files"] = sum(f for _, f in state.values())
        for t in ("frontier", "enqueued", "seen", "images", "image_bands"):
            m[f"tables.{t}.state_bytes"] = state.get(t, (0, 0))[0]
            m[f"tables.{t}.data_files"] = state.get(t, (0, 0))[1]
        m["seen.filter_bytes_last_round"] = rounds[-1]["filter_bytes"]
        m["seen.filter_bytes_growth_per_round"] = (
            (rounds[-1]["filter_bytes"] - rounds[0]["filter_bytes"]) / (n - 1) if n > 1 else 0.0
        )
        for r, w in zip(rounds, wins):
            s = r["stats"]
            log(
                f"round {r['round']:2d}: {r['wall_s']:6.2f}s popped {s['popped']:6d} "
                f"jobs {w['jobs']:3d} tasks {w['tasks']:5d} manifests {w['manifest_loads']:3d}"
                f"/{w['manifest_bytes'] / 1024:7.1f}KB udf {sum(w['udf_s'].values()):6.2f}s "
                f"task {w.get('task_s', 0.0):6.2f}s"
            )
        return m


def _table_state(workdir: str, tables) -> tuple[int, int]:
    """(bytes, parquet files) on disk under the given tables' directories."""
    files = nbytes = 0
    for t in tables:
        for dirpath, _dirs, names in os.walk(os.path.join(workdir, t)):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(dirpath, f))
    return nbytes, files


_SPEC_COMMON = dict(max_pages_per_chain=8, details_per_list=6, api_pages_per_chain=3,
                    images_per_list=2)

WORKLOADS = {
    w.name: w
    for w in (
        CrawlWorkload(
            "crawl_wide",
            dict(n_hosts=512, chains_per_host=6, **_SPEC_COMMON),
            nominal_round_s=15.0, min_rounds=2,
            reference={"crawl_urls_per_s": 218.0},
        ),
        CrawlWorkload(
            "crawl_deep",
            dict(n_hosts=8, chains_per_host=96, **_SPEC_COMMON),
            nominal_round_s=12.0, min_rounds=2,
            reference={"crawl_urls_per_s": 7.93},
        ),
    )
}
