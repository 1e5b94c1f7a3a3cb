#!/usr/bin/env python
"""Two-cluster-size scaling evidence (BASELINE.json: efficiency ≥ 0.8
from N to 4N executors).

No real cluster exists in this sandbox, so per the protocol in
BASELINE.md the SAME job runs on the SAME input at two local
parallelism levels — local[8] (N) and local[32] (4N) — each in a fresh
JVM (local-mode core count is fixed at session creation). Reports
throughput at both plus ``efficiency = (T_N / T_4N) / 4``.

The job is the north-rule metric's shape: one full engine round over a
GIANT synthetic frontier (default 20M rows, lazily generated from
spark.range — never materialized driver-side, exactly how a 10^10-row
frontier must be handled): budgeted priority pop over ~50k hosts →
fetch of the ~1M in-budget URLs (detail pages + image payloads) → item
extraction + image materialization → seen-set append →
pop-tombstone append (the incremental-frontier design: deferral writes
nothing, so the 19M deferred rows cost zero write I/O — the round-1
design rewrote them all every round).

Usage:
    python scripts/scaling_bench.py                 # both levels → JSON
    python scripts/scaling_bench.py --cores N       # one level
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

FRONTIER_ROWS = int(os.environ.get("SPARK_GRAFT_SCALING_FRONTIER", "20000000"))
N_HOSTS = int(os.environ.get("SPARK_GRAFT_SCALING_HOSTS", "50000"))
IMG_SCALE = int(os.environ.get("SPARK_GRAFT_IMG_SCALE", "6"))
# Per-host politeness budget → round size. Default 20/host x 50k hosts
# = 1M pops/round; 80 → 4M pops/round over the SAME frontier. This is
# the amortization knob: per-round fixed cost (job-launch latency,
# small-frame shuffles) is constant, so bigger rounds must push the
# measured N→4N efficiency toward the hardware ceiling (~0.81 on this
# box, scripts/payload_ceiling.py).
HOST_BUDGET = int(os.environ.get("SPARK_GRAFT_SCALING_BUDGET", "20"))


def build_frontier(spark, n_rows: int, n_hosts: int):
    """Lazily-generated frontier: hash-derived columns over spark.range
    (the 10^10-scale pattern — O(1) driver memory). 80% detail pages,
    20% image fetches; rows enter pre-vetted (vetting happens at
    link-discovery time in the incremental engine)."""
    from pyspark.sql import functions as F

    kind = F.pmod(F.xxhash64("id", F.lit(3)), F.lit(5))
    host = F.format_string("host%d.example", F.pmod(F.xxhash64("id"), F.lit(n_hosts)))
    url = F.when(
        kind == 0, F.format_string("https://%s/img/i%d", host, F.col("id"))
    ).otherwise(F.format_string("https://%s/detail/d%d", host, F.col("id")))
    return (
        spark.range(n_rows)
        .select(
            url.alias("url"),
            url.alias("url_canon"),
            host.alias("host"),
            # fine-grained priorities: with coarse ones the url_canon
            # tie-break inside a host's top bucket systematically favors
            # 'detail/...' over 'img/...' and skews the popped mix
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).cast("int").alias("priority"),
            F.lit(0).cast("long").alias("exetime"),
            F.lit(0).cast("int").alias("retries"),
            F.lit(3).cast("int").alias("max_retries"),
            F.when(kind == 0, F.lit("img")).otherwise(F.lit("detail")).alias("stage"),
            F.lit(None).cast("map<string,string>").alias("meta"),
            F.lit(0).cast("int").alias("round_added"),
            F.lit("synthetic").alias("lineage"),
            F.pmod(F.xxhash64("id", F.lit(4)), F.lit(16)).cast("int").alias("salt"),
            F.lit(True).alias("vetted"),
        )
    )


def build_config(spark, n_hosts: int, budget: int):
    """Per-host politeness config sized for the amortization study —
    lazily generated like the frontier (no 50k-row driver list). Hosts
    must match build_frontier's `host%d.example` naming so the
    broadcast budget join hits."""
    from pyspark.sql import functions as F

    return spark.range(n_hosts).select(
        F.format_string("host%d.example", F.col("id")).alias("host"),
        F.lit(budget).cast("int").alias("concurrency"),
        F.lit(0.5).alias("delay_s"),
        F.lit(5.0).alias("timeout_s"),
        F.lit(3).cast("int").alias("max_retries"),
        F.lit(1000).cast("int").alias("pop_budget"),
    )


def physical_core_cpus() -> list[int]:
    """One CPU id per PHYSICAL core, from sysfs topology. On SMT boxes
    with interleaved sibling enumeration (ids 0/1 siblings on one
    core), pinning to range(N) would get only N/2 physical cores and
    skew the N-vs-4N efficiency this pinning exists to protect; picking
    the first id of each thread_siblings_list avoids that. Falls back
    to sequential ids when sysfs is unavailable."""
    base = "/sys/devices/system/cpu"
    picks, seen_cores = [], set()
    try:
        cpus = sorted(
            int(d[3:]) for d in os.listdir(base)
            if d.startswith("cpu") and d[3:].isdigit()
        )
        for c in cpus:
            p = f"{base}/cpu{c}/topology/thread_siblings_list"
            with open(p) as f:
                key = f.read().strip()
            if key not in seen_cores:
                seen_cores.add(key)
                picks.append(c)
    except OSError:
        return list(range(os.cpu_count() or 1))
    return picks or list(range(os.cpu_count() or 1))


def run_one(cores: int, pin: bool = True) -> dict:
    from pyspider_spark.loop import CrawlEngine
    from pyspider_spark.schemas import FRONTIER
    from pyspider_spark.session import get_spark
    from pyspider_spark.synth import GraphSpec

    # Pin the WHOLE process tree (this driver, the JVM it forks, every
    # Python worker) to `cores` PHYSICAL cores BEFORE the JVM starts
    # (one CPU id per core via sysfs topology — see physical_core_cpus).
    # local[N] caps only task slots — JVM-internal threads (parquet
    # writers, GC, Arrow readers) and the OS scheduler otherwise spread
    # onto all physical cores, so an unpinned local[8] borrows CPU an
    # 8-core executor would not have and corrupts the N-vs-4N study.
    # (Measured: pinning local[8] is also slightly FASTER here — cache
    # affinity — so this is honesty, not a handicap.)
    pinned_cpus: list[int] = []
    if pin:
        try:
            phys = physical_core_cpus()
            pinned_cpus = phys[:cores]
            os.sched_setaffinity(0, set(pinned_cpus))
        except (AttributeError, OSError):
            pinned_cpus = []  # non-Linux or already restricted

    # Big-round memory guard: a 4x round (budget 80) lands ~22 GB of
    # image payload in the tmpfs workdir while the JVM and N Python
    # workers run; on a 128 GiB box the 48g default heap then gets the
    # JVM OOM-KILLED by the kernel (not a Spark error — check dmesg).
    # Cap the heap unless the caller pinned one explicitly.
    if HOST_BUDGET > 20:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

    spark = get_spark(
        f"scaling{cores}", cores=cores, shuffle_partitions=cores * 2
    )
    spark.range(1000).count()  # JVM warmup outside the timed window
    wd = tempfile.mkdtemp(prefix=f"scaling{cores}_", dir="/dev/shm")
    try:
        spec = GraphSpec(n_hosts=N_HOSTS, seed_tag="scaling2", img_scale=IMG_SCALE,
                         crawl_delay_host0=None)  # keep the r2/r3 scaling protocol byte-identical (4M pops)
        eng = CrawlEngine(spark, wd, spec, n_seen_partitions=64)
        eng.store.overwrite(
            "frontier", build_frontier(spark, FRONTIER_ROWS, N_HOSTS)
        )
        if HOST_BUDGET != 20:  # default path stays byte-for-byte the round-2 protocol
            eng.store.overwrite("config", build_config(spark, N_HOSTS, HOST_BUDGET))
        eng.last_frontier_rows = FRONTIER_ROWS

        t0 = time.perf_counter()
        stats = eng.run_round(0)
        dt = time.perf_counter() - t0
        return {
            "phase_seconds": {k: round(v, 2) for k, v in eng.phase_times.items()},
            "cores": cores,
            "pinned": pin,
            "pinned_cpus": pinned_cpus,
            "frontier_rows": FRONTIER_ROWS,
            "host_budget": HOST_BUDGET,
            "urls_scheduled_fetched": stats.popped,
            "images_landed": stats.images_landed,
            "items_emitted": stats.items_emitted,
            "deferred": stats.deferred_politeness,
            "seconds": round(dt, 2),
            "urls_per_sec": round(stats.popped / dt, 2),
            "frontier_rows_per_sec": round(FRONTIER_ROWS / dt, 2),
        }
    finally:
        shutil.rmtree(wd, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--out", type=str, default=None)
    ap.add_argument(
        "--no-pin",
        action="store_true",
        help="skip sched_setaffinity core pinning (see run_one docstring)",
    )
    args = ap.parse_args()

    if args.cores is not None:
        payload = json.dumps(run_one(args.cores, pin=not args.no_pin))
        if args.out:
            with open(args.out, "w") as f:
                f.write(payload)
        print(payload)
        return

    # min-of-K per level: this box carries bursty external load, so a
    # single wall-clock sample conflates our job with whatever else ran;
    # the minimum approaches the uncontended time.
    repeat = int(os.environ.get("SPARK_GRAFT_SCALING_REPEAT", "3"))
    results = {}
    for cores in (8, 32):
        best = None
        samples = []
        for _ in range(repeat):
            with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
                out = f.name
            argv = [sys.executable, os.path.abspath(__file__), "--cores", str(cores), "--out", out]
            if args.no_pin:
                argv.append("--no-pin")
            subprocess.run(
                argv,
                check=True,
                cwd=REPO,
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
            )
            with open(out) as fh:
                r = json.load(fh)
            os.unlink(out)
            samples.append(r["seconds"])
            if best is None or r["seconds"] < best["seconds"]:
                best = r
        best["all_seconds"] = samples
        best["urls_per_sec"] = round(best["urls_scheduled_fetched"] / best["seconds"], 2)
        best["frontier_rows_per_sec"] = round(best["frontier_rows"] / best["seconds"], 2)
        results[cores] = best

    t_n, t_4n = results[8]["seconds"], results[32]["seconds"]
    efficiency = (t_n / t_4n) / 4
    print(
        json.dumps(
            {
                "N": results[8],
                "4N": results[32],
                "speedup_N_to_4N": round(t_n / t_4n, 3),
                "scaling_efficiency": round(efficiency, 3),
                "target": 0.8,
            }
        )
    )


if __name__ == "__main__":
    main()
