"""Batch-iterative crawl loop with atomic per-round checkpoints + resume.

One round ≙ one full pass of the reference's producer/worker machinery
(reference common/spider.py:277-290): read frontier → budgeted pop →
fetch → parse → vet+enqueue new links. The driver loop replaces the
asyncio queue/join (common/spider.py:285); Spark task parallelism
replaces the 4 workers (common/settings.py:11).

Incremental frontier (the 100-TB design): the frontier table is
APPEND-ONLY. Rows enter once (seeds, vetted new links, retries) and are
never rewritten; popping appends a tombstone row to ``tomb`` instead of
rewriting the table, and politeness deferral writes NOTHING — a
deferred row simply stays in place and re-enters the next round's pop
ranking. This works byte-identically to the eager-rewrite formulation
because every ready row's politeness-bumped exetime is provably equal
to the current round number (deferred rows get r+1, new links get r+1,
seeds surface at their seed_exetime round), so the effective exetime is
*derived* per round rather than stored. Per-round frontier write I/O is
therefore O(popped + new links), never O(backlog); a periodic
compaction round folds tombstones in and truncates ``tomb``.

Vetting (dedup + robots) happens at link-DISCOVERY time, gated by the
``enqueued`` membership set (an exact left join, same machinery as the
seen set), so rows in the frontier are final and the pop path never
re-vets — per-round vet work is O(new links).

Checkpoint contract (north rule): after each round the engine appends an
entry to the round ledger ``_manifests/rounds.json`` pinning the snapshot
id of every table plus the round's counters and per-partition lineage.
A killed job resumes by rolling every table pointer back to the last
ledger entry and re-running from the next round — byte-identical because
every value in the system is hash-derived (synth.py) and every ordering
is total (scheduler.POP_ORDER).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark import StorageLevel

from . import scheduler, stages, synth
from .canon import canonicalize_udf, host_of
from .fetch import materialize_images, run_fetch
from .schemas import (
    API_ITEMS,
    CONFIG,
    FRONTIER,
    IMAGES,
    ITEMS,
    METRICS,
    ROBOTS,
)
from .seen import SeenSet
from .synth import CAPTCHA_MARKER, GraphSpec
from .tables import TableStore

ALL_TABLES = [
    "frontier", "tomb", "enqueued",
    "seen", "items", "api_items", "sales_items",
    "images", "metrics", "near_dup_images", "fetch_cache",
    "phash_filters", "image_bands",
]

COMPACT_EVERY = 8  # rounds between state compactions

# Tombstone sets at or under this many rows ride the broadcast side of
# the frontier anti-join (the backlog side never shuffles). Above it —
# only possible with a very long compaction interval at huge pop rates —
# the join falls back to a shuffle and AQE picks the strategy.
BROADCAST_TOMB_MAX = 1_000_000

# Big intermediate caches go to DISK_ONLY: scratch lives on tmpfs
# (session.py spark.local.dir), so this is RAM-speed but serialized and
# off-heap — a 20M-row deserialized MEMORY_AND_DISK cache would cost
# multi-GB of JVM heap and the GC pauses eat the parallel speedup.
CACHE = StorageLevel.DISK_ONLY


def _priority_udf():
    @F.pandas_udf(T.IntegerType())
    def prio(urls: pd.Series) -> pd.Series:
        return urls.map(synth.priority_of).astype("int32")

    return prio


def _seed_exetime_udf():
    @F.pandas_udf(T.LongType())
    def exe(urls: pd.Series) -> pd.Series:
        return urls.map(synth.seed_exetime).astype("int64")

    return exe


def stage_col(url_canon):
    """stage from URL path — JVM-side CASE (mirrors synth.stage_of)."""
    head = F.regexp_extract(url_canon, r"://[^/]+/([a-z]+)", 1)
    is_sales = F.regexp_extract(url_canon, r"://[^/]+/api/sales(\?|$)", 0) != ""
    return (
        F.when(is_sales, F.lit("sales"))
        .when(head.isin("list", "detail", "api", "img"), head)
        .otherwise(F.lit("list"))
    )


@dataclass
class RoundStats:
    round: int
    popped: int = 0
    fetched_ok: int = 0
    failed: int = 0
    retried: int = 0
    captcha_requeued: int = 0
    deduped: int = 0
    deferred_politeness: int = 0
    robots_blocked: int = 0
    new_links: int = 0
    items_emitted: int = 0
    images_landed: int = 0


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        spec: GraphSpec,
        n_seen_partitions: int = 32,
        global_budget: int | None = None,
        collect_pop_sequence: bool = False,
        fetch_cache_ttl_rounds: int | None = None,
        neardup_geometry: tuple[int, int] | None = None,
        html_parser: bool = False,
        transport: str = "sim",
        http_opts: dict | None = None,
        store=None,
    ):
        self.spark = spark
        self.spec = spec
        self.workdir = workdir
        # any object with TableStore's public surface (e.g. an
        # iceberg.IcebergTableStore); the round ledger stays in workdir
        self.store = store if store is not None else TableStore(spark, workdir)
        self.seen = SeenSet(self.store, n_partitions=n_seen_partitions)
        # url-ever-enqueued membership (dedup at link-discovery time) —
        # same structure over its own table.
        self.enqueued = SeenSet(
            self.store, n_partitions=n_seen_partitions, table="enqueued"
        )
        self.global_budget = global_budget
        self.collect_pop_sequence = collect_pop_sequence
        self.pop_sequences: dict[int, list[str]] = {}
        self.fetch_cache_ttl_rounds = fetch_cache_ttl_rounds
        # (n_bands, band_bits) for the phash banded-LSH index. The
        # default 8x8 gives the full hamming<=7 lossless radius; at
        # large corpus sizes pass neardup.choose_geometry(corpus) —
        # wider bands keep the band buckets (and the band-key bloom)
        # sparse. See neardup module docstring for the sizing table.
        self.neardup_geometry = neardup_geometry or (8, 8)
        # html_parser=True swaps the regex extractors for the real
        # Arrow-batched HTML parser (stages.links_from_list_html /
        # detail_items_html) — byte-identical on the synthetic corpus,
        # required for arbitrary real pages (P5).
        self.html_parser = html_parser
        # S4 transport: "sim" (deterministic oracle) or "http" (real
        # network — thread-pooled urllib per Arrow batch, fetch.py;
        # http_opts: timeout_s / pool_size / base_override).
        self.transport = transport
        self.http_opts = http_opts
        self.last_frontier_rows = 0
        self._round_persists: list[DataFrame] = []
        self._ledger_path = os.path.join(workdir, "_manifests", "rounds.json")
        os.makedirs(os.path.dirname(self._ledger_path), exist_ok=True)
        # wall-clock per phase, cumulative across rounds — each entry is
        # the time between consecutive blocking actions, so it attributes
        # every lazily-built plan to the action that materialized it.
        # Read by scripts/scaling_bench.py to decompose scaling losses.
        self.phase_times: dict[str, float] = {}
        self._t_last = time.perf_counter()

    def _mark(self, label: str) -> None:
        now = time.perf_counter()
        self.phase_times[label] = self.phase_times.get(label, 0.0) + (
            now - self._t_last
        )
        self._t_last = now

    # ------------------------------------------------------------- ledger
    def _read_ledger(self) -> list[dict]:
        """Ledger entries, oldest first. JSONL (one entry per line):
        a torn final line from a crash mid-append parses as 'round not
        committed' and is skipped — exactly the resume contract."""
        if not os.path.exists(self._ledger_path):
            return []
        entries = []
        with open(self._ledger_path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    entries.append(json.loads(line))
                except json.JSONDecodeError:
                    break  # torn tail — everything after is uncommitted
        return entries

    def _append_ledger(self, entry: dict) -> None:
        """O(1) fsync'd append of one JSON line: a commit never re-reads
        or rewrites the history."""
        line = json.dumps(entry, sort_keys=True)
        with open(self._ledger_path, "a") as f:
            f.write(line + "\n")
            f.flush()
            os.fsync(f.fileno())

    def last_completed_round(self) -> int | None:
        ledger = self._read_ledger()
        return ledger[-1]["round"] if ledger else None

    def _checkpoint(self, round_no: int, stats: RoundStats, lineage: list[dict]) -> None:
        snaps = {t: self.store.current_snapshot_id(t) for t in ALL_TABLES}
        self._append_ledger(
            {
                "round": round_no,
                "snapshots": snaps,
                "metrics": stats.__dict__,
                "partition_lineage": lineage,
            }
        )

    def restore_to_ledger(self) -> int | None:
        """Roll every table pointer back to the last complete round
        (discards any half-written round). Returns last complete round."""
        ledger = self._read_ledger()
        if not ledger:
            for t in ALL_TABLES:
                self.store.rollback(t, None)
                self.store.prune_abandoned(t)
            return None
        snaps = ledger[-1]["snapshots"]
        for t in ALL_TABLES:
            self.store.rollback(t, snaps.get(t))
            # physically remove the crashed round's dirs: the replay will
            # re-append the same rows, and file-source streams tailing
            # the table must not see both copies.
            self.store.prune_abandoned(t)
        return ledger[-1]["round"]

    # ---------------------------------------------------------- bootstrap
    def bootstrap(self) -> None:
        spark = self.spark
        # config/robots are driver-held dim lists — pyarrow writes, no
        # Spark jobs (two fewer fixed-latency jobs in the cold start)
        self.store.overwrite_rows("config", synth.config_rows(self.spec), CONFIG)
        self.store.overwrite_rows("robots", synth.robots_rows(self.spec), ROBOTS)
        seeds = spark.createDataFrame(
            [(u,) for u in synth.seed_urls(self.spec)], ["url"]
        )
        seeds = seeds.withColumn("url_canon", canonicalize_udf("url")).withColumn(
            "host", host_of(F.col("url_canon"))
        )
        frontier = seeds.select(
            "url",
            "url_canon",
            "host",
            _priority_udf()(F.col("url_canon")).alias("priority"),
            _seed_exetime_udf()(F.col("url_canon")).alias("exetime"),
            F.lit(0).cast("int").alias("retries"),
            F.lit(3).cast("int").alias("max_retries"),
            stage_col(F.col("url_canon")).alias("stage"),
            F.lit(None).cast("map<string,string>").alias("meta"),
            F.lit(0).cast("int").alias("round_added"),
            F.lit("seed").alias("lineage"),
            F.pmod(F.xxhash64("url_canon"), F.lit(scheduler.N_SALT))
            .cast("int")
            .alias("salt"),
            F.lit(True).alias("vetted"),
        )
        # seeds are vetted at bootstrap (discovery-time contract): dedup
        # in-batch, drop robots-disallowed, register in the enqueued set.
        frontier = scheduler.dedup_batch(frontier)
        robots_df = self.store.read_or_empty("robots", ROBOTS)
        vetted = (
            scheduler.robots_mark(frontier, robots_df)
            .filter(~F.col("_blk"))
            .drop("_blk")
        )
        self.store.overwrite(
            "frontier", vetted.select(*[f.name for f in FRONTIER.fields])
        )
        # read back the materialized seed rows (snapshot-pinned) for the
        # enqueued-set registration instead of recomputing the plan
        self.enqueued.add(
            self.store.read_or_empty("frontier", FRONTIER), -1, assume_new=True
        )
        self._checkpoint(-1, RoundStats(round=-1), [])

    # -------------------------------------------------------------- round
    def run_round(self, r: int) -> RoundStats:
        stats = RoundStats(round=r)
        store, spec = self.store, self.spec
        self._t_last = time.perf_counter()
        # frames persisted by helpers during this round (e.g. the memo
        # fetch path); unpersisted with the round's own frames below.
        self._round_persists: list[DataFrame] = []

        # idle check from parquet footer stats only (no Spark job):
        # nothing in the frontier is ready before round min(exetime).
        min_exe = store.min_column_stat("frontier", "exetime")
        if min_exe is not None and int(min_exe) > r:
            self._write_round_outputs(r, stats, None, None, None, None, None)
            return stats

        ready = store.read_or_empty("frontier", FRONTIER).filter(
            F.col("exetime") <= F.lit(r)
        )
        # frontier ∖ popped: rows are pre-vetted at discovery time, so
        # exclusion of pop tombstones is the ONLY per-round read-side
        # maintenance; no dedup/seen/robots re-vetting of the backlog.
        candidates = self._exclude_tombstoned(ready)
        # effective exetime: under politeness-deferral semantics every
        # ready row's exetime equals the current round (deferred rows
        # are re-timestamped r+1, new links enter at r+1, seeds surface
        # at their seed round) — derive it instead of rewriting the
        # backlog each round.
        candidates = candidates.withColumn("exetime", F.lit(r).cast("long"))

        # robots crawl-delay caps the per-host budget (Q15): effective
        # concurrency = min(concurrency, floor(quantum / crawl_delay)).
        # Both dims are tiny; the fold is lazy and broadcasts below.
        config = scheduler.effective_config(
            store.read_or_empty("config", CONFIG),
            store.read_or_empty("robots", ROBOTS),
        )
        # ONE slim pre-pass over candidates serves BOTH the adaptive skew
        # guard (over-threshold host list) and the exact candidate count
        # (deferred = candidates − popped): column-pruned scan, map-side
        # partial agg, one shuffle row per host, one driver row back.
        pre = (
            candidates.groupBy("host")
            .count()
            .agg(
                F.sum("count").alias("_n"),
                F.collect_list(
                    F.when(
                        F.col("count") > scheduler.BIG_HOST_ROWS, F.col("host")
                    )
                ).alias("_big"),
            )
            .collect()[0]
        )
        self._mark("prepass")
        n_candidates = int(pre["_n"] or 0)
        if n_candidates == 0:
            self._write_round_outputs(r, stats, None, None, None, None, None)
            self._unpersist_round()
            return stats
        # Only the in-budget rows persist: the 10^10-row deferred backlog
        # is never cached or written anywhere — deferral is implicit (the
        # row stays in the append-only frontier and re-enters next
        # round's ranking with derived exetime), and its size is counted
        # arithmetically, never materialized. Per-round scratch+write I/O
        # is O(popped + new links), never O(backlog). The ranking itself
        # shuffles only a slim (host, priority, exetime, url_canon)
        # projection — full-width frontier rows never shuffle (see
        # scheduler.popped_via_thresholds).
        pre_pop = (
            scheduler.popped_via_thresholds(
                candidates, config, big_hosts=pre["_big"]
            )
            .withColumn("_pop", F.lit(True))
            .persist(CACHE)
        )
        self._round_persists.append(pre_pop)
        if self.global_budget is not None:
            # threshold probe + scalar filter over the small cached
            # in-budget frame (≤ Σ host budgets), never the backlog
            popped = scheduler.apply_global_budget(
                pre_pop, self.global_budget
            ).filter(F.col("_pop")).drop("_pop")
        else:
            popped = pre_pop.drop("_pop")
        stats.popped = popped.count()
        self._mark("pop_rank")
        stats.deferred_politeness = n_candidates - stats.popped
        if stats.popped == 0:
            self._write_round_outputs(r, stats, None, None, None, None, None)
            self._unpersist_round()
            return stats

        if self.collect_pop_sequence:
            seq = (
                popped.select("url_canon", "priority", "exetime")
                .orderBy(F.desc("priority"), F.asc("exetime"), F.asc("url_canon"))
                .collect()
            )
            self.pop_sequences[r] = [row.url_canon for row in seq]

        # attach the per-request external-param surface (U4/P15:
        # deterministic UA/proxy/header rotation per (url, retry))
        from .params import with_request_params

        results = self._fetch_with_memo(with_request_params(popped), r)
        # ok/requeue are cheap scalar filters over the results cache: a
        # second persist of `ok` would re-write every body+image byte to
        # scratch (non-scaling single-box I/O); its five consumers read
        # the results cache and re-apply the filter instead.
        ok, requeue, exhausted = scheduler.split_fetch_outcomes(results, CAPTCHA_MARKER)
        # (requeue is consumed exactly once, via requeue_rows below, and
        # reads the results cache — persisting it would only hold body
        # bytes on the heap)
        # one agg job for all four fetch-outcome counters, built from
        # the SAME predicate definitions the row split uses
        p = scheduler.fetch_outcome_predicates(CAPTCHA_MARKER)
        is_fail, is_captcha, can_retry = p["is_fail"], p["is_captcha"], p["can_retry"]
        oc = results.agg(
            F.count(F.when(~is_fail & ~is_captcha, 1)).alias("ok"),
            F.count(F.when((is_fail | is_captcha) & ~can_retry, 1)).alias("failed"),
            F.count(F.when(is_fail & can_retry, 1)).alias("retried"),
            F.count(F.when(is_captcha & can_retry, 1)).alias("captcha"),
        ).collect()[0]
        self._mark("fetch")
        stats.fetched_ok = oc["ok"]
        stats.failed = oc["failed"]
        stats.retried = oc["retried"]
        stats.captcha_requeued = oc["captcha"]

        # parse
        parsed_api = stages.parse_api(ok).persist()
        api_items = stages.api_items(parsed_api, r)
        links_fn = (
            stages.links_from_list_html if self.html_parser else stages.links_from_list
        )
        # Q12 engine-level chunked batch fetch: this round's skus roll
        # up into one sales request per chunk_size ids (reference
        # jingxi_category_sales.py:112-118) that enters the frontier
        # like any discovered link
        new_links_raw = (
            links_fn(ok)
            .unionByName(stages.links_from_api(parsed_api))
            .unionByName(stages.sales_chunk_links(api_items, spec.sales_chunk_size))
        )
        # vet counters are DEFERRED into the concurrent write phase
        # (count_fn shares the marked frame's cache blocks with the
        # frontier write) — the serial parse_vet phase only BUILDS plans
        vet_count_fn, new_rows = self._vet_new_links(new_links_raw, r, stats)
        new_rows = new_rows.persist()
        self._mark("parse_vet")

        items_fn = (
            stages.detail_items_html if self.html_parser else stages.detail_items
        )
        items = items_fn(ok, r)
        sales = stages.sales_items(ok, r)
        images = materialize_images(ok, spec)

        requeue_rows = (
            requeue.drop("_captcha", "status", "body", "out_links", "image_refs")
            .withColumn("exetime", F.lit(r + 1).cast("long"))
            .withColumn("url", F.col("url_canon"))
            .withColumn("round_added", F.lit(r).cast("int"))
            .withColumn("lineage", F.lit("retry"))
            .withColumn(
                "salt",
                F.pmod(F.xxhash64("url_canon"), F.lit(scheduler.N_SALT)).cast("int"),
            )
            .withColumn("vetted", F.lit(True))  # retries were vetted pre-pop
            .select(*[f.name for f in FRONTIER.fields])
        )

        frontier_delta = requeue_rows.unionByName(
            new_rows.select(*[f.name for f in FRONTIER.fields])
        )

        self._write_round_outputs(
            r, stats, popped, items, api_items, images, frontier_delta,
            new_rows=new_rows, sales=sales, vet_count_fn=vet_count_fn,
        )

        for df in (results, parsed_api, new_rows):
            df.unpersist()
        self._unpersist_round()
        return stats

    def _unpersist_round(self) -> None:
        for df in self._round_persists:
            df.unpersist()
        self._round_persists = []

    def _detect_near_dups(self, r: int) -> None:
        """J5: phash near-dup pairs for this round's images — banded
        self-join within the batch, plus an incremental-index lookup
        against the prior corpus (neardup.BandIndex: per-round appended
        band rows + right-sized per-partition blooms; the corpus is
        never re-exploded and round cost is O(new images) probe +
        O(touched partitions) verify read). Non-destructive: pairs land
        in near_dup_images; the images table keeps every row."""
        from . import neardup

        store = self.store
        nb, bb = self.neardup_geometry
        idx = neardup.BandIndex(store, n_bands=nb, band_bits=bb)
        new_imgs = store.read_last_append("images", IMAGES).select("image_id", "phash")
        # ONE persisted band explode feeds all four index operations
        # this round (in-batch pairs both sides, corpus lookup, index
        # append, blob build) — round 2 re-ran the explode per op and
        # paid ~5 extra fixed-latency jobs per round at toy round sizes.
        bands = idx.band_rows(new_imgs).persist()
        t0 = time.perf_counter()
        pairs = neardup.pairs_from_bands(bands, bands, r, max_hamming=nb - 1)
        if idx.has_corpus():
            pairs = pairs.unionByName(
                idx.pairs_vs_corpus(bands, r)
            ).dropDuplicates(["image_id", "dup_of"])
        store.append(
            "near_dup_images",
            pairs.select(*[f.name for f in neardup.NEAR_DUP_IMAGES.fields]),
        )
        t1 = time.perf_counter()
        # index this round's images for future rounds' lookups (local
        # timing, not _mark: this runs inside a writer thread)
        idx.append_round(bands, r)
        bands.unpersist()
        t2 = time.perf_counter()
        self.phase_times["nd_pairs"] = self.phase_times.get("nd_pairs", 0.0) + (t1 - t0)
        self.phase_times["nd_index"] = self.phase_times.get("nd_index", 0.0) + (t2 - t1)

    def _fetch_with_memo(self, popped: DataFrame, r: int) -> DataFrame:
        """S14/J2 at engine level: cache-aside around the fetcher. Hits
        (fresh within the TTL window) skip the fetch entirely; misses
        are fetched and appended to the memo table. The fetcher is
        deterministic, so cached and live results are identical — the
        memo changes cost, never output.

        Returns the round's PERSISTED results frame (both branches):
        in the memo branch the union itself is the one persisted copy —
        the memo-table append reads miss rows (``_hit`` marker) from it,
        so each miss body hits local scratch exactly once. (An earlier
        revision persisted the inner fetch AND the union: every miss
        body serialized to scratch twice.)"""
        from .schemas import FETCH_CACHE, FETCH_RESULTS

        if self.fetch_cache_ttl_rounds is None:
            return run_fetch(
                popped, self.spec, transport=self.transport,
                http_opts=self.http_opts,
            ).persist(CACHE)
        store = self.store
        fresh = store.read_or_empty("fetch_cache", FETCH_CACHE).filter(
            F.col("cached_round") >= r - self.fetch_cache_ttl_rounds
        )
        # last write wins per key (re-fetched URLs append a newer row)
        entry = F.struct("status", "body", "out_links", "image_refs")
        cache = fresh.groupBy("url_canon").agg(
            F.max_by(entry, F.col("cached_round")).alias("_c")
        )
        joined = popped.join(cache, on="url_canon", how="left_outer")
        result_cols = [f.name for f in FETCH_RESULTS.fields]
        hits = joined.filter(F.col("_c").isNotNull()).select(
            *[c for c in result_cols if c not in ("status", "body", "out_links", "image_refs")],
            F.col("_c.status").alias("status"),
            F.col("_c.body").alias("body"),
            F.col("_c.out_links").alias("out_links"),
            F.col("_c.image_refs").alias("image_refs"),
        ).select(*result_cols)
        misses = joined.filter(F.col("_c").isNull()).drop("_c")
        fetched = run_fetch(
            misses, self.spec, transport=self.transport, http_opts=self.http_opts
        )
        results = (
            hits.withColumn("_hit", F.lit(True))
            .unionByName(
                fetched.select(*result_cols).withColumn("_hit", F.lit(False))
            )
            .persist(CACHE)
        )
        # cache only successful, non-captcha MISS responses: a memoized
        # failure would otherwise be served to the retry pop within the
        # TTL, so a real (non-deterministic) fetcher could never observe
        # a recovered fetch. This append is the round's first action on
        # the results frame, so it also materializes the persist —
        # downstream consumers (and the append itself) read ONE copy.
        cacheable = results.filter(
            ~F.col("_hit")
            & (F.col("status") < 500)
            & ~F.col("body").contains(CAPTCHA_MARKER)
        )
        store.append(
            "fetch_cache",
            cacheable.select(
                "url_canon", "status", "body", "out_links", "image_refs"
            ).withColumn("cached_round", F.lit(r).cast("int")),
        )
        return results

    def ingest_urls(self, urls: DataFrame, next_round: int) -> int:
        """Out-of-band URL ingestion (S10 Kafka-source path,
        streaming.drain_seeds_into_engine): vet (url, parent?, meta?)
        rows exactly like discovered links — canonicalize → in-batch
        dedup → enqueued-set anti-join → robots — and append survivors
        as frontier rows due at ``next_round``. Returns rows added.
        Call between rounds; the next round's checkpoint pins them.

        ``next_round`` must be the round that will actually run next:
        the ledger entry below is pinned at ``next_round - 1``, and a
        gap would make resume read rounds as completed that never ran
        (silently skipping them)."""
        last = self.last_completed_round()
        expected = 0 if last is None else last + 1
        if next_round != expected:
            raise ValueError(
                f"ingest_urls(next_round={next_round}) out of sequence: "
                f"last completed round is {last}, expected next_round="
                f"{expected} (a gap would mark unrun rounds completed "
                "in the ledger and resume would skip them)"
            )
        cols = urls.columns
        links = urls
        if "parent" not in cols:
            links = links.withColumn("parent", F.lit(None).cast("string"))
        if "meta" not in cols:
            links = links.withColumn(
                "meta", F.lit(None).cast("map<string,string>")
            )
        stats = RoundStats(round=next_round - 1)
        self._round_persists = []
        _count_fn, rows = self._vet_new_links(
            links.select("url", "parent", "meta"), next_round - 1, stats
        )
        rows = rows.persist()
        n = rows.count()
        if n > 0:
            self.store.append(
                "frontier", rows.select(*[f.name for f in FRONTIER.fields])
            )
            self.enqueued.add(rows, next_round - 1, assume_new=True)
            self.last_frontier_rows = self.store.count_rows(
                "frontier"
            ) - self.store.count_rows("tomb")
            # pin the ingest in the ledger: without this, a crash before
            # the NEXT round completes would roll the table pointers
            # back past the ingest and prune the ingested data dirs —
            # destroying URLs whose source (e.g. a Kafka consumer that
            # committed its offsets on our return) will never redeliver.
            self._append_ledger(
                {
                    "round": next_round - 1,
                    "kind": "ingest",
                    "rows": int(n),
                    "snapshots": {
                        t: self.store.current_snapshot_id(t) for t in ALL_TABLES
                    },
                    "metrics": stats.__dict__,
                    "partition_lineage": [],
                }
            )
        rows.unpersist()
        self._unpersist_round()
        return n

    def _exclude_tombstoned(self, ready: DataFrame) -> DataFrame:
        """frontier ∖ popped, keyed (url_canon, retries). Tombstones
        since the last compaction are small — O(rounds_since × pops) —
        so under BROADCAST_TOMB_MAX the anti-join broadcasts them and
        the backlog side never shuffles."""
        n = self.store.count_rows("tomb")
        if n == 0:
            return ready
        from .schemas import TOMB

        tomb = self.store.read_or_empty("tomb", TOMB).select("url_canon", "retries")
        if n <= BROADCAST_TOMB_MAX:
            tomb = F.broadcast(tomb)
        return ready.join(tomb, on=["url_canon", "retries"], how="left_anti")

    def _vet_new_links(self, links: DataFrame, r: int, stats: RoundStats):
        """Canonicalize discovered links and vet them at DISCOVERY time:
        in-batch first-parent dedup → enqueued-set membership (exact
        left join; covers seen, queued, and every earlier discovery) →
        robots. Survivors are final frontier rows (vetted
        once, never re-vetted); dropped rows are never written at all.

        Returns ``(count_fn, survivors)``: calling ``count_fn()`` runs
        ONE aggregation over the marked frame and lands the counters in
        this round's stats (``deduped`` = in-batch dups + enqueued hits,
        ``robots_blocked``, ``new_links``). The engine defers it into
        the concurrent write families — it shares the marked frame's
        cached blocks with the frontier write, so deferring removes the
        whole vet materialization from the round's serial path."""
        canon = links.withColumn("url_canon", canonicalize_udf("url")).withColumn(
            "host", host_of(F.col("url_canon"))
        )
        # first parent wins, via map-side-combinable min_by (see
        # scheduler.dedup_batch for why this beats a row_number window);
        # a per-key count rides along so the raw-link total falls out of
        # the SAME materialization — the link-explode plan (which rescans
        # every fetched body) runs once, not once per counter.
        canon = canon.groupBy("url_canon").agg(
            F.min_by(
                F.struct(F.col("url"), F.col("parent"), F.col("host"), F.col("meta")),
                F.struct(F.col("parent"), F.col("url")),
            ).alias("_b"),
            F.count(F.lit(1)).alias("_c"),
        ).select(
            "url_canon",
            F.col("_b.url").alias("url"),
            F.col("_b.parent").alias("parent"),
            F.col("_b.host").alias("host"),
            F.col("_b.meta").alias("meta"),
            "_c",
        )
        # ONE materialization + ONE aggregation job carries every vet
        # counter: the enqueued-membership check MARKS dup rows (_enq)
        # instead of dropping them, robots MARKS blocked rows (_blk),
        # and raw/batch/dups/blocked/kept all fall out of the same agg
        # over the same persisted frame. (Round 2 ran three jobs here —
        # canon counts, blk counts, survivors count — each re-walking
        # part of the link-explode chain.)
        marked = self.enqueued.mark_unseen(canon, flag="_enq")
        robots_df = self.store.read_or_empty("robots", ROBOTS)
        marked = scheduler.robots_mark(marked, robots_df).persist()
        self._round_persists.append(marked)
        not_dup = ~F.col("_enq")

        def count_fn() -> None:
            c = marked.agg(
                F.sum("_c").alias("raw"),
                F.count(F.lit(1)).alias("batch"),
                F.count(F.when(F.col("_enq"), 1)).alias("enq"),
                F.count(F.when(not_dup & F.col("_blk"), 1)).alias("blocked"),
                F.count(F.when(not_dup & ~F.col("_blk"), 1)).alias("kept"),
            ).collect()[0]
            n_raw = int(c["raw"] or 0)
            n_batch = int(c["batch"])
            stats.deduped += (n_raw - n_batch) + int(c["enq"])
            stats.robots_blocked += int(c["blocked"])
            stats.new_links += int(c["kept"])  # == survivors, no extra job

        survivors = marked.filter(not_dup & ~F.col("_blk")).drop(
            "_blk", "_enq", "_c"
        )
        return count_fn, survivors.select(
            "url",
            "url_canon",
            "host",
            _priority_udf()(F.col("url_canon")).alias("priority"),
            F.lit(r + 1).cast("long").alias("exetime"),
            F.lit(0).cast("int").alias("retries"),
            F.lit(3).cast("int").alias("max_retries"),
            stage_col(F.col("url_canon")).alias("stage"),
            F.col("meta"),
            F.lit(r).cast("int").alias("round_added"),
            F.col("parent").alias("lineage"),
            F.pmod(F.xxhash64("url_canon"), F.lit(scheduler.N_SALT))
            .cast("int")
            .alias("salt"),
            F.lit(True).alias("vetted"),
        )

    def _write_round_outputs(
        self, r, stats, popped, items, api_items, images, frontier_delta,
        new_rows=None, sales=None, vet_count_fn=None,
    ) -> None:
        """Write all round outputs; every counter after the writes comes
        from parquet-footer metadata (manifest statistics), not from
        extra Spark count jobs. All frontier maintenance is incremental:
        a tombstone append for popped rows and a delta append for
        requeue+new rows.

        The four write families touch DISJOINT tables and read only this
        round's persisted caches, so they are submitted CONCURRENTLY
        from driver threads (standard Spark multi-job driver): the
        per-round fixed cost becomes max(families), not sum(jobs) — at
        toy round sizes the serialized scheduling latency of ~8 small
        write jobs was the single largest slice of the round (BENCH r2
        regression). Content is byte-identical: no family reads a table
        another family writes, and the round ledger is committed once,
        after every family has landed."""
        from concurrent.futures import ThreadPoolExecutor

        store = self.store

        def _timed(label: str, fn) -> None:
            t0 = time.perf_counter()
            fn()
            self.phase_times[label] = self.phase_times.get(label, 0.0) + (
                time.perf_counter() - t0
            )

        def work_seen_tomb() -> None:
            if popped is None:
                return
            first_pops = popped.filter(F.col("retries") == 0)
            self.seen.add(first_pops, r, assume_new=True)
            store.append(
                "tomb",
                popped.select("url_canon", "retries").withColumn(
                    "round", F.lit(r).cast("int")
                ),
            )

        def work_items() -> None:
            if items is not None:
                store.append("items", items.select(*[f.name for f in ITEMS.fields]))
                stats.items_emitted += store.last_append_rows("items")
            if api_items is not None:
                store.append(
                    "api_items", api_items.select(*[f.name for f in API_ITEMS.fields])
                )
                stats.items_emitted += store.last_append_rows("api_items")
            if sales is not None:
                from .schemas import SALES_ITEMS

                store.append(
                    "sales_items", sales.select(*[f.name for f in SALES_ITEMS.fields])
                )
                stats.items_emitted += store.last_append_rows("sales_items")

        def work_images() -> None:
            if images is None:
                return
            store.append("images", images.select(*[f.name for f in IMAGES.fields]))
            stats.images_landed = store.last_append_rows("images")
            # the band index is appended AFTER the corpus lookup inside,
            # so this round's images never match their own bands
            if stats.images_landed > 0:
                self._detect_near_dups(r)

        lineage: list[dict] = []

        def work_frontier() -> None:
            nonlocal lineage
            if frontier_delta is not None:
                store.append(
                    "frontier",
                    frontier_delta.select(*[f.name for f in FRONTIER.fields]),
                )
                lineage = self._partition_lineage(r)
            if new_rows is not None:
                # register this round's vetted discoveries in the
                # enqueued membership set (reads the delta cache, O(new))
                self.enqueued.add(new_rows, r, assume_new=True)

        families = [
            ("seen_tomb", work_seen_tomb),
            ("write_items", work_items),
            ("write_images", work_images),
            ("frontier_ckpt", work_frontier),
        ]
        if vet_count_fn is not None:
            # the vet counter agg rides the same concurrency: it reads
            # (or co-computes, under Spark's cache block locking) the
            # marked frame the frontier write materializes anyway
            families.append(("vet_counters", vet_count_fn))
        with ThreadPoolExecutor(max_workers=len(families)) as ex:
            futures = [ex.submit(_timed, lbl, fn) for lbl, fn in families]
            for f in futures:
                f.result()  # surface the first failure (resume prunes)

        # live backlog = appended rows minus pop tombstones, both from
        # parquet footers (tombstones match frontier rows 1:1)
        self.last_frontier_rows = store.count_rows("frontier") - store.count_rows("tomb")

        # one driver-held row — pyarrow write, no Spark job
        store.append_rows("metrics", [stats.__dict__], METRICS)

        self._checkpoint(r, stats, lineage)
        self._t_last = time.perf_counter()

    def _partition_lineage(self, r: int) -> list[dict]:
        """Per-write-partition row counts of THIS round's frontier delta
        (north rule: checkpoint carries per-partition lineage) — read
        from parquet footers, one entry per data file of the append."""
        return [
            {"round": r, "file": os.path.basename(f), "rows": int(n)}
            for f, n in self.store.last_append_file_rows("frontier")
        ]

    # ---------------------------------------------------------------- run
    def run(self, max_rounds: int = 10, resume: bool = False) -> list[RoundStats]:
        if resume:
            last = self.restore_to_ledger()
            if last is None:  # nothing ever committed — fresh start
                self.bootstrap()
                last = -1
            start = last + 1
        else:
            if self.last_completed_round() is not None:
                # bootstrap() only overwrites config/robots/frontier —
                # the old tomb/seen/enqueued state would silently
                # anti-join every new seed away (an empty "crawl" with
                # no error). Refuse rather than destroy or mislead.
                raise ValueError(
                    f"workdir {self.workdir!r} already holds a crawl ledger: "
                    "pass resume=True to continue it, or use a fresh workdir"
                )
            self.bootstrap()
            start = 0
        self.last_frontier_rows = self.store.count_rows(
            "frontier"
        ) - self.store.count_rows("tomb")
        all_stats = []
        for r in range(start, max_rounds):
            stats = self.run_round(r)
            all_stats.append(stats)
            if self.last_frontier_rows == 0:  # footer metadata, no job
                break
            if (r + 1) % COMPACT_EVERY == 0:
                self._compact(r)
        return all_stats

    def _compact(self, r: int) -> None:
        """Periodic state compaction, all content-equivalent (resume
        correctness unaffected; old dirs stay reachable from earlier
        snapshots until vacuum):

        - frontier: fold pop tombstones in (rewrite live rows only) and
          truncate ``tomb`` — bounds the anti-join side and the table's
          dead-row fraction to O(COMPACT_EVERY × pops).
        - fetch_cache: rewrite the live TTL window (newest row per key
          still fresh at round r+1) and truncate history — TTL filters
          prune *reads* via footer stats, but without this the table
          accumulates one data dir per round and expired rows forever.
        """
        from . import neardup
        from .schemas import FETCH_CACHE, TOMB

        if self.store.count_rows("tomb") > 0:
            tomb = self.store.read_or_empty("tomb", TOMB).select(
                "url_canon", "retries"
            )
            live = self.store.read_or_empty("frontier", FRONTIER).join(
                tomb, on=["url_canon", "retries"], how="left_anti"
            )
            self.store.overwrite(
                "frontier", live.select(*[f.name for f in FRONTIER.fields])
            )
            self.store.overwrite("tomb", self.spark.createDataFrame([], TOMB))

        if (
            self.fetch_cache_ttl_rounds is not None
            and self.store.count_rows("fetch_cache") > 0
        ):
            fresh = self.store.read_or_empty("fetch_cache", FETCH_CACHE).filter(
                F.col("cached_round") >= (r + 1) - self.fetch_cache_ttl_rounds
            )
            entry = F.struct(
                "status", "body", "out_links", "image_refs", "cached_round"
            )
            live = fresh.groupBy("url_canon").agg(
                F.max_by(entry, F.col("cached_round")).alias("_c")
            ).select(
                "url_canon",
                *[F.col(f"_c.{c}").alias(c) for c in (
                    "status", "body", "out_links", "image_refs", "cached_round"
                )],
            )
            self.store.overwrite(
                "fetch_cache", live.select(*[f.name for f in FETCH_CACHE.fields])
            )

        # band-index blobs: rebuild one right-sized blob per partition
        # (also resolves any saturation accumulated from round appends)
        if self.store.count_rows("image_bands") > 0:
            nb, bb = self.neardup_geometry
            neardup.BandIndex(self.store, n_bands=nb, band_bits=bb).compact(r)
