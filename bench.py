#!/usr/bin/env python
"""Benchmark driver: headline operators at $SPARK_GRAFT_SF_DIR plus the
crawl round-loop throughput (the BASELINE.json metric: URLs
scheduled+fetched per second over the synthetic frontier).

Prints exactly ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "cpus": N, "crawl": {"urls": N, "seconds": s, "urls_per_sec": r}}

Scaling-efficiency evidence (same job at local[8] vs local[32]) is
produced by scripts/scaling_bench.py and recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspider_spark.session import default_parallelism  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_parallelism()
CRAWL_ROUNDS = int(os.environ.get("SPARK_GRAFT_CRAWL_ROUNDS", "4"))

# Headline operators: the crawl-shaped SQL operators + the training-data
# pipeline ops that matter at scale (pairwise-quadratic demos excluded).
HEADLINE = [
    "a1_pricing_summary",
    "q2_priority_pop",
    "q3_global_budget",
    "j1_broadcast_enrich",
    "j2_cache_aside",
    "p1_json_extract",
    "t_quality_score",
    "t_langid",
    "d_exact_dedup",
    "d_minhash_sig",
    "d_minhash_pairs",
    "d_dedup_clusters",  # r5: pairs → connected components → survivors
    "d_simhash_sig",
    "s_dot_topk",
    "s_cosine_topk",     # r5: Arrow-matmul brute force (recall ground truth)
    "s_ann_lsh",
    "s_ann_ivf",
    "m_image_pipeline",
    "m_audio_pipeline",  # r5: real WAV decode + features
    "m_video_pipeline",  # r5: real uncompressed-AVI decode + frame sampling
]


def crawl_spec():
    """Sized so per-round work amortizes the fixed per-round job cost
    (the regime a 10^10-URL frontier lives in): ~13k pops/round."""
    from pyspider_spark.synth import GraphSpec

    return GraphSpec(
        n_hosts=1024,
        chains_per_host=6,
        max_pages_per_chain=8,
        details_per_list=6,
        api_pages_per_chain=3,
        images_per_list=2,
        seed_tag="bench1",
    )


def run_crawl(spark, rounds: int) -> dict:
    from pyspider_spark.loop import CrawlEngine
    from pyspider_spark.schemas import METRICS

    wd = tempfile.mkdtemp(prefix="bench_crawl_")
    eng = CrawlEngine(spark, wd, crawl_spec(), n_seen_partitions=CPUS)
    t0 = time.perf_counter()
    stats = eng.run(max_rounds=rounds)
    dt = time.perf_counter() - t0
    m = eng.store.read_or_empty("metrics", METRICS)
    agg = m.groupBy().sum("popped", "fetched_ok", "new_links").collect()[0]
    urls = int(agg["sum(popped)"])
    return {
        "rounds": len(stats),
        "urls_scheduled_fetched": urls,
        "fetched_ok": int(agg["sum(fetched_ok)"]),
        "new_links": int(agg["sum(new_links)"]),
        "seconds": round(dt, 3),
        "urls_per_sec": round(urls / dt, 2),
        # per-phase attribution (engine _mark instrumentation): lets a
        # bench regression be pinned to pop/fetch/parse/write phases
        # without a rerun under a profiler
        "phase_seconds": {k: round(v, 2) for k, v in eng.phase_times.items()},
    }


def main() -> None:
    from pyspider_spark import queries as Q
    from pyspider_spark.session import get_spark

    spark = get_spark("bench", cores=CPUS)
    # warm the JVM + Arrow paths so query timings measure the plan, not init
    spark.range(1000).count()

    times: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        Q.REGISTRY[name].fn(spark, SF_DIR).count()
        times[name] = round(time.perf_counter() - t0, 3)
        # drop frames the query persisted internally: leaked cache
        # blocks otherwise accumulate across queries and contend with
        # the crawl loop's own caches (block-manager memory + GC)
        spark.catalog.clearCache()

    t0 = time.perf_counter()
    crawl = run_crawl(spark, CRAWL_ROUNDS)
    times["crawl_roundloop"] = round(time.perf_counter() - t0, 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "total_bench_seconds",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
        "cpus": CPUS,
        "crawl": crawl,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
