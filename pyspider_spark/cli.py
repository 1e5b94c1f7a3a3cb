"""CLI for the crawl engine — the ``spark-submit --py-files`` entry.

On a cluster:

    zip -r pyspider_spark.zip pyspider_spark
    spark-submit --py-files pyspider_spark.zip scripts/run_crawl.py \
        --workdir hdfs://.../crawl1 --rounds 10 --hosts 1024

Locally (this sandbox):

    python -m pyspider_spark crawl --workdir /tmp/crawl1 --rounds 5

Only ``master``/memory differ between the two — the engine itself is
partitioning-aware DataFrame code with no local-mode assumptions.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pyspider_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="run the batch-iterative crawl loop")
    c.add_argument("--workdir", required=True, help="table-store root (local or DFS path)")
    c.add_argument("--rounds", type=int, default=10)
    c.add_argument("--resume", action="store_true", help="resume from the round ledger")
    c.add_argument("--hosts", type=int, default=64)
    c.add_argument("--chains", type=int, default=6)
    c.add_argument("--max-pages", type=int, default=8)
    c.add_argument("--seed-tag", default="cli1")
    c.add_argument("--cores", type=int, default=None, help="local[N] cores (ignored under spark-submit)")
    c.add_argument("--global-budget", type=int, default=None)

    v = sub.add_parser("vacuum", help="drop unreachable snapshots/data dirs")
    v.add_argument("--workdir", required=True)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    from .loop import ALL_TABLES, CrawlEngine
    from .session import get_spark
    from .synth import GraphSpec
    from .tables import TableStore

    active = SparkSession.getActiveSession()
    spark = active if active is not None else get_spark("pyspider-spark-cli", cores=args.cores if args.cmd == "crawl" else None)

    if args.cmd == "vacuum":
        store = TableStore(spark, args.workdir)
        for t in ALL_TABLES:
            store.vacuum(t)
        print(json.dumps({"vacuumed": ALL_TABLES}))
        return 0

    spec = GraphSpec(
        n_hosts=args.hosts,
        chains_per_host=args.chains,
        max_pages_per_chain=args.max_pages,
        seed_tag=args.seed_tag,
    )
    eng = CrawlEngine(
        spark,
        args.workdir,
        spec,
        global_budget=args.global_budget,
    )
    stats = eng.run(max_rounds=args.rounds, resume=args.resume)
    print(json.dumps({"rounds": [s.__dict__ for s in stats]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
