#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 35 --trace 0

Runs one workload against the package in the checkout that holds this
directory and prints, as its last stdout line, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics of a separate traced
run. Progress and the per-round table go to stderr. ``--workload all``
runs every workload in turn, each in a process of its own, and prints
one JSON line per workload.

Everything the run writes lives under ``<checkout>/.perfbench/``: a
per-run work directory (tables, Spark scratch, event log; removed at
exit), ``results.jsonl`` (one line per finished run) and the traced
run's span files.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pyspider_spark")):
        print(
            f"perfbench: no pyspider_spark package next to {HERE}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads

    if args.workload == "all":
        # one process per workload, so each set-up is cold
        rc = 0
        for name in workloads.WORKLOADS:
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace)]
            rc = max(rc, subprocess.run(cmd).returncode)
        return rc
    if args.workload not in workloads.WORKLOADS:
        print(
            f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(workloads.WORKLOADS)} or 'all'",
            file=sys.stderr,
        )
        return 2
    result = harness.run_workload(
        workloads.WORKLOADS[args.workload], seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace),
    )
    print(json.dumps(result, sort_keys=True), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
