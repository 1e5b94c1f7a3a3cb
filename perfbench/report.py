#!/usr/bin/env python3
"""Summarize this checkout's finished runs (``.perfbench/results.jsonl``).

    python3 perfbench/report.py

Per workload and metric of the untraced runs: the run count, the median,
the quartiles and the quartile spread as a share of the median, taken as
``statistics.quantiles(values, n=4)`` gives them; plus the attempted and
failed operation totals and whether every run passed its checks.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import RESULTS  # noqa: E402


def main() -> int:
    if not os.path.exists(RESULTS):
        print(f"no results yet ({RESULTS})")
        return 1
    runs: dict[str, list[dict]] = {}
    with open(RESULTS) as f:
        for line in f:
            r = json.loads(line)
            if not r.get("trace"):
                runs.setdefault(r["workload"], []).append(r)
    for wl, rs in sorted(runs.items()):
        ok = all(r["correct"] for r in rs)
        print(f"{wl}: {len(rs)} runs, seeds {sorted({r['seed'] for r in rs})}, "
              f"attempted {sum(r['attempted'] for r in rs)}, "
              f"failed {sum(r['failed'] for r in rs)}, all correct: {ok}")
        for name in sorted(rs[0]["metrics"]):
            vals = [r["metrics"][name]["value"] for r in rs]
            unit = rs[0]["metrics"][name]["unit"]
            med = statistics.median(vals)
            if len(vals) >= 2:
                q1, _, q3 = statistics.quantiles(vals, n=4)
                spread = f"q1 {q1:10.4f}  q3 {q3:10.4f}  spread {(q3 - q1) / med:6.3f}"
            else:
                spread = ""
            print(f"  {name:18s} {unit:5s} median {med:10.4f}  {spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
