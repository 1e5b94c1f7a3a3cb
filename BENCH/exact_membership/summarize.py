"""Fold the interleaved parent/change runs in ab_untraced.jsonl into
per-workload medians, the parent's quartile spread and pair wins.

Each line is ``{"side": "parent"|"change", "wl": ..., "seed": N,
"res": <last stdout line of perfbench/run.py --trace 0>}``.

    python3 BENCH/exact_membership/summarize.py [path/to/ab_untraced.jsonl]

With no argument it reads the file next to this script.
"""

import json
import os
import statistics as st
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "ab_untraced.jsonl")
with open(path) as f:
    rows = [json.loads(line) for line in f]
for wl in ("crawl_deep", "crawl_wide"):
    by = {}
    for d in rows:
        if d["wl"] == wl:
            by.setdefault(d["seed"], {})[d["side"]] = d["res"]
    pairs = [v for _, v in sorted(by.items()) if len(v) == 2]
    ok = all(v[k]["correct"] and v[k]["failed"] == 0 for v in pairs for k in v)
    print(wl, len(pairs), "pairs; all checks passed, 0 failed:", ok)
    for met, better in (("round_s", -1), ("crawl_urls_per_s", 1), ("setup_s", -1)):
        p = [v["parent"]["metrics"][met]["value"] for v in pairs]
        c = [v["change"]["metrics"][met]["value"] for v in pairs]
        wins = sum((cc - pp) * better > 0 for pp, cc in zip(p, c))
        q = st.quantiles(p, n=4)
        print(f"  {met}: parent median {st.median(p):.2f} (IQR {q[2] - q[0]:.2f})"
              f" | change median {st.median(c):.2f} | change wins {wins}/{len(p)}"
              f" | {100 * (st.median(c) / st.median(p) - 1):+.1f}%")
