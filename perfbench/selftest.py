#!/usr/bin/env python3
"""Self-test of the benchmark's output checks (no Spark needed).

    python3 perfbench/selftest.py

1. The indexed oracle the checks use replays exactly what the reference
   ``tests.oracle_sim.OracleEngine`` does (counters, pop order, sets) on
   the default graph and on the wide and deep shapes at a small size.
2. Each check passes an unaltered output and rejects a deliberately
   altered one: a shifted counter, a missing round, a dropped seen URL,
   a changed item field, a duplicated sales row, an off-by-one live
   frontier.

Exits 0 when every case behaves, 1 otherwise.
"""

from __future__ import annotations

import copy
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks  # noqa: E402
from pyspider_spark.synth import GraphSpec  # noqa: E402
from tests.oracle_sim import OracleEngine  # noqa: E402

ROUNDS = 4


def _oracle_equivalence() -> list[str]:
    errors = []
    for spec in (
        GraphSpec(),
        GraphSpec(n_hosts=24, chains_per_host=2, seed_tag="selftest-wide"),
        GraphSpec(n_hosts=3, chains_per_host=12, crawl_delay_host0=20.0,
                  seed_tag="selftest-deep"),
    ):
        ref = OracleEngine(spec)
        ref.run(max_rounds=ROUNDS)
        fast, _ = checks.run_oracle(spec, ROUNDS)
        for attr in ("metrics", "pop_sequences", "seen", "items", "api_items",
                     "sales_items", "image_ids"):
            if getattr(ref, attr) != getattr(fast, attr):
                errors.append(f"indexed oracle differs from OracleEngine on {attr} ({spec.seed_tag})")
    return errors


def main() -> int:
    failures = _oracle_equivalence()
    spec = GraphSpec(n_hosts=3, chains_per_host=3, crawl_delay_host0=20.0,
                     seed_tag="selftest")
    oracle, seeds = checks.run_oracle(spec, ROUNDS)
    rounds = [dict(oracle.metrics[r]) for r in sorted(oracle.metrics)]
    sets = {
        "seen": list(oracle.seen),
        "items": list(oracle.items),
        "api_items": list(oracle.api_items),
        "sales_items": list(oracle.sales_items),
    }
    live = len(oracle.frontier)

    def shifted_counter():
        r = copy.deepcopy(rounds)
        r[1]["popped"] += 1
        return checks.check_counters(r, oracle.metrics)

    def missing_round():
        return checks.check_counters(copy.deepcopy(rounds[:-1]), oracle.metrics)

    def altered(name, fn):
        s = copy.deepcopy(sets)
        s[name] = fn(s[name])
        return checks.check_digests(s, sets)

    def change_item(items):
        row = list(items[0])
        row[2] = row[2] + " "
        return [tuple(row)] + items[1:]

    cases = {
        # (check output, should it pass?)
        "unaltered counters": (checks.check_counters(rounds, oracle.metrics), True),
        "unaltered sets": (checks.check_digests(copy.deepcopy(sets), sets), True),
        "unaltered conservation": (checks.check_conservation(live, seeds, rounds), True),
        "shifted counter": (shifted_counter(), False),
        "missing round": (missing_round(), False),
        "dropped seen URL": (altered("seen", lambda v: sorted(v)[1:]), False),
        "changed item field": (altered("items", change_item), False),
        "duplicated sales row": (altered("sales_items", lambda v: v + v[:1]), False),
        "live frontier off by one": (checks.check_conservation(live + 1, seeds, rounds), False),
        "requeue counter shifted": (
            checks.check_conservation(
                live, seeds, [dict(m, retried=m["retried"] + (m["round"] == 0)) for m in rounds]
            ),
            False,
        ),
    }
    for name, (errors, should_pass) in cases.items():
        ok = (not errors) == should_pass
        verdict = "ok  " if ok else "FAIL"
        detail = errors[0] if errors else "passed"
        print(f"{verdict} {name:28s} -> {detail}")
        if not ok:
            failures.append(name)
    for f in failures:
        print(f"FAILED: {f}")
    print(f"selftest: {len(cases)} cases, oracle equivalence on 3 specs, "
          f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
