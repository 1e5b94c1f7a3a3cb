"""Output checks, made apart from the program.

Every check is a pure function over plain Python values (lists of
per-round counters, sets of rows, row counts), so ``selftest.py`` can
feed each one a deliberately altered output and show that it rejects
it. Each returns a list of error strings; empty means the output passed.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from tests.oracle_sim import OracleEngine, scheduler_quantum

from pyspider_spark import synth

COUNTER_KEYS = (
    "round", "popped", "fetched_ok", "failed", "retried", "captcha_requeued",
    "deduped", "deferred_politeness", "robots_blocked", "new_links",
    "items_emitted", "images_landed",
)


@dataclass
class IndexedOracle(OracleEngine):
    """``tests.oracle_sim.OracleEngine`` with its per-lookup scans of every
    config and robots row replaced by dicts built once. The lookups
    return exactly what the scans return: first config row per host,
    largest positive crawl-delay per host, any disallowed prefix."""

    def __post_init__(self) -> None:
        self._concurrency: dict[str, int] = {}
        for c in synth.config_rows(self.spec):
            self._concurrency.setdefault(c["host"], c["concurrency"])
        self._max_delay: dict[str, float] = {}
        self._disallow: dict[str, list[str]] = {}
        for r in synth.robots_rows(self.spec):
            d = r["crawl_delay_s"]
            if d is not None and d > 0:
                self._max_delay[r["host"]] = max(d, self._max_delay.get(r["host"], d))
            if not r["allow"]:
                self._disallow.setdefault(r["host"], []).append(r["path_prefix"])

    def _budget(self, host: str) -> int:
        b = self._concurrency.get(host, 20)
        if host in self._max_delay:
            b = min(b, int(scheduler_quantum() // self._max_delay[host]))
        return b

    def _disallowed(self, host: str, path: str) -> bool:
        return any(path.startswith(p) for p in self._disallow.get(host, ()))


def run_oracle(spec, rounds: int) -> tuple[IndexedOracle, int]:
    """Replay ``rounds`` rounds; returns the oracle and its vetted seed
    count (frontier size right after bootstrap). Stops early, like
    ``CrawlEngine.run``, once the frontier is empty."""
    o = IndexedOracle(spec)
    o.bootstrap()
    vetted_seeds = len(o.frontier)
    for r in range(rounds):
        o.run_round(r)
        if not o.frontier:
            break
    return o, vetted_seeds


def digest(rows) -> str:
    """Order-independent digest of a collection of rows (each a value or
    a tuple): sha256 over the sorted reprs."""
    h = hashlib.sha256()
    for s in sorted(repr(r) for r in rows):
        h.update(s.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def check_counters(engine_rounds: list[dict], oracle_rounds: dict[int, dict]) -> list[str]:
    errors = []
    if [m["round"] for m in engine_rounds] != sorted(oracle_rounds):
        errors.append(
            f"rounds run: engine {[m['round'] for m in engine_rounds]} "
            f"!= oracle {sorted(oracle_rounds)}"
        )
    for m in engine_rounds:
        want = oracle_rounds.get(m["round"])
        if want is None:
            continue
        diff = {k: (m.get(k), want.get(k)) for k in COUNTER_KEYS if m.get(k) != want.get(k)}
        if diff:
            errors.append(f"round {m['round']} counters (engine, oracle): {diff}")
    return errors


def check_digests(engine_sets: dict[str, list], oracle_sets: dict[str, list]) -> list[str]:
    errors = []
    for name in sorted(oracle_sets):
        got, want = engine_sets.get(name, []), oracle_sets[name]
        if len(got) != len(want) or digest(got) != digest(want):
            errors.append(
                f"{name}: {len(got)} engine rows, digest {digest(got)[:12]} != "
                f"{len(want)} oracle rows, digest {digest(want)[:12]}"
            )
    return errors


def check_conservation(live_rows: int, vetted_seeds: int, engine_rounds: list[dict]) -> list[str]:
    """Live frontier (footer rows of frontier minus tomb) against the
    flow it must equal: seeds in, plus new links and requeues, minus pops."""
    flow = vetted_seeds + sum(
        m["new_links"] + m["retried"] + m["captcha_requeued"] - m["popped"]
        for m in engine_rounds
    )
    if live_rows != flow:
        return [f"conservation: live frontier {live_rows} != seeds+links+requeues-pops {flow}"]
    return []
