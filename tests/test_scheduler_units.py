"""Unit tests for the frontier scheduler: pop order, budgets, robots,
skew fixture, batch dedup selection, fetch-outcome split.

Pops go through the engine's path (``loop.run_round``): per-host
``popped_via_thresholds``, then ``apply_global_budget`` when a global
budget is set. Each pop case runs once with no salted host and once
with its busiest host salted; deferral is ``candidates − popped``, the
way the engine counts it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspider_spark import scheduler
from pyspider_spark.schemas import CONFIG, ROBOTS


def frontier_rows(spark, rows):
    """rows: (url_canon, host, priority, exetime) with defaults."""
    data = [
        {
            "url": u, "url_canon": u, "host": h, "priority": p, "exetime": e,
            "retries": 0, "max_retries": 3, "stage": "list", "meta": None,
            "round_added": 0, "lineage": None, "salt": 0, "vetted": False,
        }
        for (u, h, p, e) in rows
    ]
    from pyspider_spark.schemas import FRONTIER

    return spark.createDataFrame(data, FRONTIER)


def engine_pop(df, config, big_hosts, global_budget=None):
    """The engine's pop decision over ``df`` (loop.run_round)."""
    popped = scheduler.popped_via_thresholds(df, config, big_hosts=big_hosts)
    if global_budget is None:
        return popped
    capped = scheduler.apply_global_budget(
        popped.withColumn("_pop", F.lit(True)), global_budget
    )
    return capped.filter(F.col("_pop")).drop("_pop")


def count_by_host(df) -> dict:
    return {r["host"]: r["count"] for r in df.groupBy("host").count().collect()}


def deferred_by_host(df, popped) -> dict:
    """candidates − popped per host, zero entries dropped."""
    left = count_by_host(df)
    for h, n in count_by_host(popped).items():
        left[h] -= n
    return {h: n for h, n in left.items() if n}


def test_pop_order_and_budget(spark):
    rows = [
        (f"https://h1/u{i}", "h1", prio, exe)
        for i, (prio, exe) in enumerate([(5, 0), (5, 1), (9, 2), (1, 0), (9, 0)])
    ]
    df = frontier_rows(spark, rows)
    config = spark.createDataFrame(
        [{"host": "h1", "concurrency": 3, "delay_s": 0.0, "timeout_s": 1.0,
          "max_retries": 3, "pop_budget": 100}], CONFIG
    )
    for big_hosts in ([], ["h1"]):
        popped = engine_pop(df, config, big_hosts)
        got = sorted(r.url_canon for r in popped.collect())
        # order: prio 9/exe 0 (u4), prio 9/exe 2 (u2), prio 5/exe 0 (u0); budget 3
        assert got == ["https://h1/u0", "https://h1/u2", "https://h1/u4"]
        deferred = {r.url_canon for r in df.collect()} - set(got)
        assert deferred == {"https://h1/u1", "https://h1/u3"}


def test_global_budget_cap(spark):
    rows = [(f"https://h{i}/u", f"h{i}", 5, 0) for i in range(10)]
    df = frontier_rows(spark, rows)
    config = spark.createDataFrame([], CONFIG)
    for big_hosts in ([], ["h0"]):
        popped = engine_pop(df, config, big_hosts, global_budget=4)
        assert popped.count() == 4
        assert df.count() - popped.count() == 6
        # global order is the north-rule total order → lexicographically first hosts
        got = sorted(r.host for r in popped.collect())
        assert got == ["h0", "h1", "h2", "h3"]


def test_skewed_host_capped(spark):
    """90% of URLs on one host: the giant host still yields exactly its
    budget; small hosts are unaffected (Q14 skew fixture)."""
    rows = [(f"https://big/u{i:04d}", "big", i % 10, 0) for i in range(900)]
    rows += [(f"https://small{i}/u", f"small{i}", 5, 0) for i in range(10)]
    df = frontier_rows(spark, rows)
    config = spark.createDataFrame([], CONFIG)  # default budget 20
    for big_hosts in ([], ["big"]):
        popped = engine_pop(df, config, big_hosts)
        by_host = count_by_host(popped)
        assert by_host["big"] == scheduler.DEFAULT_BUDGET
        assert all(by_host[f"small{i}"] == 1 for i in range(10))
        # and the budget picks the BEST of the giant host, not an arbitrary slice
        best = [r.url_canon for r in popped.filter("host='big'").collect()]
        assert all(int(u[-4:]) % 10 == 9 for u in best)


def test_robots_filter(spark):
    rows = [
        ("https://h1/private/1", "h1", 5, 0),
        ("https://h1/public/1", "h1", 5, 0),
        ("https://h2/private/1", "h2", 5, 0),
    ]
    df = frontier_rows(spark, rows)
    robots = spark.createDataFrame(
        [{"host": "h1", "path_prefix": "/private/", "allow": False, "crawl_delay_s": None}],
        ROBOTS,
    )
    marked = {r.url_canon: r._blk for r in scheduler.robots_mark(df, robots).collect()}
    assert {u for u, blk in marked.items() if blk} == {"https://h1/private/1"}
    assert {u for u, blk in marked.items() if not blk} == {
        "https://h1/public/1",
        "https://h2/private/1",  # h2 has no rule
    }


def test_crawl_delay_caps_budget(spark):
    """Q15 crawl-delay: a host whose robots rule carries crawl_delay_s
    pops at most floor(ROUND_QUANTUM_S / delay) rows per round even
    when config.concurrency allows more; undelayed hosts keep their
    full budget; rows left behind are deferred, not dropped."""
    rows = [(f"https://slow/u{i}", "slow", 5, 0) for i in range(10)]
    rows += [(f"https://fast/u{i}", "fast", 5, 0) for i in range(10)]
    df = frontier_rows(spark, rows)
    mk_cfg = lambda h: {
        "host": h, "concurrency": 8, "delay_s": 0.0, "timeout_s": 1.0,
        "max_retries": 3, "pop_budget": 100,
    }
    config = spark.createDataFrame([mk_cfg("slow"), mk_cfg("fast")], CONFIG)
    robots = spark.createDataFrame(
        [
            # two rules on the delayed host: the MAX delay wins (20s →
            # floor(60/20) = 3), and a delay-free rule must not reset it
            {"host": "slow", "path_prefix": "/private/", "allow": False,
             "crawl_delay_s": 20.0},
            {"host": "slow", "path_prefix": "/tmp/", "allow": False,
             "crawl_delay_s": 5.0},
            {"host": "fast", "path_prefix": "/private/", "allow": False,
             "crawl_delay_s": None},
        ],
        ROBOTS,
    )
    eff = scheduler.effective_config(config, robots)
    for big_hosts in ([], ["slow"]):
        popped = engine_pop(df, eff, big_hosts)
        assert count_by_host(popped) == {"slow": 3, "fast": 8}
        assert deferred_by_host(df, popped) == {"slow": 7, "fast": 2}


def test_zero_crawl_delay_means_no_delay_in_engine_and_oracle(spark):
    """Degenerate input (ADVICE r4): crawl_delay_s == 0.0 used to leave
    the engine budget uncapped via floor(60/0.0)=inf while the oracle
    raised ZeroDivisionError — now BOTH treat delay <= 0 as 'no delay'
    and keep the full configured budget."""
    rows = [(f"https://zero/u{i}", "zero", 5, 0) for i in range(10)]
    df = frontier_rows(spark, rows)
    config = spark.createDataFrame(
        [{"host": "zero", "concurrency": 8, "delay_s": 0.0, "timeout_s": 1.0,
          "max_retries": 3, "pop_budget": 100}],
        CONFIG,
    )
    robots = spark.createDataFrame(
        [{"host": "zero", "path_prefix": "/private/", "allow": False,
          "crawl_delay_s": 0.0},
         {"host": "zero", "path_prefix": "/tmp/", "allow": False,
          "crawl_delay_s": -1.0}],
        ROBOTS,
    )
    eff = scheduler.effective_config(config, robots)
    assert eff.collect()[0]["concurrency"] == 8
    for big_hosts in ([], ["zero"]):
        popped = engine_pop(df, eff, big_hosts)
        assert popped.count() == 8 and df.count() - popped.count() == 2
    # oracle side: same spec shape must not raise and must agree
    from pyspider_spark.synth import GraphSpec, config_rows
    from tests.oracle_sim import OracleEngine

    spec = GraphSpec(crawl_delay_host0=0.0)
    o = OracleEngine(spec)
    cfg_budget = next(
        c["concurrency"] for c in config_rows(spec) if c["host"] == spec.host(0)
    )
    assert o._budget(spec.host(0)) == cfg_budget


def test_round_quantum_matches_oracle():
    """The oracle restates the quantum literally (no Spark import);
    pin the two constants together."""
    from tests.oracle_sim import scheduler_quantum

    assert scheduler_quantum() == scheduler.ROUND_QUANTUM_S


def test_dedup_batch_keeps_best(spark):
    from pyspider_spark.schemas import FRONTIER

    mk = lambda url, prio, exe, retries, rnd: {
        "url": url, "url_canon": "https://h/u", "host": "h", "priority": prio,
        "exetime": exe, "retries": retries, "max_retries": 3, "stage": "list",
        "meta": None, "round_added": rnd, "lineage": None, "salt": 0, "vetted": False,
    }
    df = spark.createDataFrame(
        [mk("a", 5, 3, 0, 2), mk("b", 9, 5, 0, 1), mk("c", 9, 2, 0, 3)], FRONTIER
    )
    out = scheduler.dedup_batch(df).collect()
    assert len(out) == 1
    assert out[0].url == "c"  # priority 9 beats 5; exetime 2 beats 5


def test_dedup_batch_int_min_priority(spark):
    """A user-supplied frontier row with priority/retries = INT_MIN must
    not corrupt the dedup order: the min_by key negates through long
    (the _pop_key pattern), so -INT_MIN cannot wrap negative."""
    from pyspider_spark.schemas import FRONTIER

    INT_MIN = -(2**31)
    mk = lambda url, prio, retries: {
        "url": url, "url_canon": "https://h/u", "host": "h", "priority": prio,
        "exetime": 0, "retries": retries, "max_retries": 3, "stage": "list",
        "meta": None, "round_added": 0, "lineage": None, "salt": 0, "vetted": False,
    }
    # INT_MIN priority must LOSE to priority 1 (an int negation would
    # wrap -INT_MIN to INT_MIN, making it sort as the best key)
    df = spark.createDataFrame([mk("worst", INT_MIN, 0), mk("best", 1, 0)], FRONTIER)
    out = scheduler.dedup_batch(df).collect()
    assert len(out) == 1 and out[0].url == "best"
    # same hazard on the retries tiebreak: INT_MIN retries must lose
    # to an in-flight retry (retries desc order)
    df2 = spark.createDataFrame([mk("fresh", 5, INT_MIN), mk("retry", 5, 1)], FRONTIER)
    out2 = scheduler.dedup_batch(df2).collect()
    assert len(out2) == 1 and out2[0].url == "retry"


def test_split_fetch_outcomes(spark):
    from pyspider_spark.schemas import FETCH_RESULTS

    mk = lambda u, status, body, retries: {
        "url_canon": u, "host": "h", "stage": "list", "priority": 0, "exetime": 0,
        "retries": retries, "max_retries": 3, "meta": None, "status": status,
        "body": body, "out_links": [], "image_refs": [],
    }
    df = spark.createDataFrame(
        [
            mk("ok", 200, "<html/>", 0),
            mk("fail-retryable", 500, "", 0),
            mk("fail-exhausted", 500, "", 2),
            mk("captcha", 200, "x captchacharacters y", 1),
        ],
        FETCH_RESULTS,
    )
    ok, requeue, exhausted = scheduler.split_fetch_outcomes(df, "captchacharacters")
    assert {r.url_canon for r in ok.collect()} == {"ok"}
    rq = {r.url_canon: r.retries for r in requeue.collect()}
    assert rq == {"fail-retryable": 1, "captcha": 2}
    assert {r.url_canon for r in exhausted.collect()} == {"fail-exhausted"}


def test_popped_via_thresholds_matches_rank_for_pop(spark):
    """The slim-rank + per-host-threshold pop path must return exactly
    the rows the single exact per-host window flags _pop — across small
    hosts, a salted big host, a host with fewer rows than its budget,
    and a budget-0 host (which must pop nothing)."""
    import random

    rng = random.Random(7)
    rows = []
    # small hosts, fewer rows than budget for h0
    for i in range(3):
        rows.append((f"https://h0/u{i}", "h0", rng.randrange(100), 0))
    for h in ("h1", "h2", "h3"):
        for i in range(40):
            rows.append((f"https://{h}/u{i}", h, rng.randrange(100), 0))
    # zero-budget host
    for i in range(5):
        rows.append((f"https://hz/u{i}", "hz", rng.randrange(100), 0))
    # 'big' host routed through the salted path
    for i in range(200):
        rows.append((f"https://big/u{i}", "big", rng.randrange(100), 0))
    df = frontier_rows(spark, rows)
    config = spark.createDataFrame(
        [
            {"host": "hz", "concurrency": 0, "delay_s": 0.0, "timeout_s": 1.0,
             "max_retries": 3, "pop_budget": 100},
            {"host": "h1", "concurrency": 7, "delay_s": 0.0, "timeout_s": 1.0,
             "max_retries": 3, "pop_budget": 100},
        ],
        CONFIG,
    )
    want = sorted(
        r.url_canon
        for r in scheduler.rank_for_pop(df, config, salted=False)
        .filter(F.col("_pop"))
        .collect()
    )
    for big_hosts in ([], ["big"]):
        got_rows = scheduler.popped_via_thresholds(
            df, config, big_hosts=big_hosts
        ).collect()
        got = sorted(r.url_canon for r in got_rows)
        assert got == want and len(got) > 0
        # full-width rows survive intact
        assert set(got_rows[0].asDict()) == set(df.columns)
    assert not any(u.startswith("https://hz/") for u in got)


def test_global_budget_zero_pops_nothing(spark):
    """budget=0 must cap to zero rows, not fall through the None
    threshold (which means 'no qualifying rows') and pop everything."""
    from pyspider_spark import scheduler

    ranked = spark.createDataFrame(
        [("https://h/a", "h", 5, 0, True), ("https://h/b", "h", 4, 0, True)],
        "url_canon string, host string, priority int, exetime long, _pop boolean",
    )
    out = scheduler.apply_global_budget(ranked, 0)
    assert out.filter("_pop").count() == 0


def test_global_budget_int_min_priority(spark):
    """INT_MIN priority negates through long in the threshold probe —
    the same overflow _pop_key/dedup_batch already guard."""
    from pyspider_spark import scheduler

    rows = [
        ("https://h/best", "h", 2**31 - 1, 0, True),
        ("https://h/worst", "h", -(2**31), 0, True),
    ]
    ranked = spark.createDataFrame(
        rows,
        "url_canon string, host string, priority int, exetime long, _pop boolean",
    )
    out = scheduler.apply_global_budget(ranked, 1)
    popped = [r.url_canon for r in out.filter("_pop").collect()]
    assert popped == ["https://h/best"]


def test_robots_overlapping_prefixes_single_row(spark):
    """A URL under two overlapping disallow rules must mark ONE row
    (a rule-join would duplicate it, inflating blocked/deduped counters)."""
    from pyspider_spark import scheduler
    from pyspider_spark.schemas import ROBOTS

    ready = spark.createDataFrame(
        [("https://h/private/x", "h"), ("https://h/pub", "h")],
        "url_canon string, host string",
    )
    robots = spark.createDataFrame(
        [("h", "/priv", False, None), ("h", "/private/", False, None)], ROBOTS
    )
    marked = scheduler.robots_mark(ready, robots)
    assert marked.count() == 2
    got = {r.url_canon: r._blk for r in marked.collect()}
    assert got == {"https://h/private/x": True, "https://h/pub": False}
