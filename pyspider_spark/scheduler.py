"""Frontier scheduler: priority+age pop with politeness + robots + skew kill.

Pop ordering contract (north rule; classic-pyspider order — the
reference's FIFO asyncio.Queue, reference common/spider.py:45,217-243, is
the degenerate case priority=const):

    ORDER BY priority DESC, exetime ASC, url_canon ASC

applied twice: per-host (politeness budget = config.concurrency, the
reference's semaphore bound, common/spider.py:44,138) and globally
(pop_budget, the reference's ``spop count=1000`` batch,
spiders/amazon/crawl_goods_list.py:44). Rows over budget are deferred:
``exetime = round + 1`` (the reference's ``asyncio.sleep(delay)``
politeness, common/spider.py:152, re-expressed as time-shift columns).

Skew: the per-host window shuffles on host alone; one giant host would
serialize into one task. We pre-rank within (host, salt) buckets and
cap each bucket at the full budget first — the second, exact window then
runs on at most ``S x budget`` rows per host instead of the host's whole
backlog. Both windows are pure column ops (whole-stage codegen; no UDF).
AQE skew-join splitting handles the residual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def pop_order():
    """The authoritative total pop order (north rule)."""
    return [F.col("priority").desc(), F.col("exetime").asc(), F.col("url_canon").asc()]


N_SALT = 16  # salt buckets per host (FIXTURES.md §1)

DEFAULT_BUDGET = 20  # reference Settings.concurrency, common/settings.py:6


def with_salt(df: DataFrame) -> DataFrame:
    """Hash-derived salt bucket — deterministic (never rand())."""
    return df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col("url_canon")), F.lit(N_SALT)).cast("int")
    )


def dedup_batch(ready: DataFrame) -> DataFrame:
    """One row per url_canon within the batch: keep the best by
    (priority desc, exetime asc, retries desc, round_added asc, stage,
    url, lineage nulls-first). retries desc so an in-flight retry beats
    a fresh re-discovery of the same URL.

    Implemented as min_by over a sortable key struct rather than a
    row_number window: groupBy partial-aggregates map-side (one
    survivor per key per input partition crosses the shuffle) and skips
    the window's per-partition sort — the window variant does neither.
    Ties on the full key are byte-identical rows, so min_by's arbitrary
    pick is still deterministic. Negations go through long (the
    ``_pop_key`` pattern): a user-supplied frontier may carry
    priority/retries = INT_MIN, whose int negation silently wraps."""
    key = F.struct(
        (-F.col("priority").cast("long")).alias("k1"),
        F.col("exetime").alias("k2"),
        (-F.col("retries").cast("long")).alias("k3"),
        F.col("round_added").alias("k4"),
        F.col("stage").alias("k5"),
        F.col("url").alias("k6"),
        F.coalesce(F.col("lineage"), F.lit("")).alias("k7"),  # ≙ nulls first
    )
    others = [c for c in ready.columns if c != "url_canon"]
    best = ready.groupBy("url_canon").agg(
        F.min_by(F.struct(*others), key).alias("_b")
    )
    return best.select("url_canon", *[F.col(f"_b.{c}").alias(c) for c in others])


def robots_mark(ready: DataFrame, robots: DataFrame) -> DataFrame:
    """Flag rows whose URL matches a disallow prefix for their host
    (``_blk``) instead of dropping them, so one materialization serves
    both the survivors and the blocked counter. robots is a small dim →
    broadcast. North-rule addition (absent in the reference)."""
    # ONE dim row per host (prefixes aggregated into an array): a plain
    # prefix-join would emit one row per MATCHING rule, so a URL under
    # two overlapping disallows (/priv + /private/) would duplicate —
    # inflating the blocked/deduped counters and the blocked split.
    dis = (
        robots.filter(~F.col("allow"))
        .groupBy(F.col("host").alias("_rhost"))
        .agg(F.collect_list("path_prefix").alias("_rpfx"))
    )
    path = F.regexp_replace(F.col("url_canon"), r"^[a-z]+://[^/]+", "")
    joined = ready.join(
        F.broadcast(dis), F.col("host") == F.col("_rhost"), "left_outer"
    )
    blk = F.exists("_rpfx", lambda pfx: path.startswith(pfx))
    return joined.withColumn("_blk", F.coalesce(blk, F.lit(False))).drop(
        "_rhost", "_rpfx"
    )


ROUND_QUANTUM_S = 60.0  # wall-clock a scheduling round models; a robots
# crawl-delay of D seconds therefore permits at most floor(quantum / D)
# fetches from that host per round


def effective_config(config: DataFrame, robots: DataFrame) -> DataFrame:
    """Fold robots ``crawl_delay_s`` into the per-host budget (Q15
    completion — north-rule robots contract, BASELINE.json north_rule):
    effective concurrency = min(concurrency, floor(ROUND_QUANTUM_S /
    max crawl_delay over the host's rules)). Rows a reduced budget
    leaves behind stay in the frontier and are counted under the
    existing politeness-deferral counter — delay enforcement writes
    nothing, exactly like budget deferral. Dim-dim join over two tiny
    broadcast tables; the result broadcasts downstream unchanged."""
    delays = (
        # delay <= 0 means "no delay" (ADVICE r4): keeping it would
        # divide by zero here and leave the budget uncapped in the
        # degenerate branch — filter it in BOTH engine and oracle so
        # the two stay bit-identical on all inputs
        robots.filter(F.col("crawl_delay_s").isNotNull() & (F.col("crawl_delay_s") > 0))
        .groupBy(F.col("host").alias("_dhost"))
        .agg(F.max("crawl_delay_s").alias("_delay"))
    )
    cap = F.floor(F.lit(ROUND_QUANTUM_S) / F.col("_delay")).cast("int")
    return (
        config.join(
            F.broadcast(delays), F.col("host") == F.col("_dhost"), "left_outer"
        )
        .withColumn(
            "concurrency",
            F.when(
                F.col("_delay").isNotNull(),
                F.least(F.col("concurrency"), cap),
            ).otherwise(F.col("concurrency")),
        )
        .drop("_dhost", "_delay")
    )


BIG_HOST_ROWS = 100_000  # backlog size above which a host takes the salted path


def rank_for_pop(ready: DataFrame, config: DataFrame, salted: bool = True) -> DataFrame:
    """Per-host budgeted pop decision as ONE ranked DataFrame with a
    boolean ``_pop`` column.

    ``salted=True``: two-stage skew-killed ranking — salted pre-rank on
    (host, salt) caps each bucket at the budget, then the exact per-host
    rank runs on ≤ N_SALT x budget rows/host. Two shuffles, safe for a
    host with a 10M-row backlog.
    ``salted=False``: single exact per-host window — one shuffle; for
    hosts known not to be giant. :func:`popped_via_thresholds` picks per
    host.
    """
    budgets = F.broadcast(
        config.select(
            F.col("host").alias("_bhost"), F.col("concurrency").alias("_budget")
        )
    )
    df = ready.join(budgets, F.col("host") == F.col("_bhost"), "left_outer").drop(
        "_bhost"
    )
    df = df.withColumn("_budget", F.coalesce(F.col("_budget"), F.lit(DEFAULT_BUDGET)))
    df = with_salt(df)

    if salted:
        # Stage 1 (skew kill): cap each (host, salt) bucket at the budget.
        w_salt = Window.partitionBy("host", "salt").orderBy(*pop_order())
        df = df.withColumn("_srn", F.row_number().over(w_salt))
        salt_ok = F.col("_srn") <= F.col("_budget")
    else:
        salt_ok = F.lit(True)

    # Exact per-host rank; survivors order first so their relative rank
    # equals the rank they'd get ranked alone.
    w_host = Window.partitionBy("host").orderBy(
        salt_ok.cast("int").desc(), *pop_order()
    )
    df = df.withColumn("_hrn", F.row_number().over(w_host))
    host_ok = salt_ok & (F.col("_hrn") <= F.col("_budget"))

    return df.withColumn("_pop", host_ok).drop(
        *[c for c in ("_budget", "_srn", "_hrn") if c in df.columns]
    )


def apply_global_budget(ranked: DataFrame, global_budget: int) -> DataFrame:
    """Exact global top-k cap (ref ``spop count=1000``,
    spiders/amazon/crawl_goods_list.py:44) over a host-ranked frame
    WITHOUT an unpartitioned window: ``Window.orderBy`` with no
    partitioning funnels the entire candidate backlog through one task.
    Instead: (1) distributed TakeOrdered finds the B-th pop key among
    only in-budget rows (≤ Σ host budgets — each partition contributes
    its local top-B, the driver merges ≤ P×B keys), (2) a scalar
    lexicographic comparison against that threshold keeps rows at or
    under it. The pop order is TOTAL (url_canon is unique within a
    vetted batch), so threshold membership == exact global rank ≤ B —
    byte-identical to the window formulation.

    Pass an already-persisted ``ranked`` (the engine does) so the tiny
    threshold job reads the cache instead of recomputing the ranking
    windows."""
    if global_budget <= 0:
        # a None threshold below means "no qualifying rows" (cap moot);
        # budget 0 must mean the opposite — nothing pops
        return ranked.withColumn("_pop", F.lit(False))
    thr_row = (
        ranked.filter(F.col("_pop"))
        .select(_pop_key().alias("_k"))  # long-negated priority: INT_MIN-safe
        .orderBy("_k")
        .limit(global_budget)
        .agg(F.max("_k").alias("_thr"))
        .collect()[0]["_thr"]
    )
    if thr_row is None:
        return ranked  # no qualifying rows at all
    p, e, u = -thr_row["p"], thr_row["e"], thr_row["u"]
    under = (F.col("priority") > F.lit(p)) | (
        (F.col("priority") == F.lit(p))
        & (
            (F.col("exetime") < F.lit(e))
            | ((F.col("exetime") == F.lit(e)) & (F.col("url_canon") <= F.lit(u)))
        )
    )
    return ranked.withColumn("_pop", F.col("_pop") & under)


def _pop_key():
    """The pop order as ONE sortable struct (struct comparison in Spark
    is lexicographic by field): rank-by-window and compare-to-threshold
    agree exactly because this is the same total order as
    :func:`pop_order` within a host. Priority negates through a long so
    INT_MIN can't overflow."""
    return F.struct(
        (-F.col("priority").cast("long")).alias("p"),
        F.col("exetime").alias("e"),
        F.col("url_canon").alias("u"),
    )


def popped_via_thresholds(
    candidates: DataFrame, config: DataFrame, big_hosts: list[str]
) -> DataFrame:
    """The engine's pop path: per-host budgeted top-B WITHOUT shuffling
    full-width frontier rows. Byte-identical to
    ``rank_for_pop(...).filter(_pop)`` whenever ``url_canon`` is unique
    within the candidate batch (the engine guarantees this: links are
    vetted/deduped at discovery and pop tombstones are keyed
    (url_canon, retries), so at most one row per URL is ever live).

    At 10^10-row-frontier scale the ranking window is the round's one
    O(backlog) shuffle; its cost is shuffle *bytes*, not row count.
    This splits it: (1) rank a SLIM projection (host, priority,
    exetime, url_canon — the only columns the order needs, ~3x fewer
    bytes than a frontier row), (2) fold the winners to one
    ``(host, Bth-best key)`` threshold row per host — O(hosts), tiny —
    and (3) broadcast-join the thresholds back to the full-width scan
    with a scalar struct comparison. The wide rows never shuffle at
    all; per-host rank <= B ⟺ key <= threshold because the pop order
    is total within a host (url_canon tie-break).

    ``big_hosts`` (the engine's per-host count pre-pass lists hosts over
    BIG_HOST_ROWS) take the salted two-stage pre-rank; every other host
    takes the single exact window. The salted path is an exact-rank-
    preserving pre-filter, so the split changes cost, never output (the
    slim frame carries url_canon, so the hash salt is identical)."""
    slim = candidates.select("host", "priority", "exetime", "url_canon")
    if big_hosts:
        is_big = F.col("host").isin(list(big_hosts))
        ranked = rank_for_pop(slim.filter(~is_big), config, salted=False).unionByName(
            rank_for_pop(slim.filter(is_big), config, salted=True)
        )
    else:
        ranked = rank_for_pop(slim, config, salted=False)
    thr = (
        ranked.filter(F.col("_pop"))
        .groupBy("host")
        .agg(F.max(_pop_key()).alias("_thr"))
    )
    return (
        candidates.join(F.broadcast(thr), on="host", how="inner")
        .filter(_pop_key() <= F.col("_thr"))
        .drop("_thr")
    )


def fetch_outcome_predicates(captcha_marker: str) -> dict:
    """The ONE definition of the fetch-outcome rules, shared by the
    row split below and the engine's counter aggregation (loop.py) so
    the metrics can never diverge from the rows actually routed."""
    is_fail = F.col("status") >= 500
    is_captcha = (F.col("status") == 200) & F.col("body").contains(captcha_marker)
    can_retry = F.col("retries") + 1 < F.col("max_retries")
    return {"is_fail": is_fail, "is_captcha": is_captcha, "can_retry": can_retry}


def split_fetch_outcomes(results: DataFrame, captcha_marker: str):
    """Partition fetch results into ok / retryable / exhausted
    (reference retry loop common/spider.py:133-163 + captcha re-enqueue
    spiders/amazon/crawl_goods_list.py:50-52)."""
    p = fetch_outcome_predicates(captcha_marker)
    is_fail, is_captcha = p["is_fail"], p["is_captcha"]
    ok = results.filter(~is_fail & ~is_captcha)
    retryable = results.filter((is_fail | is_captcha) & p["can_retry"])
    exhausted = results.filter((is_fail | is_captcha) & ~p["can_retry"])
    requeue = (
        retryable.withColumn("retries", (F.col("retries") + 1).cast("int"))
        .withColumn("_captcha", is_captcha)
    )
    return ok, requeue, exhausted
