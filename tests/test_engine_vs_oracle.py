"""End-to-end: the Spark engine must replay the pure-Python oracle
byte-for-byte — pop sequences, per-round counters, items, final seen set
(north rule: 'matching the reference's crawl ordering and URL-seen set
under the same seed list and politeness budget')."""

from __future__ import annotations

import pytest

from pyspider_spark.loop import CrawlEngine
from pyspider_spark.schemas import API_ITEMS, ITEMS, SEEN
from pyspider_spark.synth import GraphSpec

from .oracle_sim import OracleEngine

ROUNDS = 6
SPEC = GraphSpec(n_hosts=3, chains_per_host=2)


@pytest.fixture(scope="module", params=[False, True], ids=["regex", "htmlparse"])
def engine_run(spark, tmp_path_factory, request):
    """The full oracle replay runs under BOTH parse engines (P5): the
    default regex extractors and the real HTML-parser stage
    (html_parser=True) must be byte-identical end-to-end."""
    wd = str(tmp_path_factory.mktemp(f"crawl_{request.param}"))
    eng = CrawlEngine(
        spark, wd, SPEC, n_seen_partitions=8,
        collect_pop_sequence=True, html_parser=request.param,
    )
    stats = eng.run(max_rounds=ROUNDS)
    return eng, stats


@pytest.fixture(scope="module")
def oracle_run():
    o = OracleEngine(SPEC)
    o.run(max_rounds=ROUNDS)
    return o


def test_pop_sequences_match(engine_run, oracle_run):
    eng, _ = engine_run
    o = oracle_run
    assert set(eng.pop_sequences) == set(r for r in o.pop_sequences if r < ROUNDS)
    for r, seq in eng.pop_sequences.items():
        assert seq == o.pop_sequences[r], f"round {r} pop order diverged"


def test_metrics_match(engine_run, oracle_run):
    _, stats = engine_run
    o = oracle_run
    for s in stats:
        if s.round not in o.metrics:
            continue
        om = o.metrics[s.round]
        em = s.__dict__
        assert em == om, f"round {s.round}: {em} != {om}"


def test_seen_set_matches(engine_run, oracle_run):
    eng, _ = engine_run
    o = oracle_run
    seen = {
        r.url_canon for r in eng.store.read_or_empty("seen", SEEN).collect()
    }
    assert seen == o.seen


def test_membership_tables_unique_and_exact(engine_run):
    """The vet probe is one left join against ``enqueued`` and the
    per-round registrations are plain appends, so the join is only a
    membership test while each set holds one row per url_canon. No
    approximate-filter table is written beside them."""
    import os

    eng, _ = engine_run
    for t in ("enqueued", "seen"):
        df = eng.store.read_or_empty(t, SEEN)
        total = df.count()
        assert total > 0, t
        assert df.select("url_canon").distinct().count() == total, t
    for t in ("seen_filters", "enqueued_filters"):
        assert not os.path.exists(os.path.join(eng.workdir, t)), t


def test_items_match(engine_run, oracle_run):
    eng, _ = engine_run
    o = oracle_run
    rows = eng.store.read_or_empty("items", ITEMS).collect()
    got = {tuple(r) for r in rows}
    assert got == set(o.items)


def test_api_items_match(engine_run, oracle_run):
    eng, _ = engine_run
    o = oracle_run
    rows = eng.store.read_or_empty("api_items", API_ITEMS).collect()
    got = {tuple(r) for r in rows}
    assert got == set(o.api_items)


def test_sales_items_match(engine_run, oracle_run):
    """Q12 engine level: batch sales responses exploded per sku match the
    oracle's chunk-and-fetch replay exactly."""
    eng, _ = engine_run
    o = oracle_run
    from pyspider_spark.schemas import SALES_ITEMS

    rows = eng.store.read_or_empty("sales_items", SALES_ITEMS).collect()
    got = {tuple(r) for r in rows}
    assert got == set(o.sales_items)
    assert len(got) > 0, "sales batch path never exercised"


def test_sales_batching_is_chunked(engine_run):
    """Every popped sales URL carries ≥1 id and ≤ chunk_size ids."""
    eng, _ = engine_run
    from pyspider_spark.synth import SALES_ID_SEP

    sales_pops = [
        u for seq in eng.pop_sequences.values() for u in seq if "/api/sales" in u
    ]
    assert sales_pops, "no sales URL ever popped"
    for u in sales_pops:
        ids = u.split("ids=", 1)[1].split(SALES_ID_SEP)
        assert 1 <= len(ids) <= SPEC.sales_chunk_size


def test_images_match(engine_run, oracle_run):
    eng, _ = engine_run
    o = oracle_run
    from pyspider_spark.schemas import IMAGES

    rows = eng.store.read_or_empty("images", IMAGES).select("image_id").collect()
    assert {r.image_id for r in rows} == o.image_ids


def test_exactly_once_fetch(engine_run):
    """Task-dedup: no url_canon is first-popped twice (Q7/Q8 semantics)."""
    eng, _ = engine_run
    all_pops = [u for seq in eng.pop_sequences.values() for u in seq]
    # retries may repeat a URL; first-pops must be unique
    firsts = []
    seen = set()
    for u in all_pops:
        if u not in seen:
            seen.add(u)
            firsts.append(u)
    # every repeat must be a retry of a failed/captcha fetch
    from collections import Counter

    c = Counter(all_pops)
    repeats = {u: n for u, n in c.items() if n > 1}
    for u, n in repeats.items():
        assert n <= 3, f"{u} popped {n} times (> max_retries)"


@pytest.fixture(scope="module")
def budgeted_runs(spark, tmp_path_factory):
    """Engine + oracle under a GLOBAL pop budget (ref spop count=1000):
    exercises the threshold-probe cap over the cached in-budget frame."""
    wd = str(tmp_path_factory.mktemp("crawl_gb"))
    eng = CrawlEngine(
        spark, wd, SPEC, n_seen_partitions=8,
        collect_pop_sequence=True, global_budget=5,
    )
    stats = eng.run(max_rounds=4)
    o = OracleEngine(SPEC, global_budget=5)
    o.run(max_rounds=4)
    return eng, stats, o


def test_global_budget_pop_sequences_match(budgeted_runs):
    eng, _, o = budgeted_runs
    for r, seq in eng.pop_sequences.items():
        assert seq == o.pop_sequences[r], f"round {r} pop order diverged"
        assert len(seq) <= 5


def test_global_budget_metrics_match(budgeted_runs):
    _, stats, o = budgeted_runs
    for s in stats:
        if s.round in o.metrics:
            assert s.__dict__ == o.metrics[s.round], f"round {s.round}"


@pytest.fixture(scope="module")
def ingest_runs(spark, tmp_path_factory):
    """Mid-crawl out-of-band ingestion (S10): 2 rounds, ingest a batch
    containing a canon-hostile novel URL, a plain novel URL, a
    robots-blocked URL and a dup of a seed, then resume to round 6 —
    engine and oracle must stay byte-identical through the injection."""
    inj = [
        "HTTPS://Host0.Example:443/list/9/page/1#mid",  # novel, canon-hostile
        "https://host1.example/list/9/page/1",          # novel
        "https://host2.example/private/secret",         # robots-blocked
        "https://host0.example/list/0/page/1",          # dup of a seed
    ]
    wd = str(tmp_path_factory.mktemp("crawl_ingest"))
    eng = CrawlEngine(
        spark, wd, SPEC, n_seen_partitions=8,
        collect_pop_sequence=True,
    )
    eng.run(max_rounds=2)
    df = spark.createDataFrame([(u,) for u in inj], ["url"])
    n_eng = eng.ingest_urls(df, next_round=2)
    eng.run(max_rounds=6, resume=True)
    o = OracleEngine(SPEC)
    o.bootstrap()
    for r in range(2):
        o.run_round(r)
    n_o = o.ingest(inj, 2)
    for r in range(2, 6):
        o.run_round(r)
    return eng, n_eng, o, n_o


def test_ingest_vet_counts_match(ingest_runs):
    _, n_eng, _, n_o = ingest_runs
    assert n_eng == n_o == 2  # dup + robots-blocked vetted out


def test_ingest_pop_sequences_match(ingest_runs):
    eng, _, o, _ = ingest_runs
    for r, seq in eng.pop_sequences.items():
        assert seq == o.pop_sequences[r], f"round {r} pop order diverged"
    # non-vacuous: the injected chains actually got popped post-resume
    popped_all = {u for seq in eng.pop_sequences.values() for u in seq}
    assert "https://host0.example/list/9/page/1" in popped_all
    assert "https://host1.example/list/9/page/1" in popped_all


def test_ingest_seen_sets_match(ingest_runs):
    eng, _, o, _ = ingest_runs
    seen = {r.url_canon for r in eng.store.read_or_empty("seen", SEEN).collect()}
    assert seen == o.seen


def test_ingest_out_of_sequence_raises(spark, tmp_path_factory):
    """A next_round gap would pin unrun rounds as completed in the
    ledger (resume would silently skip them) — must raise instead."""
    wd = str(tmp_path_factory.mktemp("crawl_ingest_gap"))
    eng = CrawlEngine(spark, wd, SPEC, n_seen_partitions=8)
    eng.run(max_rounds=1)
    df = spark.createDataFrame([("https://host0.example/list/8/page/1",)], ["url"])
    with pytest.raises(ValueError, match="out of sequence"):
        eng.ingest_urls(df, next_round=5)


@pytest.fixture(scope="module")
def delayed_runs(spark, tmp_path_factory):
    """Engine + oracle with a CONSTRAINING robots crawl-delay on host0
    (Q15): 30s delay → floor(60/30) = 2 pops/round, far under host0's
    concurrency 10, so the delay — not the budget — limits the host."""
    spec = GraphSpec(n_hosts=3, chains_per_host=2, crawl_delay_host0=30.0)
    wd = str(tmp_path_factory.mktemp("crawl_delay"))
    eng = CrawlEngine(
        spark, wd, spec, n_seen_partitions=8,
        collect_pop_sequence=True,
    )
    stats = eng.run(max_rounds=5)
    o = OracleEngine(spec)
    o.run(max_rounds=5)
    return eng, stats, o


def test_crawl_delay_pop_sequences_match(delayed_runs):
    eng, _, o = delayed_runs
    for r, seq in eng.pop_sequences.items():
        assert seq == o.pop_sequences[r], f"round {r} pop order diverged"


def test_crawl_delay_metrics_match(delayed_runs):
    _, stats, o = delayed_runs
    for s in stats:
        if s.round in o.metrics:
            assert s.__dict__ == o.metrics[s.round], f"round {s.round}"


def test_crawl_delay_actually_constrains(delayed_runs):
    """host0 never exceeds 2 pops/round, and at least one round defers
    host0 work it would have popped at concurrency 10 — i.e. the delay
    path is live, not vacuously green."""
    eng, _, o = delayed_runs
    host0_per_round = {
        r: sum("host0.example" in u for u in seq)
        for r, seq in eng.pop_sequences.items()
    }
    assert all(n <= 2 for n in host0_per_round.values())
    assert any(n == 2 for n in host0_per_round.values()), (
        "delay cap never reached — fixture too small to exercise Q15"
    )
    assert any(
        m["deferred_politeness"] > 0 for m in o.metrics.values()
    ), "no politeness deferral observed under the crawl delay"
