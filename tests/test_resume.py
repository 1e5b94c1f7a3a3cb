"""Kill/resume byte-identity: a run interrupted after round k and
resumed by a FRESH engine object must produce tables identical to an
uninterrupted run (north rule: resumable from checkpoint, byte-identical)."""

from __future__ import annotations

import hashlib

import pytest

from pyspider_spark.loop import CrawlEngine
from pyspider_spark.schemas import FRONTIER, IMAGES, ITEMS, METRICS, SEEN
from pyspider_spark.synth import GraphSpec

SPEC = GraphSpec(n_hosts=2, chains_per_host=2, seed_tag="resume1")
ROUNDS = 4


def digest(eng, name, schema) -> str:
    df = eng.store.read_or_empty(name, schema)
    rows = sorted(
        repr(sorted(r.asDict().items(), key=lambda kv: kv[0])) for r in df.collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


TABLES = [("frontier", FRONTIER), ("seen", SEEN), ("items", ITEMS),
          ("images", IMAGES), ("metrics", METRICS)]


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    wd_a = str(tmp_path_factory.mktemp("uninterrupted"))
    eng_a = CrawlEngine(spark, wd_a, SPEC, n_seen_partitions=4)
    eng_a.run(max_rounds=ROUNDS)

    wd_b = str(tmp_path_factory.mktemp("interrupted"))
    CrawlEngine(spark, wd_b, SPEC, n_seen_partitions=4).run(max_rounds=2)
    # fresh engine object = process restart; resume must roll forward
    eng_b = CrawlEngine(spark, wd_b, SPEC, n_seen_partitions=4)
    eng_b.run(max_rounds=ROUNDS, resume=True)
    return eng_a, eng_b


@pytest.mark.parametrize("table,schema", TABLES)
def test_resumed_tables_byte_identical(runs, table, schema):
    eng_a, eng_b = runs
    assert digest(eng_a, table, schema) == digest(eng_b, table, schema), table


def test_resume_discards_half_written_round(spark, tmp_path_factory):
    """Appends landed after the last checkpoint (a crashed half-round)
    must be invisible after resume and not perturb the final state."""
    wd = str(tmp_path_factory.mktemp("halfround"))
    eng = CrawlEngine(spark, wd, SPEC, n_seen_partitions=4)
    eng.run(max_rounds=2)
    # simulate a crash mid-round-2: an items append without a checkpoint
    junk = eng.store.read_or_empty("items", ITEMS).limit(3)
    eng.store.append("items", junk)

    eng2 = CrawlEngine(spark, wd, SPEC, n_seen_partitions=4)
    eng2.run(max_rounds=ROUNDS, resume=True)

    wd_ref = str(tmp_path_factory.mktemp("halfround_ref"))
    ref = CrawlEngine(spark, wd_ref, SPEC, n_seen_partitions=4)
    ref.run(max_rounds=ROUNDS)
    for table, schema in TABLES:
        assert digest(eng2, table, schema) == digest(ref, table, schema), table


def test_resume_prunes_crashed_dirs_for_streaming(spark, tmp_path_factory):
    """A file-source stream tails data dirs directly, so a crashed
    round's dirs must be physically gone after resume — otherwise the
    replayed round's identical re-appends show up twice downstream."""
    from pyspider_spark import streaming

    wd = str(tmp_path_factory.mktemp("streamcrash"))
    eng = CrawlEngine(spark, wd, SPEC, n_seen_partitions=4)
    eng.run(max_rounds=2)
    # crash mid-round-2: an items append that never reaches a checkpoint
    junk = eng.store.read_or_empty("items", ITEMS).limit(3)
    eng.store.append("items", junk)

    eng2 = CrawlEngine(spark, wd, SPEC, n_seen_partitions=4)
    eng2.run(max_rounds=ROUNDS, resume=True)

    batch_n = eng2.store.read_or_empty("items", ITEMS).count()
    stream = streaming.tail_table(spark, wd, "items")
    streaming.run_once_to_memory(
        stream.groupBy().count().withColumnRenamed("count", "n"), "items_crash_t"
    )
    stream_n = spark.sql("SELECT n FROM items_crash_t").collect()[0].n
    assert stream_n == batch_n


def test_resume_on_fresh_dir_bootstraps(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("fresh"))
    eng = CrawlEngine(spark, wd, SPEC, n_seen_partitions=4)
    stats = eng.run(max_rounds=2, resume=True)
    assert len(stats) == 2
    assert stats[0].popped > 0


def test_fresh_run_on_used_workdir_refuses(runs, spark):
    """run(resume=False) on a workdir holding a crawl ledger must raise:
    bootstrap only resets config/robots/frontier, so the stale
    tomb/enqueued state would silently anti-join every new seed away
    (an empty crawl with no error)."""
    eng_a, _eng_b = runs
    fresh = CrawlEngine(spark, eng_a.workdir, SPEC, n_seen_partitions=4)
    with pytest.raises(ValueError, match="already holds a crawl ledger"):
        fresh.run(max_rounds=2)


def test_ledger_jsonl_torn_tail(runs):
    """The round ledger is JSONL with O(1) appends: a torn final line
    (crash mid-append) reads as 'round not committed'."""
    eng_a, _eng_b = runs
    ledger = eng_a._read_ledger()
    assert ledger and ledger[-1]["round"] == ROUNDS - 1
    # torn tail: append garbage half-line; reader must drop it
    with open(eng_a._ledger_path, "a") as f:
        f.write('{"round": 99, "snap')
    assert eng_a._read_ledger() == ledger


def test_ingest_survives_crash_resume(spark, tmp_path_factory):
    """URLs ingested between rounds (S10 seed-source path) must survive
    a crash before the next round completes: ingest_urls pins its
    appends in the ledger, so resume rolls back TO the ingest, not past
    it (the source may have committed its offsets on our return)."""
    wd = str(tmp_path_factory.mktemp("ingest_crash"))
    eng = CrawlEngine(spark, wd, SPEC, n_seen_partitions=4)
    eng.run(max_rounds=2)
    novel = ["https://ingested.example/a", "https://ingested.example/b"]
    n = eng.ingest_urls(
        spark.createDataFrame([(u,) for u in novel], ["url"]), next_round=2
    )
    assert n == 2
    # crash before round 2 runs; a FRESH engine resumes
    eng2 = CrawlEngine(spark, wd, SPEC, n_seen_partitions=4)
    last = eng2.restore_to_ledger()
    assert last == 1
    frontier_urls = {
        r.url_canon
        for r in eng2.store.read_or_empty("frontier", FRONTIER).collect()
    }
    assert set(novel) <= frontier_urls, "resume rolled back past the ingest"
