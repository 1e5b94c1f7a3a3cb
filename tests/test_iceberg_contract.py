"""The TableStore → Iceberg swap contract (VERDICT r2 'What's missing' #3).

The north rule targets Iceberg tables; this container has no Iceberg
jars, so tables.py implements the same semantics on parquet + JSON
manifests. These tests make the claimed 1:1 mapping CI-checked instead
of asserted in prose:

1. **Surface completeness** — every public TableStore method declares
   its Iceberg equivalent in ``ICEBERG_EQUIVALENTS`` (adding a method
   without a mapping breaks the build), and vice versa (no stale
   entries for removed methods).
2. **Semantics the swap relies on** — the Iceberg-defining behaviors
   the engine actually depends on, each pinned against the parquet
   implementation: snapshot-pinned reads (time travel), append as a
   purely additive metadata commit, atomic manifest commit (a crashed
   write is invisible), rollback + orphan pruning (the resume path),
   expire-snapshots vacuum, and MERGE-insert-if-absent idempotency.
3. **The engine over an injected store** — ``CrawlEngine(store=...)``
   replays the default engine's rounds and tables.
"""

from __future__ import annotations

import inspect
import os

import pytest
from pyspark.sql import types as T

from pyspider_spark.tables import ICEBERG_EQUIVALENTS, TableStore

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), False),
    ]
)


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def _df(spark, pairs):
    return spark.createDataFrame([{"k": k, "v": v} for k, v in pairs], SCHEMA)


@pytest.fixture()
def store(spark, tmp_path):
    return TableStore(spark, str(tmp_path))


def test_every_public_method_declares_its_iceberg_equivalent():
    public = {
        name
        for name, m in inspect.getmembers(TableStore, predicate=inspect.isfunction)
        if not name.startswith("_")
    }
    missing = public - set(ICEBERG_EQUIVALENTS)
    stale = set(ICEBERG_EQUIVALENTS) - public
    assert not missing, f"TableStore methods without an Iceberg mapping: {missing}"
    assert not stale, f"Iceberg mappings for removed methods: {stale}"
    assert all(v.strip() for v in ICEBERG_EQUIVALENTS.values())


def test_snapshot_pinned_reads_are_time_travel(spark, store):
    """Iceberg: spark.read.option('snapshot-id', sid). A reader pinned
    to snapshot S sees S's rows regardless of later appends/overwrites."""
    s1 = store.append("t", _df(spark, [("a", 1)]))
    s2 = store.append("t", _df(spark, [("b", 2)]))
    store.overwrite("t", _df(spark, [("z", 9)]))
    assert _rows(store.read("t", s1)) == [("a", 1)]
    assert _rows(store.read("t", s2)) == [("a", 1), ("b", 2)]
    assert _rows(store.read("t")) == [("z", 9)]


def test_append_is_additive_metadata_commit(spark, store):
    """Iceberg: writeTo().append() adds data files; prior files are
    never rewritten (their mtimes and paths are untouched)."""
    store.append("t", _df(spark, [("a", 1)]))
    m1 = store._load_manifest("t")
    dirs1 = set(m1["snapshots"][-1]["dirs"])
    mtimes = {d: os.stat(d).st_mtime_ns for d in dirs1}
    store.append("t", _df(spark, [("b", 2)]))
    m2 = store._load_manifest("t")
    dirs2 = m2["snapshots"][-1]["dirs"]
    assert set(dirs2) > dirs1 and len(dirs2) == len(dirs1) + 1
    for d in dirs1:  # old data files untouched byte-for-byte
        assert os.stat(d).st_mtime_ns == mtimes[d]


def test_crashed_write_is_invisible_until_manifest_commit(spark, store):
    """Iceberg: a commit is one atomic catalog swap; data files written
    by a job that died pre-commit are orphans, invisible to readers and
    swept by remove_orphan_files (prune_abandoned here)."""
    store.append("t", _df(spark, [("a", 1)]))
    sid = store.current_snapshot_id("t")
    # simulate the crash: data dir lands, manifest commit never happens
    orphan = store._write_datadir("t", _df(spark, [("ghost", 0)]))
    assert os.path.isdir(orphan)
    assert _rows(store.read("t")) == [("a", 1)]
    assert store.current_snapshot_id("t") == sid
    store.prune_abandoned("t")
    assert not os.path.isdir(orphan)
    assert _rows(store.read("t")) == [("a", 1)]


def test_rollback_then_prune_is_the_resume_path(spark, store):
    """Iceberg: rollback_to_snapshot + remove_orphan_files. After
    rolling back to S, newer snapshots' files are unreferenced and
    pruned; the table replays from S byte-identically."""
    s1 = store.append("t", _df(spark, [("a", 1)]))
    store.append("t", _df(spark, [("b", 2)]))
    newer = set(store._load_manifest("t")["snapshots"][-1]["dirs"]) - set(
        store._load_manifest("t")["snapshots"][0]["dirs"]
    )
    store.rollback("t", s1)
    assert _rows(store.read("t")) == [("a", 1)]
    store.prune_abandoned("t")
    for d in newer:
        assert not os.path.isdir(d)
    # and the table accepts new commits from the rolled-back state
    store.append("t", _df(spark, [("c", 3)]))
    assert _rows(store.read("t")) == [("a", 1), ("c", 3)]


def test_vacuum_is_expire_snapshots(spark, store):
    """Iceberg: expire_snapshots drops history; the current snapshot
    stays readable, old snapshot ids stop resolving."""
    s1 = store.append("t", _df(spark, [("a", 1)]))
    store.append("t", _df(spark, [("b", 2)]))
    store.vacuum("t")
    assert _rows(store.read("t")) == [("a", 1), ("b", 2)]
    with pytest.raises(KeyError):
        store.read("t", s1)


def test_rollback_to_none_resets_table_to_empty(spark, store):
    """Resume after a crash that happened right after a table's
    FIRST-EVER append: the checkpoint has no snapshot for it
    (snapshot_id=None), so rollback must reset the table to empty —
    otherwise the replay re-appends the crashed round's rows and the
    table holds duplicates (ADVICE r4)."""
    store.append("t", _df(spark, [("a", 1)]))
    store.rollback("t", None)
    store.prune_abandoned("t")
    assert _rows(store.read_or_empty("t", SCHEMA)) == []
    # replay re-appends the same batch exactly once
    store.append("t", _df(spark, [("a", 1)]))
    assert _rows(store.read("t")) == [("a", 1)]


def test_merge_insert_if_absent_is_merge_when_not_matched(spark, store):
    """Iceberg: MERGE INTO ... WHEN NOT MATCHED THEN INSERT. Re-merging
    an overlapping batch inserts only the new keys — idempotent under
    the at-least-once replay the crawl loop performs on resume."""
    store.merge_insert_if_absent("t", _df(spark, [("a", 1), ("b", 2)]), "k", SCHEMA)
    store.merge_insert_if_absent(
        "t", _df(spark, [("b", 99), ("c", 3), ("c", 3)]), "k", SCHEMA
    )
    assert _rows(store.read("t")) == [("a", 1), ("b", 2), ("c", 3)]


def test_engine_runs_over_an_injected_store(spark, tmp_path):
    """``CrawlEngine(..., store=store)`` is the swap point this contract
    exists for (iceberg.py). Parquet leg: an engine over an injected
    TableStore rooted outside its workdir produces the same rounds and
    tables as the default engine, keeps every table in the injected
    store, and writes only its round ledger under the workdir."""
    import hashlib

    from pyspider_spark.loop import CrawlEngine
    from pyspider_spark.schemas import FRONTIER, IMAGES, ITEMS, METRICS, SEEN
    from pyspider_spark.synth import GraphSpec

    spec = GraphSpec(n_hosts=2, chains_per_host=2, seed_tag="inject1")
    base = CrawlEngine(spark, str(tmp_path / "base"), spec, n_seen_partitions=4)
    base_stats = base.run(max_rounds=2)
    injected = TableStore(spark, str(tmp_path / "store"))
    work = tmp_path / "work"
    eng = CrawlEngine(spark, str(work), spec, n_seen_partitions=4, store=injected)
    assert eng.store is injected
    assert [s.__dict__ for s in eng.run(max_rounds=2)] == [
        s.__dict__ for s in base_stats
    ]

    def digest(store, name, schema):
        rows = sorted(repr(sorted(r.asDict().items()))
                      for r in store.read_or_empty(name, schema).collect())
        return hashlib.sha256("\n".join(rows).encode()).hexdigest()

    for name, schema in [("frontier", FRONTIER), ("seen", SEEN), ("enqueued", SEEN),
                         ("items", ITEMS), ("images", IMAGES), ("metrics", METRICS)]:
        assert digest(injected, name, schema) == digest(base.store, name, schema), name
    assert sorted(os.listdir(work)) == ["_manifests"]
    assert os.listdir(work / "_manifests") == ["rounds.json"]


# ------------------------------------------------------- real-Iceberg leg
@pytest.fixture()
def ice_store(spark, tmp_path):
    """IcebergTableStore against a Hadoop-catalog warehouse — runs when
    the iceberg-spark runtime jar is on the classpath (deployment CI),
    skipped-not-silent in this container (no jar; disclosed in
    pyspider_spark/iceberg.py)."""
    from pyspider_spark.iceberg import IcebergTableStore, iceberg_available

    if not iceberg_available(spark):
        pytest.skip("iceberg-spark runtime jar not on the classpath")
    cat = "ice_test"
    spark.conf.set(f"spark.sql.catalog.{cat}",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{cat}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{cat}.warehouse", str(tmp_path / "wh"))
    return IcebergTableStore(spark, cat, "contract")


def test_iceberg_time_travel_gated(spark, ice_store):
    s1 = ice_store.append("t", _df(spark, [("a", 1)]))
    s2 = ice_store.append("t", _df(spark, [("b", 2)]))
    ice_store.overwrite("t", _df(spark, [("z", 9)]))
    assert _rows(ice_store.read("t", s1)) == [("a", 1)]
    assert _rows(ice_store.read("t", s2)) == [("a", 1), ("b", 2)]
    assert _rows(ice_store.read("t")) == [("z", 9)]


def test_iceberg_append_additive_gated(spark, ice_store):
    ice_store.append("t", _df(spark, [("a", 1)]))
    files1 = {p for p, _ in ice_store.file_rows("t")}
    ice_store.append("t", _df(spark, [("b", 2)]))
    files2 = {p for p, _ in ice_store.file_rows("t")}
    assert files1 < files2, "append must never rewrite existing files"
    assert ice_store.count_rows("t") == 2
    assert ice_store.last_append_rows("t") == 1


def test_iceberg_rollback_gated(spark, ice_store):
    s1 = ice_store.append("t", _df(spark, [("a", 1)]))
    ice_store.append("t", _df(spark, [("b", 2)]))
    ice_store.rollback("t", s1)
    assert _rows(ice_store.read("t")) == [("a", 1)]
    ice_store.append("t", _df(spark, [("c", 3)]))
    assert _rows(ice_store.read("t")) == [("a", 1), ("c", 3)]


def test_iceberg_vacuum_expires_snapshots_gated(spark, ice_store):
    s1 = ice_store.append("t", _df(spark, [("a", 1)]))
    ice_store.append("t", _df(spark, [("b", 2)]))
    ice_store.vacuum("t")
    assert _rows(ice_store.read("t")) == [("a", 1), ("b", 2)]
    with pytest.raises(KeyError):
        ice_store.read("t", s1)


def test_iceberg_rollback_to_none_gated(spark, ice_store):
    """Restore-after-first-append on the real backend: rollback(t, None)
    must drop/truncate (parquet contract: reset to empty), so the
    replayed append leaves exactly one copy (ADVICE r4 medium)."""
    ice_store.append("t", _df(spark, [("a", 1)]))
    ice_store.rollback("t", None)
    ice_store.prune_abandoned("t")
    assert _rows(ice_store.read_or_empty("t", SCHEMA)) == []
    ice_store.append("t", _df(spark, [("a", 1)]))
    assert _rows(ice_store.read("t")) == [("a", 1)]


def test_iceberg_merge_idempotent_gated(spark, ice_store):
    ice_store.merge_insert_if_absent(
        "t", _df(spark, [("a", 1), ("b", 2)]), "k", SCHEMA
    )
    ice_store.merge_insert_if_absent(
        "t", _df(spark, [("b", 99), ("c", 3), ("c", 3)]), "k", SCHEMA
    )
    assert _rows(ice_store.read("t")) == [("a", 1), ("b", 2), ("c", 3)]
