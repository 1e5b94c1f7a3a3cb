"""J5 phash near-dup detection + S14 fetch memo-cache."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspider_spark import neardup
from pyspider_spark.loop import CrawlEngine
from pyspider_spark.schemas import FETCH_CACHE, IMAGES, ITEMS, METRICS, SEEN
from pyspider_spark.synth import GraphSpec

# ---------------------------------------------------------------- neardup


def _i64(v: int) -> int:
    """Signed-int64 view of an unsigned 64-bit value (what phash64
    returns; Spark LongType NULLs anything above 2^63-1)."""
    v &= 0xFFFFFFFFFFFFFFFF
    return v - (1 << 64) if v >= 1 << 63 else v


def imgs_df(spark, rows):
    return spark.createDataFrame(
        [(i, _i64(p)) for i, p in rows], ["image_id", "phash"]
    )


def test_near_dup_exact_and_close(spark):
    base = 0x0123456789ABCDEF
    rows = [
        ("a", base),
        ("b", base),               # hamming 0
        ("c", base ^ 0b111),       # hamming 3
        ("d", base ^ ((1 << 63) | (1 << 1) | (1 << 17) | (1 << 33) | (1 << 49)
                      | (1 << 9) | (1 << 25) | (1 << 41))),  # 8 bits, one per band
        ("e", ~base),              # hamming 64
    ]
    df = imgs_df(spark, rows)
    pairs = {
        (r.image_id, r.dup_of): r.hamming
        for r in neardup.near_dup_pairs(df, df, 0).collect()
    }
    assert pairs[("b", "a")] == 0
    assert pairs[("c", "a")] == 3 and pairs[("c", "b")] == 3
    assert ("e", "a") not in pairs
    # d differs in every band → no band collision → not even a candidate
    assert all(k[0] != "d" and k[1] != "d" for k in pairs)


def test_band_guarantee_radius(spark):
    """Any pair within hamming ≤ 7 shares ≥1 exact band (pigeonhole)."""
    base = 0x0F0F0F0F0F0F0F0F
    close = base ^ 0x7F  # 7 bits flipped, all in band 0
    df = imgs_df(spark, [("x", base), ("y", close)])
    got = neardup.near_dup_pairs(df, df, 0).collect()
    assert len(got) == 1 and got[0].hamming == 7


def test_bloom_prefilter_blocks_novel(spark, tmp_path_factory):
    """The band index's per-partition bloom probe (the pre-filter the
    engine takes above DIRECT_VERIFY_MAX_BAND_ROWS)."""
    from pyspider_spark.tables import TableStore

    idx = neardup.BandIndex(TableStore(spark, str(tmp_path_factory.mktemp("bloom"))))
    prior = imgs_df(spark, [("p1", 111), ("p2", 222)])
    idx.append_round(idx.band_rows(prior), 0)
    new = imgs_df(spark, [("n1", 111), ("n2", 0x7777777777777777)])
    kept = {r.image_id for r in idx._probe_ids(idx.band_rows(new)).collect()}
    assert "n1" in kept  # exact phash match must survive the prefilter
    # n2 shares no band with the corpus: overwhelmingly likely filtered
    assert "n2" not in kept


def test_crawl_writes_near_dup_table(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("nd"))
    eng = CrawlEngine(spark, wd, GraphSpec(n_hosts=2, chains_per_host=2), n_seen_partitions=4)
    eng.run(max_rounds=3)
    nd = eng.store.read_or_empty("near_dup_images", neardup.NEAR_DUP_IMAGES)
    # table exists and any reported pair is within the guaranteed radius
    rows = nd.collect()
    assert all(r.hamming <= neardup.MAX_HAMMING for r in rows)


# ----------------------------------------------------- incremental index


def _brute_pairs(rows):
    """All unordered near-dup pairs (hamming ≤ MAX_HAMMING) by brute force."""
    out = set()
    for i, (ia, pa) in enumerate(rows):
        for ib, pb in rows[i + 1 :]:
            if bin((pa ^ pb) & 0xFFFFFFFFFFFFFFFF).count("1") <= neardup.MAX_HAMMING:
                out.add(frozenset((ia, ib)))
    return out


def test_band_index_matches_bruteforce(spark, tmp_path_factory, monkeypatch):
    """Driving the incremental BandIndex the way the engine does
    (_detect_near_dups) over 4 rounds of appends, with a compaction in
    the middle, finds EXACTLY the pairs a brute-force all-pairs scan
    finds — planted near-dups across and within rounds. Run on both
    sides of DIRECT_VERIFY_MAX_BAND_ROWS: the direct corpus verify and
    the bloom-probe + pid-pruned verify."""
    from pyspider_spark.tables import TableStore

    base = 0x0123456789ABCDEF
    far = 0x7EDCBA9876543210
    rounds = [
        [("r0a", base), ("r0b", far)],
        [("r1a", base ^ 0b11), ("r1b", far ^ (1 << 40))],      # dups of r0
        [("r2a", 0x5555AAAA5555AAAA), ("r2b", 0x5555AAAA5555AAAB)],  # in-batch dup
        [("r3a", base ^ (1 << 63)), ("r3b", 0x1111222233334444)],    # dup of r0a/r1a
    ]
    all_rows = [t for batch in rounds for t in batch]
    want = _brute_pairs(all_rows)
    assert len(want) >= 3
    for direct_max in (neardup.DIRECT_VERIFY_MAX_BAND_ROWS, 0):
        monkeypatch.setattr(neardup, "DIRECT_VERIFY_MAX_BAND_ROWS", direct_max)
        store = TableStore(spark, str(tmp_path_factory.mktemp("bandidx")))
        idx = neardup.BandIndex(store)
        got = set()
        for r, batch in enumerate(rounds):
            bands = idx.band_rows(imgs_df(spark, batch))
            pairs = neardup.pairs_from_bands(bands, bands, r, neardup.MAX_HAMMING)
            if idx.has_corpus():
                pairs = pairs.unionByName(idx.pairs_vs_corpus(bands, r))
            got |= {frozenset((p.image_id, p.dup_of)) for p in pairs.collect()}
            idx.append_round(bands, r)
            # incremental-write contract: indexing round r lands exactly the
            # NEW images' band rows (8 per image), never a corpus re-explode
            assert (
                store.last_append_rows("image_bands")
                == neardup.N_BANDS * len(batch)
            )
            if r == 1:
                idx.compact(r)
        assert got == want, f"DIRECT_VERIFY_MAX_BAND_ROWS={direct_max}"


def _brute_pairs_radius(rows, radius):
    out = set()
    for i, (ia, pa) in enumerate(rows):
        for ib, pb in rows[i + 1 :]:
            if bin((pa ^ pb) & 0xFFFFFFFFFFFFFFFF).count("1") <= radius:
                out.add(frozenset((ia, ib)))
    return out


@pytest.mark.parametrize("n_bands,band_bits", [(4, 16), (2, 32)])
def test_wide_band_geometry_lossless_within_radius(spark, n_bands, band_bits):
    """MIH scale geometries: exact band match is lossless for hamming ≤
    n_bands-1 (pigeonhole), verified against brute force on phashes
    crafted to stress band boundaries and int64 sign handling."""
    base = 0x0123456789ABCDEF
    rows = [
        ("a", base),
        ("b", base ^ 0b1),                       # hamming 1, low band
        ("c", base ^ (1 << 63)),                 # hamming 1, sign bit
        ("d", base ^ ((1 << 15) | (1 << 16))),   # straddles a 16-bit edge
        ("e", ~base & 0xFFFFFFFFFFFFFFFF),       # hamming 64
        ("f", base ^ ((1 << 63) | (1 << 62) | (1 << 61))),  # 3 bits one band
    ]
    radius = n_bands - 1
    df = imgs_df(spark, rows)
    got = {
        frozenset((p.image_id, p.dup_of))
        for p in neardup.near_dup_pairs(
            df, df, 0, n_bands=n_bands, band_bits=band_bits
        ).collect()
        if p.hamming <= radius
    }
    assert got == _brute_pairs_radius(rows, radius)


def test_band_index_wide_geometry_roundtrip(spark, tmp_path_factory, monkeypatch):
    """BandIndex with the 4x16 geometry finds cross-round planted dups
    within the guaranteed radius and writes n_bands rows per new image,
    through both the direct verify and the bloom-probe verify."""
    from pyspider_spark.tables import TableStore

    base = 0x0123456789ABCDEF
    for direct_max in (neardup.DIRECT_VERIFY_MAX_BAND_ROWS, 0):
        monkeypatch.setattr(neardup, "DIRECT_VERIFY_MAX_BAND_ROWS", direct_max)
        store = TableStore(spark, str(tmp_path_factory.mktemp("bandidx16")))
        idx = neardup.BandIndex(store, n_bands=4, band_bits=16)
        r0 = imgs_df(spark, [("r0a", base), ("r0b", 0x7EDCBA9876543210)])
        idx.append_round(idx.band_rows(r0), 0)
        assert store.last_append_rows("image_bands") == 4 * 2
        r1 = imgs_df(spark, [("r1a", base ^ 0b101), ("r1b", 0x1111222233334444)])
        got = {
            (p.image_id, p.dup_of, p.hamming)
            for p in idx.pairs_vs_corpus(idx.band_rows(r1), 1).collect()
        }
        assert got == {("r1a", "r0a", 2)}, f"DIRECT_VERIFY_MAX_BAND_ROWS={direct_max}"


def test_choose_geometry_rule():
    assert neardup.choose_geometry(1_000) == (8, 8)
    assert neardup.choose_geometry(1_000_000) == (4, 16)
    assert neardup.choose_geometry(10**10) == (2, 32)
    for n in (10**3, 10**6, 10**10):
        nb, bb = neardup.choose_geometry(n)
        assert nb * bb == 64


def test_engine_accepts_wide_geometry(spark, tmp_path_factory):
    """The engine runs end-to-end with a non-default geometry and only
    reports pairs within that geometry's guaranteed radius."""
    wd = str(tmp_path_factory.mktemp("ndwide"))
    eng = CrawlEngine(
        spark, wd, GraphSpec(n_hosts=2, chains_per_host=2),
        n_seen_partitions=4, neardup_geometry=(4, 16),
    )
    eng.run(max_rounds=2)
    nd = eng.store.read_or_empty("near_dup_images", neardup.NEAR_DUP_IMAGES)
    assert all(r.hamming <= 3 for r in nd.collect())


def test_sized_bloom_grows_and_stays_sparse(spark):
    import pandas as pd

    small = neardup._sized_bloom(pd.Series([f"k{i}" for i in range(10)]), 0)
    big = neardup._sized_bloom(pd.Series([f"k{i}" for i in range(200_000)]), 0)
    assert len(big) > len(small)
    import numpy as np

    for blob in (small, big):
        density = np.unpackbits(np.frombuffer(blob, dtype=np.uint8)).mean()
        assert density <= neardup.SATURATION_DENSITY


# ------------------------------------------------------------ fetch cache


def digest_tables(eng):
    import hashlib

    out = {}
    for name, schema in [("seen", SEEN), ("items", ITEMS), ("images", IMAGES), ("metrics", METRICS)]:
        df = eng.store.read_or_empty(name, schema)
        rows = sorted(repr(sorted(r.asDict().items())) for r in df.collect())
        out[name] = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return out


def test_fetch_cache_identical_outputs(spark, tmp_path_factory):
    """The memo-cache must never change results (deterministic fetcher):
    all output tables byte-identical with and without it; the cache
    table fills up."""
    spec = GraphSpec(n_hosts=2, chains_per_host=2, seed_tag="memo1")
    wd_a = str(tmp_path_factory.mktemp("nocache"))
    a = CrawlEngine(spark, wd_a, spec, n_seen_partitions=4)
    a.run(max_rounds=3)

    wd_b = str(tmp_path_factory.mktemp("cache"))
    b = CrawlEngine(spark, wd_b, spec, n_seen_partitions=4, fetch_cache_ttl_rounds=2)
    b.run(max_rounds=3)

    assert digest_tables(a) == digest_tables(b)
    cached = b.store.read_or_empty("fetch_cache", FETCH_CACHE)
    assert cached.count() > 0
    # cache keys are unique per (url, round) and rows carry real bodies
    assert cached.filter(F.col("status") == 200).count() > 0


def test_fetch_cache_skips_failures_and_serves_hits(spark, tmp_path_factory):
    """Failures and captcha bodies are never memoized — a retry must be
    able to observe a recovered fetch once the real-network fetcher is
    swapped in. Every successful fetch is cached exactly once, and
    re-presenting an already-cached URL is a pure cache hit (nothing
    re-appended, cached body returned)."""
    from pyspider_spark.synth import CAPTCHA_MARKER

    spec = GraphSpec(n_hosts=3, chains_per_host=3, fail_rate_pct=20, seed_tag="memo2")
    wd = str(tmp_path_factory.mktemp("warm"))
    eng = CrawlEngine(spark, wd, spec, n_seen_partitions=4, fetch_cache_ttl_rounds=10)
    stats = eng.run(max_rounds=4)
    assert sum(s.retried for s in stats) > 0, "fixture must produce retries"
    cache = eng.store.read_or_empty("fetch_cache", FETCH_CACHE)
    assert (
        cache.filter(
            (F.col("status") >= 500) | F.col("body").contains(CAPTCHA_MARKER)
        ).count()
        == 0
    )
    n_cache = cache.count()
    # deterministic fixture: an ok URL is popped exactly once → cached
    # exactly once; failed/captcha pops never land in the cache.
    assert n_cache == sum(s.fetched_ok for s in stats) > 0

    # hit path: re-present 5 cached URLs as a fresh popped batch — all
    # hits, so nothing is appended and the cached bodies come back.
    sample = cache.limit(5)
    popped = sample.select(
        F.col("url_canon").alias("url"),
        "url_canon",
        F.lit("h").alias("host"),
        F.lit(5).alias("priority"),
        F.lit(4).cast("long").alias("exetime"),
        F.lit(0).alias("retries"),
        F.lit(3).alias("max_retries"),
        F.lit("list").alias("stage"),
        F.lit(None).cast("map<string,string>").alias("meta"),
        F.lit(4).alias("round_added"),
        F.lit("t").alias("lineage"),
        F.lit(0).alias("salt"),
        F.lit(True).alias("vetted"),
    )
    out = eng._fetch_with_memo(popped, r=4)
    got = {r.url_canon: r.body for r in out.collect()}
    want = {r.url_canon: r.body for r in sample.collect()}
    assert got == want and len(got) == 5
    assert eng.store.read_or_empty("fetch_cache", FETCH_CACHE).count() == n_cache


def test_band_index_geometry_pinned(spark, tmp_path_factory):
    """Band-key geometry is a persistent property of the stored index:
    keys written under (8,8) can never match keys probed under (4,16),
    so a reopen with different geometry must raise, not silently miss
    every stored near-dup."""
    import pytest

    from pyspider_spark import neardup
    from pyspider_spark.tables import TableStore

    store = TableStore(spark, str(tmp_path_factory.mktemp("bandgeom")))
    idx = neardup.BandIndex(store, n_bands=8, band_bits=8)
    imgs = spark.createDataFrame(
        [("i1", 12345), ("i2", 99999)], "image_id string, phash long"
    )
    idx.append_round(idx.band_rows(imgs), 0)
    with pytest.raises(ValueError, match="geometry"):
        neardup.BandIndex(store, n_bands=4, band_bits=16)
    # same geometry reopens fine
    neardup.BandIndex(store, n_bands=8, band_bits=8)
