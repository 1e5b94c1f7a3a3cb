"""Deduplication operators over the ``documents`` table.

Exact (fingerprint group), MinHash+LSH (shingle → minhash → band →
bucket self-join), SimHash, and n-gram Jaccard — the standard
training-corpus near-dup ladder. The crawl engine's URL dedup
(seen.py) removes re-fetches; these remove *content* duplicates after
fetch.

Portability contract: strings are hashed exactly once with ``h32`` =
first-8-hex-chars of md5, parsed as an unsigned 32-bit integer — both
Spark (``conv(substr(md5(x),1,8),16,10)``) and DuckDB
(``('0x'||substr(md5(x),1,8))::BIGINT``) produce the identical value.
The N MinHash permutations on top of the shingle hashes are
Carter-Wegman affine maps ``(a_i*h + b_i) mod P`` over int64 — the
constants are sized (``a_i < 2^30``, ``h < 2^32``) so the product
stays under 2^62 and BOTH engines evaluate the arithmetic exactly, so
the DuckDB oracle replays MinHash/SimHash/LSH bit-for-bit. (An earlier
revision seeded md5 per (i, shingle): correct but ~N md5 calls per
shingle element inside an interpreted lambda — the same
interpreted-fold cost shape the ANN signature had. The affine family
is the standard published MinHash construction and costs one multiply
per element.)

Scale notes (100 TB):
- Signatures are per-row, no shuffle: one Arrow-batched pass per doc
  batch (shingle_minhash_udf — hashlib per shingle + an int64 affine
  matmul); the pure-SQL construction that pins it bit for bit is
  ``tests/dedup_reference.minhash_signature_sql``. Band keys are
  codegen md5.
- LSH candidate generation shuffles once on the band key — the whole
  point of banding is that this shuffle is tiny (4 rows/doc) compared
  with the quadratic all-pairs join it replaces; band-key hot spots
  (boilerplate docs) are handled by AQE skew-join splitting.
- The verify stage joins text back in only for candidate pairs
  (a small fraction), never all-pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import fingerprint

N_MINHASH = 8
N_BANDS = 4          # 4 bands x 2 rows: collision prob ~ 1-(1-j^2)^4
ROWS_PER_BAND = N_MINHASH // N_BANDS
SHINGLE_K = 5        # word-shingle width for MinHash
NGRAM_K = 3          # word-shingle width for direct Jaccard
SIMHASH_BITS = 32


def choose_minhash_geometry(corpus_size: int) -> tuple[int, int]:
    """(n_minhash, n_bands) sized for the corpus.

    The banded-LSH S-curve puts the candidate threshold at roughly
    ``(1/b)^(1/r)`` with ``b`` bands of ``r`` rows; candidate volume per
    band bucket grows with collision probability ``j^r`` summed over
    the corpus. The default 8x4 (r=2) is fine at test scale but a
    boilerplate-heavy web corpus at 10^9+ docs collides ~j² — one hot
    band bucket can approach the whole corpus. Raising rows-per-band
    sharpens the curve (j^4: a 0.5-jaccard pair collides 6% per band
    instead of 25%) at the cost of more signature compute, which is a
    per-row codegen projection and scales linearly — the right trade
    at 100 TB:

      corpus size        geometry    rows/band   threshold (1/b)^(1/r)
      <= ~10^6           8 x 4       2           0.50
      ~10^6 .. ~10^9     32 x 8      4           0.59
      >  ~10^9           128 x 16    8           0.71

    The (1/b)^(1/r) formula already integrates the OR over all b bands,
    so the top tier's threshold really is ≈0.71 — there is no further
    "OR-of-bands" discount. Callers verifying at a LOWER threshold than
    the tier provides must buy recall with more bands: at r=8, a ~0.6
    knee needs b = (1/0.6)^8 ≈ 60 → 64 bands x 8 rows = 512 hashes
    (band count grows as (1/t)^r). The 128x16 tier deliberately accepts
    the 0.71 knee to cap signature cost at 128 hashes/doc; pairs in the
    0.4-0.7 jaccard range have low candidate recall there, so pair it
    with ``threshold_bp >= 7000`` (near-dup policy) rather than the
    default 4000 (fuzzy-match policy).
    """
    if corpus_size <= 1_000_000:
        return 8, 4
    if corpus_size <= 1_000_000_000:
        return 32, 8
    return 128, 16


# Carter-Wegman MinHash permutation family: mh_i(h) = (a_i*h + b_i) mod P.
# P is the smallest prime above 2^32 (every 32-bit shingle hash is a
# distinct residue); a_i is odd and < 2^30 so a_i*h < 2^62 — exact in
# signed int64 on both Spark and DuckDB. Constants derive from md5 of
# the index: deterministic, no RNG, reproducible from the source alone.
MINHASH_PRIME = 4294967311


def minhash_affine_consts(i: int) -> tuple[int, int]:
    import hashlib

    a = int(hashlib.md5(f"mh-a-{i}".encode()).hexdigest()[:8], 16) % (1 << 30) | 1
    b = int(hashlib.md5(f"mh-b-{i}".encode()).hexdigest()[:8], 16)
    return a, b


def h32_sql(arg_sql: str) -> str:
    """Spark-SQL snippet for the portable 32-bit hash of a string expr."""
    return f"cast(conv(substr(md5({arg_sql}), 1, 8), 16, 10) as bigint)"


def h32_duck(arg_sql: str) -> str:
    """DuckDB snippet computing the identical value."""
    return f"(('0x' || substr(md5({arg_sql}), 1, 8))::BIGINT)"


def _shingle_duck(tokens_sql: str, k: int) -> str:
    joined = f"array_to_string({tokens_sql}[i:i+{k - 1}], ' ')"
    return (
        f"case when len({tokens_sql}) >= {k} then "
        f"list_distinct(list_transform(range(1, len({tokens_sql}) - {k - 2}), "
        f"i -> {h32_duck(joined)})) else [] end"
    )


TOKENS_SQL = r"split(trim(text), '\\s+')"
TOKENS_DUCK = r"string_split_regex(trim(text), '\s+')"


# ---- vectorized shingle+minhash path (the 10^9-doc hot loop) ----
#
# The SQL shingle extraction is a higher-order transform whose lambda
# body (slice → array_join → md5 → conv) is evaluated INTERPRETED per
# element — Spark does not codegen higher-order-function lambdas, so a
# 54-token doc pays ~50 interpreted md5-over-built-string evaluations,
# and the affine minhash folds add n_minhash more interpreted passes.
# At sf0.1 that was ~60% of d_minhash_sig/pairs wall time; at 10^9
# docs it is the dominant pipeline cost. The Arrow UDF below computes
# the IDENTICAL integers in one batched pass (hashlib per shingle +
# one (n_minhash x n_shingles) int64 affine matmul), mirroring Spark's
# exact tokenization semantics:
#   - trim(text): strips 0x20 SPACE only (both ends)
#   - split(_, '\s+'): Java \s is ASCII [ \t\n\x0B\f\r]; limit -1
#     keeps leading/trailing empty tokens
#   - array_distinct: first-occurrence order (order is immaterial
#     downstream — min-fold and set-intersect only — but kept equal)
# Bit equality with the SQL path (tests/dedup_reference.py) is pinned by
# tests/test_oracle_parity.py::test_minhash_udf_matches_sql, and
# transitively by the d_minhash_sig / d_minhash_pairs DuckDB oracles.

_JAVA_WS = None  # compiled lazily inside the UDF worker


def _shingle_hashes_py(text, k: int) -> list[int]:
    """Exact Python mirror of the SQL shingle transform over TOKENS_SQL
    (``tests/dedup_reference.shingle_sql``)."""
    import hashlib
    import re

    global _JAVA_WS
    if _JAVA_WS is None:
        _JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")
    if text is None:
        return []
    toks = _JAVA_WS.split(text.strip(" "))
    n = len(toks)
    if n < k:
        return []
    out = dict.fromkeys(
        int(
            hashlib.md5(" ".join(toks[i : i + k]).encode("utf-8")).hexdigest()[:8],
            16,
        )
        for i in range(n - k + 1)
    )
    return list(out)


def shingle_minhash_udf(k: int, n_minhash: int):
    """pandas UDF: text → struct(shingles array<long>, mhs array<long>),
    bit-identical to the SQL shingle transform + affine min-folds.
    Docs with no shingles return empty arrays (caller filters)."""
    consts = [minhash_affine_consts(i) for i in range(n_minhash)]
    a_vec = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
    b_vec = np.array([b for _, b in consts], dtype=np.int64)[:, None]

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("shingles", T.ArrayType(T.LongType())),
                T.StructField("mhs", T.ArrayType(T.LongType())),
            ]
        )
    )
    def f(texts: pd.Series) -> pd.DataFrame:
        shingles, mhs = [], []
        for t in texts:
            hs = _shingle_hashes_py(t, k)
            shingles.append(hs)
            if hs:
                h = np.array(hs, dtype=np.int64)[None, :]
                # a < 2^30, h < 2^32 → a*h + b < 2^62: exact in int64
                mh = ((a_vec * h + b_vec) % MINHASH_PRIME).min(axis=1)
                mhs.append(mh.tolist())
            else:
                mhs.append([])
        return pd.DataFrame({"shingles": shingles, "mhs": mhs})

    return f


def minhash_signature(
    docs: DataFrame,
    k: int = SHINGLE_K,
    n_minhash: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """doc_id + shingles + mh0..mh{N-1} + band0..band{B-1} (docs with
    ≥k tokens). Shingle hashes and minhashes come from ONE Arrow-batched
    UDF pass (see shingle_minhash_udf); band keys are plain codegen md5
    over the extracted mh columns. Values are bit-identical to the
    reference SQL construction the DuckDB oracles replay
    (``tests/dedup_reference.minhash_signature_sql``)."""
    assert n_minhash % n_bands == 0, "bands must tile the signature"
    sm = shingle_minhash_udf(k, n_minhash)
    df = (
        docs.withColumn("_sm", sm(F.col("text")))
        .withColumn("shingles", F.col("_sm.shingles"))
        .filter(F.size("shingles") > 0)
    )
    df = df.select(
        "*",
        *[F.element_at("_sm.mhs", i + 1).alias(f"mh{i}") for i in range(n_minhash)],
    ).drop("_sm")
    return _band_columns(df, n_minhash, n_bands)


def _band_columns(df: DataFrame, n_minhash: int, n_bands: int) -> DataFrame:
    rows_per_band = n_minhash // n_bands
    for b in range(n_bands):
        parts = ", ".join(
            f"cast(mh{b * rows_per_band + r} as string)"
            for r in range(rows_per_band)
        )
        df = df.withColumn(
            f"band{b}", F.md5(F.expr(f"concat_ws(':', '{b}', {parts})"))
        )
    return df


def lsh_candidate_pairs(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """Band-bucket self-join → distinct candidate (doc_a < doc_b) pairs.
    One shuffle on the band key; no all-pairs join."""
    bands = sigs.select(
        "doc_id",
        F.explode(F.array(*[F.col(f"band{b}") for b in range(n_bands)])).alias(
            "band_key"
        ),
    )
    left = bands.alias("l")
    right = bands.alias("r")
    return (
        left.join(right, on="band_key")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_bp(a_shingles: str, b_shingles: str) -> str:
    """Spark-SQL: floor(10000 * |A∩B| / |A∪B|) — integer basis points.
    Inputs are already-distinct shingle-hash arrays."""
    inter = f"size(array_intersect({a_shingles}, {b_shingles}))"
    union = f"size(array_distinct(concat({a_shingles}, {b_shingles})))"
    return f"cast(floor({inter} * 10000.0 / greatest({union}, 1)) as bigint)"


def jaccard_bp_duck(a: str, b: str) -> str:
    inter = f"len(list_intersect({a}, {b}))"
    union = f"len(list_distinct(list_cat({a}, {b})))"
    return f"cast(floor({inter} * 10000.0 / greatest({union}, 1)) as bigint)"


def minhash_near_dups(
    docs: DataFrame,
    threshold_bp: int = 4000,
    k: int = SHINGLE_K,
    n_minhash: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates →
    exact-Jaccard verify on candidates only. Signatures are persisted:
    three consumers (band explode, verify left, verify right) would
    otherwise each re-run the md5 shingle extraction.

    Geometry defaults to 8x4 (mirrored by the DuckDB oracle); pass
    ``choose_minhash_geometry(corpus_size)`` at scale. The verify stage
    is geometry-independent (exact Jaccard on candidates), so two
    geometries always AGREE on the pairs both surface; the candidate
    SETS are not nested in general — each geometry hashes its own
    minhash family, so a moderate-jaccard pair can collide in one
    family's bands and not the other's. What a wider geometry buys is a
    sharper S-curve (far fewer sub-knee candidates in expectation), not
    a subset guarantee."""
    from pyspark import StorageLevel

    sigs = minhash_signature(docs, k, n_minhash=n_minhash, n_bands=n_bands).select(
        "doc_id", "shingles", *[f"band{b}" for b in range(n_bands)]
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pairs = lsh_candidate_pairs(sigs, n_bands=n_bands)
    # At scale the verify joins are pinned sort-merge: the shingle
    # side's in-memory size is many times its compressed shuffle stats
    # (int64 arrays), and at 10M docs AQE's estimate put it under the
    # broadcast threshold — the driver then died building an >8 GB
    # broadcast. SMJ on doc id is the correct 10^9-doc plan. The plan
    # choice keys off the geometry the caller already sized to the
    # corpus (choose_minhash_geometry): the small-corpus default 8x4
    # keeps AQE's broadcast freedom (measured ~2x faster at sf0.1),
    # every at-scale geometry forces SMJ.
    sh = sigs.select("doc_id", "shingles")
    if n_bands > 4:
        sh = sh.hint("merge")
    verified = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), on="doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), on="doc_b")
        .withColumn("jaccard_bp", F.expr(jaccard_bp("sh_a", "sh_b")))
        .filter(F.col("jaccard_bp") >= threshold_bp)
        .select("doc_a", "doc_b", "jaccard_bp")
    )
    return verified


def ngram_jaccard_pairs(
    docs: DataFrame, threshold_bp: int = 500, k: int = NGRAM_K
) -> DataFrame:
    """n-gram Jaccard near-dup pairs, LSH-blocked BY DEFAULT (the scale
    path): minhash-banded candidate generation over k-token shingles,
    exact Jaccard verify ≥ threshold on candidates only — one band-key
    shuffle, never an all-pairs join. Properties: identical shingle
    sets are GUARANTEED candidates (equal shingles ⇒ equal minhashes ⇒
    equal bands) and recall follows the banded-LSH S-curve (measured on
    the sf0.01 fixture: all 6 exact pairs ≥ .95 jaccard found, the one
    .05-jaccard pair missed); unlike the lang-blocked variant it also
    finds CROSS-language duplicates (19 extra true pairs on the same
    fixture). The quadratic lang-blocked variant lives in
    ``tests/dedup_reference.ngram_jaccard_pairs_exact`` as a recall
    reference only — at 100 TB one language block is effectively the
    whole corpus, making it O(n²)."""
    return minhash_near_dups(docs, threshold_bp=threshold_bp, k=k)


def simhash(docs: DataFrame) -> DataFrame:
    """32-bit SimHash over token hashes: per bit, sum +1/-1 across the
    doc's tokens; bit set iff the sum is positive.

    Implemented as explode → one groupBy(doc_id) with 32 conditional
    sums (map-side partial agg makes the shuffle tiny: 1 row/doc)."""
    tok = docs.select(
        "doc_id", F.explode(F.expr(TOKENS_SQL)).alias("tok")
    ).withColumn("th", F.expr(h32_sql("tok")))
    aggs = [
        F.sum(
            F.when(F.expr(f"(th >> {b}) & 1 = 1"), F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("doc_id").agg(*aggs)
    expr = " + ".join(
        f"(case when s{b} > 0 then cast({1 << b} as bigint) else 0 end)"
        for b in range(SIMHASH_BITS)
    )
    return sums.select("doc_id", F.expr(expr).alias("simhash"))


def simhash_near_dups(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """SimHash near-dup pairs: block on 8-bit bands (a pair within
    hamming ≤ 6 of 32 bits must agree exactly on ≥1 of 4 bands), then
    exact hamming check on candidates."""
    sh = simhash(docs)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.expr(f"concat('{b}:', cast((simhash >> {8 * b}) & 255 as string))")
                    for b in range(4)
                ]
            )
        ).alias("band_key"),
    )
    l = bands.select(
        F.col("band_key"),
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
    )
    r = bands.select(
        F.col("band_key"),
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
    )
    return (
        l.join(r, on="band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("bit_count(sim_a ^ sim_b)").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per content fingerprint."""
    fp = docs.withColumn("fp", fingerprint(F.col("text")))
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


# ---- duplicate-cluster formation (pairs → clusters → survivors) ----
#
# The near-dup primitives above emit PAIRS; a real training-data dedup
# pass must resolve the pair graph into transitive clusters and keep
# exactly one survivor per cluster (A~B, B~C ⇒ {A,B,C} is one cluster
# even when A~C is below threshold). Connected components via
# min-label propagation with path-halving pointer jumps:
#
#   label(v) ← min(label(v), min over neighbors' labels)   [one SMJ+agg]
#   label(v) ← label(label(v))                             [path halving]
#
# Labels are monotone non-increasing node ids, so at fixpoint every
# edge joins equal labels and each component carries its MIN doc_id —
# the same keep-min-doc_id survivor policy as exact_dedup_keep_first.
# Path halving makes convergence O(log diameter) rounds instead of
# O(diameter); near-dup graphs are mostly tiny cliques plus the odd
# boilerplate chain, so this typically terminates in 2-4 rounds.
#
# Scale notes (10^9+ docs): every join/agg shuffles on doc_id only
# (slim 2-int64 rows — the pair graph is a small fraction of the
# corpus); per-round results are localCheckpoint'ed to truncate the
# iterative lineage (on a real cluster point
# spark.sparkContext.setCheckpointDir at durable storage and swap in
# .checkpoint() if executor loss must be survivable mid-computation).
# Convergence is detected by a scalar SUM(label) aggregate (labels
# strictly decrease until fixpoint; DECIMAL(38,0) keeps the sum exact
# at any corpus size).


def connected_components(pairs: DataFrame, max_iters: int = 64) -> DataFrame:
    """(doc_id, cluster_id) for every doc in the pair graph, where
    cluster_id = min doc_id of the doc's connected component. Input
    needs only (doc_a, doc_b) columns; direction/duplicates ignored.

    Ids must be NUMERIC (integral): the fixpoint detector is an exact
    decimal label-sum, whose strict monotonicity is what makes
    sum-unchanged ⇔ labels-unchanged; string ids would decohere the
    lexicographic min from the numeric sum. Cast string ids first."""
    from pyspark import StorageLevel
    from pyspark.sql.types import NumericType

    for c in ("doc_a", "doc_b"):
        if not isinstance(pairs.schema[c].dataType, NumericType):
            raise TypeError(
                f"connected_components needs numeric ids; {c} is "
                f"{pairs.schema[c].dataType.simpleString()} — cast first"
            )

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        return _cc_iterate(edges, max_iters)
    finally:
        edges.unpersist()  # also on no-fixpoint raise / mid-loop failure


def _cc_iterate(edges: DataFrame, max_iters: int) -> DataFrame:
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(max_iters):
        nbr = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("label").alias("_nl")
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("_nl").alias("_nbr"))
            .withColumnRenamed("src", "node")
        )
        cand = labels.join(nbr, on="node", how="left").select(
            "node",
            F.least(F.col("label"), F.coalesce("_nbr", F.col("label"))).alias(
                "label"
            ),
        )
        # path halving: label ← label's label (labels are node ids, so
        # the parent row always exists; left+coalesce keeps it total)
        parent = cand.select(
            F.col("node").alias("_pn"), F.col("label").alias("_pl")
        )
        labels = (
            cand.join(parent, cand["label"] == parent["_pn"], "left")
            .select("node", F.coalesce("_pl", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if cur_sum == prev_sum:  # fixpoint: no label moved this round
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(
            f"connected_components: no fixpoint in {max_iters} rounds"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 64) -> DataFrame:
    """Resolve a near-dup pair list into duplicate clusters with the
    keep-first survivor policy: (doc_id, cluster_id, is_survivor) for
    every doc that appears in a pair. cluster_id is the component's min
    doc_id, which IS the survivor (matching exact_dedup_keep_first)."""
    cc = connected_components(pairs, max_iters)
    return cc.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    )


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, max_iters: int = 64
) -> DataFrame:
    """The actual dedup pass: drop every non-survivor cluster member,
    keep survivors and all singletons (docs in no pair). Anti-join on
    doc_id — the loser set is a small fraction of the corpus, so the
    big side shuffles once on its key (or AQE broadcasts the losers
    when they fit)."""
    losers = dedup_clusters(pairs, max_iters).filter(
        ~F.col("is_survivor")
    ).select("doc_id")
    return docs.join(losers, on="doc_id", how="left_anti")
