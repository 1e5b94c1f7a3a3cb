"""Pure-SQL reference forms of the ``data/dedup`` operators.

These pin equivalence only: ``minhash_signature_sql`` is the Spark SQL
construction the DuckDB oracles mirror, against which the Arrow-batched
``dedup.minhash_signature`` must stay bit-identical, and
``ngram_jaccard_pairs_exact`` is the quadratic lang-blocked Jaccard
that the LSH-blocked ``dedup.ngram_jaccard_pairs`` is checked against
for recall. Neither runs in the package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspider_spark.data.dedup import (
    MINHASH_PRIME,
    N_BANDS,
    N_MINHASH,
    NGRAM_K,
    SHINGLE_K,
    TOKENS_SQL,
    _band_columns,
    h32_sql,
    jaccard_bp,
    minhash_affine_consts,
)


def shingle_sql(tokens_sql: str, k: int) -> str:
    """Spark-SQL: distinct hashed k-token shingles of a token array.
    Docs shorter than k yield an empty array (guarded — Spark's
    sequence(1, 0) would count DOWN)."""
    joined = f"array_join(slice({tokens_sql}, i, {k}), ' ')"
    return (
        f"case when size({tokens_sql}) >= {k} then "
        f"array_distinct(transform(sequence(1, size({tokens_sql}) - {k - 1}), "
        f"i -> {h32_sql(joined)})) else array() end"
    )


def with_shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    return docs.withColumn("shingles", F.expr(shingle_sql(TOKENS_SQL, k)))


def minhash_signature_sql(
    docs: DataFrame,
    k: int = SHINGLE_K,
    n_minhash: int = N_MINHASH,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Pure-SQL construction of ``dedup.minhash_signature`` — the shape
    the DuckDB oracle mirrors.

    All N minhashes come from ONE projection over the shingle array:
    Spark has no common-subexpression elimination across lambda
    columns, so N separate ``array_min(transform(shingles, ...))``
    columns would each re-evaluate the md5 shingle extraction. Each
    permutation is an affine map over the already-hashed shingles
    (``minhash_affine_consts``)."""
    assert n_minhash % n_bands == 0, "bands must tile the signature"
    df = with_shingles(docs, k).filter(F.size("shingles") > 0)
    perms = ", ".join(
        f"array_min(transform(shingles, h -> ({a}L * h + {b}L) % {MINHASH_PRIME}L))"
        for a, b in (minhash_affine_consts(i) for i in range(n_minhash))
    )
    df = df.withColumn("_mhs", F.expr(f"array({perms})"))
    df = df.select(
        "*", *[F.element_at("_mhs", i + 1).alias(f"mh{i}") for i in range(n_minhash)]
    ).drop("_mhs")
    return _band_columns(df, n_minhash, n_bands)


def ngram_jaccard_pairs_exact(
    docs: DataFrame, threshold_bp: int = 500, k: int = NGRAM_K
) -> DataFrame:
    """Direct pairwise n-gram Jaccard, blocked by ``lang`` (quadratic
    within a block)."""
    sh = with_shingles(docs, k).filter(F.size("shingles") > 0).select(
        "doc_id", "lang", "shingles"
    )
    a = sh.select(
        F.col("lang"),
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
    )
    b = sh.select(
        F.col("lang"),
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
    )
    return (
        a.join(b, on="lang")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard_bp", F.expr(jaccard_bp("sh_a", "sh_b")))
        .filter(F.col("jaccard_bp") >= threshold_bp)
        .select("doc_a", "doc_b", "jaccard_bp")
    )
