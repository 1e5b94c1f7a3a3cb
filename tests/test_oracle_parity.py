"""Every oracled query in the registry must match DuckDB bit-for-bit —
the local replica of the driver's CORRECTNESS gate (run at sf0.001 to
keep the suite fast; the driver runs the same pairs at sf0.01)."""

from __future__ import annotations

import os

import pytest

from pyspider_spark import queries as Q

from . import dedup_reference as R
from .parity import compare, duck_run

SF = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")

# resolve lazy oracles (sql_fn) exactly as the driver's oracle_sql()
# call does — r4: crawl_roundloop + m_image_pipeline moved from
# rows-only to fully oracled, so ROWS_ONLY is empty when both resolve
_OSQL = Q.oracle_sql()
ORACLED = sorted(_OSQL)
ROWS_ONLY = [name for name in Q.REGISTRY if name not in _OSQL]


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_parity(spark, name):
    q = Q.REGISTRY[name]
    ok, msg = compare(q.fn(spark, SF), duck_run(_OSQL[name], SF))
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY or ["__none__"])
def test_rows_only_queries_run(spark, name):
    if name == "__none__":
        pytest.skip("every registry query is oracled")
    df = Q.REGISTRY[name].fn(spark, SF)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0
    qs, os_ = E.queries(), E.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30


def test_ngram_lsh_vs_exact_properties(spark):
    """The LSH-blocked default must (a) find every high-jaccard pair
    the lang-blocked exact variant finds, and (b) find cross-lang
    duplicates the lang block structurally misses."""
    from pyspider_spark.data import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    lsh = {(r.doc_a, r.doc_b): r.jaccard_bp
           for r in D.ngram_jaccard_pairs(docs, 500).collect()}
    exact = {(r.doc_a, r.doc_b): r.jaccard_bp
             for r in R.ngram_jaccard_pairs_exact(docs, 500).collect()}
    high = {k for k, v in exact.items() if v >= 9000}
    assert high and high <= set(lsh), "missed a high-jaccard same-lang pair"
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    cross = [k for k in lsh if langs.get(k[0]) != langs.get(k[1])]
    assert cross, "LSH blocking should surface cross-lang duplicates"


def test_minhash_wide_geometry(spark):
    """Scale geometry (32 hashes x 8 bands, r=4): high-jaccard pairs
    are still found, and the two geometries agree exactly on every pair
    both surface (the verify stage is geometry-independent exact
    Jaccard). No subset relation between the candidate sets is asserted:
    each geometry hashes its own minhash family, so a moderate-jaccard
    pair can collide in one family's bands and not the other's."""
    from pyspider_spark.data import dedup as D

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = {(r.doc_a, r.doc_b): r.jaccard_bp
            for r in D.minhash_near_dups(docs, 4000).collect()}
    wide = {(r.doc_a, r.doc_b): r.jaccard_bp
            for r in D.minhash_near_dups(
                docs, 4000, n_minhash=32, n_bands=8).collect()}
    high = {k for k, v in base.items() if v >= 9000}
    assert high and high <= set(wide), "wide geometry lost a near-exact pair"
    for k, v in wide.items():
        if k in base:
            assert v == base[k], "exact-Jaccard verify must not depend on geometry"
    assert D.choose_minhash_geometry(10**4) == (8, 4)
    assert D.choose_minhash_geometry(10**8) == (32, 8)
    assert D.choose_minhash_geometry(10**10) == (128, 16)


def test_minhash_udf_matches_sql(spark):
    """The Arrow-batched shingle+minhash path must be bit-identical to
    the pure-SQL reference construction the DuckDB oracle mirrors —
    on the corpus fixture AND on tokenization edge cases (leading
    non-space whitespace, trailing separators, empty/None text, NBSP,
    multi-byte UTF-8)."""
    from pyspider_spark.data import dedup as D

    def snap(df):
        return {
            r.doc_id: (sorted(r.shingles), [r[f"mh{i}"] for i in range(D.N_MINHASH)],
                       [r[f"band{b}"] for b in range(D.N_BANDS)])
            for r in df.select(
                "doc_id", "shingles",
                *[f"mh{i}" for i in range(D.N_MINHASH)],
                *[f"band{b}" for b in range(D.N_BANDS)],
            ).collect()
        }

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert snap(D.minhash_signature(docs)) == snap(R.minhash_signature_sql(docs))

    edge = spark.createDataFrame(
        [
            (1, "\tleading tab then words a b c d e f"),
            (2, "trailing newline a b c d e\n"),
            (3, "  double  spaces   between tokens here now  "),
            (4, ""),
            (5, None),
            (6, "short doc"),
            (7, "nbsp joined tokens stay one token a b c d"),
            (8, "múlti býte ütf8 tøkens å b c d e"),
            (9, "a b c d e a b c d e a b c d e"),
            (10, " \t mixed \r\n ws \x0b forms \f here a b c"),
        ],
        "doc_id int, text string",
    )
    assert snap(D.minhash_signature(edge)) == snap(R.minhash_signature_sql(edge))


def test_minhash_udf_matches_sql_fuzz(spark):
    """Seeded fuzz corpus over a hostile alphabet (every ASCII
    whitespace form, Unicode whitespace that Java \\s does NOT match,
    control chars, combining marks, CJK, emoji): the Python tokenizer
    mirror must track Spark's trim/split semantics exactly."""
    import random

    from pyspider_spark.data import dedup as D

    rng = random.Random(20260821)
    atoms = (
        [" ", "\t", "\n", "\r", "\x0b", "\f"]  # Java \s (ASCII)
        + [" ", " ", " ", "　"]  # Unicode WS: NOT \s in Java
        + ["\x00", "\x1f", "\x7f"]  # control chars
        + ["a", "b", "word", "Wort", "ça", "słowo", "文字", "😀", "é"]
        + ["0", "42", ".", "-", "a:b"]
    )
    docs = [
        (i, "".join(rng.choice(atoms) for _ in range(rng.randint(0, 40))))
        for i in range(300)
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    def snap(out):
        return {
            r.doc_id: (sorted(r.shingles), [r[f"mh{i}"] for i in range(D.N_MINHASH)])
            for r in out.select(
                "doc_id", "shingles", *[f"mh{i}" for i in range(D.N_MINHASH)]
            ).collect()
        }

    got, want = snap(D.minhash_signature(df)), snap(R.minhash_signature_sql(df))
    assert got == want
    # and the UDF must agree the same docs were shingle-less
    assert set(got) == set(want)
