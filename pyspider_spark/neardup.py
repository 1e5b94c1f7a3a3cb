"""phash near-duplicate detection for the image payload (SURVEY §2.5 J5;
north star: "phash-based near-duplicate detection as a broadcast bloom
pre-filter").

Design (banded LSH over the 64-bit perceptual hash):

- the phash splits into 8 bands of 8 bits. Two images within hamming
  distance ≤ 7 MUST agree exactly on at least one band (pigeonhole), so
  banded equality is a lossless candidate filter for that radius.
- bloom filters over all previously-seen ``(band_id, band_value)``
  keys, one blob per band-key partition (``BandIndex``), are tiny (8
  keys/image) and prune brand-new images before any join: an image
  whose 8 band keys all miss the blooms has NO near-dup among seen
  images. The engine takes this probe only once the stored band rows
  exceed ``DIRECT_VERIFY_MAX_BAND_ROWS``; below it the probe costs more
  than the corpus scan it would prune.
- surviving candidates join the stored band rows on the band key; the
  exact ``bit_count(xor)`` hamming check keeps true pairs.

The crawl loop appends pairs to a ``near_dup_images`` table each round
(non-destructive: the images table keeps every row; dedup policy is a
downstream choice).

Scale notes: the band join shuffles only candidate band keys (8
rows/image), never pixels; AQE splits hot bands (boilerplate images).

Band geometry at scale (multi-index hashing, Norouzi et al. 2012): with
``n_bands`` bands of ``band_bits`` bits each (n_bands*band_bits = 64),
exact band equality is a LOSSLESS candidate filter for hamming ≤
n_bands-1 (pigeonhole), and each band has 2^band_bits buckets. The
expected verify-join bucket occupancy is corpus/2^band_bits, so the
geometry must widen as the corpus grows or the join degrades toward
quadratic and the band-key bloom saturates structurally (8-bit bands
have only 2048 distinct keys TOTAL — vacuous beyond ~10^3 images)::

  corpus size     geometry   guaranteed radius   keys/band
  <= ~10^4        8 x 8      <= 7                256
  ~10^4..10^8     4 x 16     <= 3                65,536
  >  ~10^8        2 x 32     <= 1                4.3e9

``choose_geometry`` encodes this rule. Wider bands trade guaranteed
recall radius for bucket sparsity; pairs beyond the guarantee are still
found whenever the differing bits happen to cluster in few bands, and
the exact hamming verify never admits false positives. The engine
default stays 8x8 (the test corpora are small and the driver oracle
mirrors it); a 100 TB deployment should construct the engine with
geometry (4, 16) or (2, 32).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .hashing import h64

N_HASHES = 5


def _bloom_positions(key: str, n_bits: int) -> list[int]:
    """Double hashing: pos_i = (h1 + i*h2) mod bits (Kirsch-Mitzenmacher)."""
    h1 = h64("bf1", key)
    h2 = h64("bf2", key) | 1
    return [(h1 + i * h2) % n_bits for i in range(N_HASHES)]


def bloom_build(keys: pd.Series, n_bits: int) -> bytes:
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    for k in keys:
        for p in _bloom_positions(k, n_bits):
            bits[p >> 3] |= 1 << (p & 7)
    return bits.tobytes()


def bloom_maybe_contains(keys: pd.Series, blob: bytes, n_bits: int) -> pd.Series:
    bits = np.frombuffer(blob, dtype=np.uint8)
    out = np.empty(len(keys), dtype=bool)
    for i, k in enumerate(keys):
        hit = True
        for p in _bloom_positions(k, n_bits):
            if not (bits[p >> 3] >> (p & 7)) & 1:
                hit = False
                break
        out[i] = hit
    return pd.Series(out, index=keys.index)


N_BANDS = 8
BAND_BITS = 8
MAX_HAMMING = N_BANDS - 1  # banded equality is lossless up to here


def choose_geometry(corpus_size: int) -> tuple[int, int]:
    """(n_bands, band_bits) sized so a band bucket stays sparse at the
    given corpus size (see module docstring)."""
    if corpus_size <= 10_000:
        return 8, 8
    if corpus_size <= 100_000_000:
        return 4, 16
    return 2, 32

NEAR_DUP_IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("dup_of", T.StringType(), False),
        T.StructField("hamming", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)


def band_keys(
    df: DataFrame,
    phash_col: str = "phash",
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
) -> DataFrame:
    """Explode each image row into its n_bands (band_key, ...) rows.

    The shift stays in int64 (band_bits=32 would overflow a signed
    mask), so the band value is extracted as an unsigned slice via
    ``>>`` then masked with the band-width's unsigned max."""
    mask = (1 << band_bits) - 1
    keys = F.array(
        *[
            F.format_string(
                f"{b}:%d",
                F.expr(
                    f"cast(({phash_col} >> {band_bits * b}) & {mask} as bigint)"
                ),
            )
            for b in range(n_bands)
        ]
    )
    return df.withColumn("band_key", F.explode(keys))


N_BAND_PARTITIONS = 64
BAND_BLOB_BITS_MIN = 1 << 14  # floor for one round's per-partition blob
BITS_PER_KEY = 16  # ≈0.1% FPR at 5 hashes
SATURATION_DENSITY = 0.3  # set-bit fraction that forces a blob resize

# Below this many stored band rows, the bloom probe + pid-collect cost
# more than the corpus scan they prune (each is its own fixed-latency
# Spark job; the probe also fans out Python workers) — verify directly
# instead. Identical output either way; see BandIndex.pairs_vs_corpus.
DIRECT_VERIFY_MAX_BAND_ROWS = 2_000_000


def band_pid(col):
    """Routes a band key to its bloom-blob partition (and is the
    row-group pruning key on the image_bands table)."""
    return F.pmod(F.xxhash64(col), F.lit(N_BAND_PARTITIONS)).cast("int")


def _sized_bloom(keys: pd.Series, n_bits_floor: int) -> bytes:
    """Bloom blob sized from the actual key count, with explicit
    saturation detection: if the built blob's set-bit density exceeds
    SATURATION_DENSITY the size doubles and the build repeats — a
    saturated blob silently passes everything, degrading the prefilter
    to a full corpus join."""
    n_bits = max(n_bits_floor, BAND_BLOB_BITS_MIN)
    want = 1 << (max(1, len(keys) * BITS_PER_KEY) - 1).bit_length()
    n_bits = max(n_bits, want)
    while True:
        blob = bloom_build(keys, n_bits)
        density = np.unpackbits(np.frombuffer(blob, dtype=np.uint8)).mean()
        if density <= SATURATION_DENSITY:
            return blob
        n_bits *= 2


class BandIndex:
    """Incremental banded-LSH index over the image corpus (J5 at scale).

    The images table is never re-exploded: each round indexes only its
    NEW images, appending to two tables.

    - ``image_bands``: append-only (band_key, image_id, phash, pid),
      written once per round for that round's NEW images only, sorted by
      pid so corpus reads prune row groups via parquet min/max stats.
    - ``phash_filters``: per-partition bloom blobs sized from the actual
      key count, appended per round and rebuilt right-sized at
      compaction; probes check each blob independently so
      blobs of different sizes coexist.

    Round cost (see :meth:`pairs_vs_corpus`): the verify join
    broadcasts the new images' band rows against a corpus scan that
    never shuffles. Above DIRECT_VERIFY_MAX_BAND_ROWS a cogrouped bloom
    probe over the new band keys (O(new)) first narrows the candidates,
    and the scan reads only the pids they touch.
    """

    bands_table = "image_bands"
    filters_table = "phash_filters"

    def __init__(self, store, n_bands: int = N_BANDS, band_bits: int = BAND_BITS):
        from .schemas import IMAGE_BANDS, PHASH_FILTERS

        assert n_bands * band_bits == 64, "bands must tile the 64-bit phash"
        self.store = store
        self.n_bands = n_bands
        self.band_bits = band_bits
        self._BANDS = IMAGE_BANDS
        self._FILTERS = PHASH_FILTERS
        self._validate_geometry()

    # Geometry is a persistent property of the stored index: band keys
    # like '3:255' written under (8,8) can never equal '1:65535'-style
    # keys probed under (4,16),
    # so a reopen with different geometry silently misses every
    # pre-switch near-dup. Recorded on first append, validated on open.
    def _meta_path(self) -> str:
        return os.path.join(
            self.store.root, "_manifests", f"{self.bands_table}_meta.json"
        )

    def _validate_geometry(self) -> None:
        p = self._meta_path()
        if not os.path.exists(p):
            return
        with open(p) as f:
            meta = json.load(f)
        if meta["n_bands"] != self.n_bands or meta["band_bits"] != self.band_bits:
            raise ValueError(
                f"{self.bands_table} was built with geometry "
                f"({meta['n_bands']}, {meta['band_bits']}); reopening with "
                f"({self.n_bands}, {self.band_bits}) would silently miss "
                "every stored near-dup (switch requires a full reindex)"
            )

    def _record_geometry(self) -> None:
        p = self._meta_path()
        if os.path.exists(p):
            return
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w") as f:
            json.dump({"n_bands": self.n_bands, "band_bits": self.band_bits}, f)

    def _blob_rows(self, round_no: int):
        """Per-pid bloom-blob row builder shared by the per-round append
        and the compaction rebuild (one definition of the FILTERS row)."""
        FILTERS_COLS = ["partition_id", "round", "n_items", "filter"]

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            pid = int(pdf["pid"].iloc[0])
            return pd.DataFrame(
                {
                    "partition_id": [pid],
                    "round": [round_no],
                    "n_items": [len(pdf)],
                    "filter": [_sized_bloom(pdf["band_key"], BAND_BLOB_BITS_MIN)],
                },
                columns=FILTERS_COLS,
            )

        return build

    def band_rows(self, images: DataFrame) -> DataFrame:
        """(band_key, image_id, phash, pid): n_bands rows per image.
        The engine computes this ONCE per round, persists it, and feeds
        it to every index operation below so the explode runs once."""
        return (
            band_keys(
                images.select("image_id", "phash"),
                n_bands=self.n_bands,
                band_bits=self.band_bits,
            )
            .withColumn("pid", band_pid(F.col("band_key")))
            .select("band_key", "image_id", "phash", "pid")
        )

    def append_round(self, bands: DataFrame, round_no: int) -> None:
        """Index this round's new images from their band rows: append
        the rows (sorted by pid for stats pruning) and one right-sized
        bloom blob per touched partition. The blob build groups the SAME
        frame instead of re-reading the just-written append."""
        self._record_geometry()
        self.store.append(self.bands_table, bands.sort("pid"))
        blobs = bands.groupBy("pid").applyInPandas(
            self._blob_rows(round_no), schema=self._FILTERS
        )
        self.store.append(self.filters_table, blobs)

    def has_corpus(self) -> bool:
        return self.store.count_rows(self.bands_table) > 0

    def _probe_ids(self, bands: DataFrame) -> DataFrame:
        """image_ids with ≥1 band key maybe-present in the corpus blooms
        — cogrouped per-partition probe over a precomputed band frame,
        ships only (image_id, band_key)."""
        filters = self.store.read_or_empty(self.filters_table, self._FILTERS)
        slim = bands.select(
            "image_id", "band_key", F.col("pid").alias("_pid")
        )

        def flag(cand_pdf: pd.DataFrame, filt_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(cand_pdf) == 0 or len(filt_pdf) == 0:
                return pd.DataFrame({"image_id": pd.Series([], dtype=object)})
            maybe = None
            for blob in filt_pdf["filter"]:
                b = bytes(blob)
                hit = bloom_maybe_contains(cand_pdf["band_key"], b, len(b) * 8)
                maybe = hit if maybe is None else (maybe | hit)
            return cand_pdf.loc[maybe, ["image_id"]]

        return (
            slim.groupBy("_pid")
            .cogroup(
                filters.withColumnRenamed("partition_id", "_pid").groupBy("_pid")
            )
            .applyInPandas(
                flag, schema=T.StructType([T.StructField("image_id", T.StringType())])
            )
            .dropDuplicates(["image_id"])
        )

    def _verify_join(
        self, cand_bands: DataFrame, round_no: int, pids: list[int] | None
    ) -> DataFrame:
        """Exact verify: candidate band rows (broadcast) against the
        stored corpus band rows. The corpus side is a columnar scan —
        optionally pruned to the pids candidates touch (IN-filter hits
        parquet row-group stats; the table is pid-sorted per append) —
        it never shuffles, and the images table is never re-exploded."""
        a = cand_bands.select(
            "band_key", F.col("image_id"), F.col("phash").alias("ph_a")
        )
        corpus = self.store.read_or_empty(self.bands_table, self._BANDS)
        if pids is not None:
            corpus = corpus.filter(F.col("pid").isin(pids))
        corpus = corpus.select(
            "band_key",
            F.col("image_id").alias("dup_of"),
            F.col("phash").alias("ph_b"),
        )
        return (
            corpus.join(F.broadcast(a), on="band_key")
            .filter(F.col("image_id") != F.col("dup_of"))
            .select(
                "image_id",
                "dup_of",
                F.expr("cast(bit_count(ph_a ^ ph_b) as int)").alias("hamming"),
            )
            .filter(F.col("hamming") <= self.n_bands - 1)
            .dropDuplicates(["image_id", "dup_of"])
            .withColumn("round", F.lit(round_no).cast("int"))
        )

    def pairs_vs_corpus(self, bands: DataFrame, round_no: int) -> DataFrame:
        """One-call corpus lookup over a precomputed (persisted) band
        frame — the engine's per-round path, tuned for job COUNT:

        - corpus ≤ DIRECT_VERIFY_MAX_BAND_ROWS (parquet-footer count,
          no job): skip the bloom probe AND the pid-collect entirely
          and verify every new image against the whole (small) corpus —
          the probe's own cogroup job + the distinct-pids job cost more
          wall-clock than the scan they would prune. Output is
          byte-identical: the bloom only prunes images that cannot
          match, and the pid filter only prunes row groups.
        - larger corpus: bloom-probe first (O(new) cogroup), then
          verify only probed candidates with the pid IN-prune — the
          100 TB shape, where the corpus scan is the thing to avoid.
        """
        if self.store.count_rows(self.bands_table) <= DIRECT_VERIFY_MAX_BAND_ROWS:
            return self._verify_join(bands, round_no, pids=None)
        ids = self._probe_ids(bands)
        cand_bands = bands.join(ids, on="image_id", how="left_semi")
        pids = [r["pid"] for r in cand_bands.select("pid").distinct().collect()]
        if not pids:
            return bands.sparkSession.createDataFrame([], NEAR_DUP_IMAGES)
        return self._verify_join(cand_bands, round_no, pids)

    def compact(self, round_no: int) -> None:
        """Rebuild one right-sized blob per partition from the stored
        band rows (bounds probe cost to O(partitions) blobs and resolves
        any saturation accumulated from per-round appends)."""
        bands = self.store.read_or_empty(self.bands_table, self._BANDS)
        merged = bands.groupBy("pid").applyInPandas(
            self._blob_rows(round_no), schema=self._FILTERS
        )
        self.store.overwrite(self.filters_table, merged)


def near_dup_pairs(
    new_images: DataFrame,
    corpus: DataFrame,
    round_no: int,
    max_hamming: int | None = None,
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
) -> DataFrame:
    """(image_id, dup_of, hamming) for every new image within
    ``max_hamming`` (default: the geometry's lossless radius n_bands-1)
    of a corpus image, with self-join semantics (id > id avoids
    self/mirror pairs)."""
    if max_hamming is None:
        max_hamming = n_bands - 1
    a = band_keys(
        new_images.select("image_id", "phash"), n_bands=n_bands, band_bits=band_bits
    )
    b = band_keys(
        corpus.select("image_id", "phash"), n_bands=n_bands, band_bits=band_bits
    )
    return pairs_from_bands(a, b, round_no, max_hamming=max_hamming)


def pairs_from_bands(
    a_bands: DataFrame,
    b_bands: DataFrame,
    round_no: int,
    max_hamming: int,
) -> DataFrame:
    """near_dup_pairs over precomputed band frames (columns band_key,
    image_id, phash) — callers that already materialized the explode
    (BandIndex round path) pass it straight in."""
    a = a_bands.select(
        "band_key", F.col("image_id").alias("image_id"), F.col("phash").alias("ph_a")
    )
    b = b_bands.select(
        "band_key", F.col("image_id").alias("dup_of"), F.col("phash").alias("ph_b")
    )
    return (
        a.join(b, on="band_key")
        .filter(F.col("image_id") > F.col("dup_of"))
        .select(
            "image_id",
            "dup_of",
            F.expr("cast(bit_count(ph_a ^ ph_b) as int)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["image_id", "dup_of"])
        .withColumn("round", F.lit(round_no).cast("int"))
    )
