"""URL membership sets: exact insert-if-absent and exact left-join probe.

Reference semantics: in-memory ``set()`` membership and Redis ``SADD``
(reference spiders/jingxi/jingxi_category_sales.py:17,101;
spiders/amazon/crawl_cate_link.py:56) — exactly-once fetch per URL.

Spark-first design (SURVEY.md §4.3): a set is an append-only table
holding one row per ``url_canon`` (with the round it joined and its
``partition_id = xxhash64(url_canon) % P``, the row-group pruning key).
A probe is ONE left join of the candidates against the set's
``url_canon`` column — no approximate prefilter. A bloom only pays when
its "definitely new" answer skips the exact probe; here every batch
must be resolved exactly anyway, so a filter would add a cogroup, a
Python UDF and a per-round blob write without removing the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schemas import SEEN

DEFAULT_PARTITIONS = 32


def partition_id_col(url_canon, n_partitions: int):
    """Partition id for the URL space — JVM-side xxhash64 (codegen, no
    Python). Membership never depends on it: it only buckets rows for
    pruning, so any partition count gives the same answers."""
    return F.pmod(F.xxhash64(url_canon), F.lit(n_partitions)).cast("int")


class SeenSet:
    """Facade over one url-keyed membership table (``seen`` by default;
    the crawl uses a second instance over ``enqueued`` for dedup at
    link-discovery time)."""

    def __init__(self, store, n_partitions: int = DEFAULT_PARTITIONS, table: str = "seen"):
        self.store = store
        self.P = n_partitions
        self.table = table

    def read(self) -> DataFrame:
        return self.store.read_or_empty(self.table, SEEN)

    def mark_unseen(
        self, candidates: DataFrame, url_col: str = "url_canon",
        flag: str = "_member",
    ) -> DataFrame:
        """Candidates with a boolean ``flag`` column, True where
        ``url_col`` is already a member. Marking (instead of dropping)
        lets the caller fold the dedup counter, the robots counter and
        the survivor count into ONE aggregation over one frame (the
        engine's vet path). The set holds one row per url_canon, so the
        left join never multiplies a candidate."""
        members = self.read().select(
            F.col("url_canon").alias(url_col), F.lit(True).alias(flag)
        )
        out = candidates.join(members, on=url_col, how="left_outer")
        return out.withColumn(flag, F.coalesce(F.col(flag), F.lit(False)))

    def add(
        self,
        urls: DataFrame,
        round_no: int,
        url_col: str = "url_canon",
        assume_new: bool = False,
    ) -> None:
        """Insert-if-absent (Redis SADD analogue).

        ``assume_new=True`` is a plain append: no dedup and no
        anti-join against the whole set. Safe when the caller
        guarantees the rows are unique and unseen — true for the crawl
        loop: seeds are deduped in-batch, first-pops and vetted links
        are unique per url_canon and already passed the membership
        probe, and resume rolls table pointers back to the last
        complete round, so a replayed half-round can never
        double-append (its orphan dir is unreachable from the restored
        snapshot)."""
        rows = urls.select(
            F.col(url_col).alias("url_canon"),
            F.lit(round_no).cast("int").alias("first_round"),
            partition_id_col(F.col(url_col), self.P).alias("partition_id"),
        )
        if assume_new:
            self.store.append(self.table, rows)
        else:
            self.store.merge_insert_if_absent(self.table, rows, "url_canon", SEEN)
