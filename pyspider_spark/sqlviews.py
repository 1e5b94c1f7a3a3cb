"""SQL surface: expose the engine's tables as temp views so users query
crawl state with plain ``spark.sql`` (the declarative twin of the
DataFrame API used internally; Catalyst plans both identically).

    from pyspider_spark.sqlviews import register_views
    register_views(engine.store)
    spark.sql("SELECT host, count(*) FROM frontier GROUP BY host")
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .loop import ALL_TABLES
from .schemas import TABLE_SCHEMAS


def _schema_for(name: str):
    if name in TABLE_SCHEMAS:
        return TABLE_SCHEMAS[name]
    if name == "near_dup_images":
        from .neardup import NEAR_DUP_IMAGES

        return NEAR_DUP_IMAGES
    if name == "fetch_cache":
        from .schemas import FETCH_CACHE

        return FETCH_CACHE
    raise KeyError(name)


def register_views(store, prefix: str = "") -> list[str]:
    """Register every engine table (current snapshot) as a temp view.
    Returns the view names. Views are snapshot-pinned at call time —
    re-register after more rounds to see newer data (Iceberg-style
    read isolation)."""
    names = []
    for t in ALL_TABLES + ["config", "robots"]:
        try:
            schema = _schema_for(t)
        except KeyError:
            continue
        df = store.read_or_empty(t, schema)
        view = f"{prefix}{t}"
        df.createOrReplaceTempView(view)
        names.append(view)
    return names


def crawl_report_sql(spark: SparkSession):
    """Example analytical query over the registered views: per-host
    crawl progress joined with politeness config."""
    return spark.sql(
        """
        SELECT m.round,
               m.popped, m.fetched_ok, m.failed, m.deduped,
               m.deferred_politeness, m.robots_blocked,
               m.new_links, m.items_emitted, m.images_landed
        FROM metrics m
        ORDER BY m.round
        """
    )
