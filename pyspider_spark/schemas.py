"""Fixed StructType schemas for every engine table.

The reference keeps all schemas implicit in parse code (item dict at
reference spiders/amazon/crawl_goods_list.py:58-91; RequestBody at
common/response.py:7-15). Here every table has one declared schema,
enforced on write (FIXTURES.md; BASELINE.json input_hint).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Frontier row ≙ RequestBody (reference common/response.py:7-15) + scheduling
# state the reference keeps implicitly (retry counter common/spider.py:133-135,
# page counter in meta common/example.py:43) + north-rule fields
# (priority/exetime/lineage). ``stage`` replaces the ``callback`` fn pointer.
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_canon", T.StringType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("priority", T.IntegerType(), False),
        # exetime in integer "round ticks" — deterministic, no wall clock.
        T.StructField("exetime", T.LongType(), False),
        T.StructField("retries", T.IntegerType(), False),
        T.StructField("max_retries", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("round_added", T.IntegerType(), False),
        T.StructField("lineage", T.StringType(), True),
        T.StructField("salt", T.IntegerType(), True),
        # vetted=true → row already passed dedup+seen+robots in an earlier
        # round (politeness deferral or retry); it re-enters at the pop
        # ranking directly. Keeps per-round work O(new links), not
        # O(backlog).
        T.StructField("vetted", T.BooleanType(), False),
    ]
)

# Authoritative image payload schema (BASELINE.json input_hint).
IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# URL-seen set (≙ in-memory set()s + Redis SADD in the reference:
# spiders/amazon/crawl_cate_link.py:56, spiders/pdd/billboard/
# crawl_billboard_id.py:16-17). One row per url_canon; partition_id
# is the row-group pruning key.
SEEN = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("first_round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
    ]
)

# Per-partition bloom filter blobs over the image band index
# (neardup.BandIndex).
PHASH_FILTERS = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("filter", T.BinaryType(), False),
    ]
)

# Extracted item ≙ the amazon goods item dict
# (reference spiders/amazon/crawl_goods_list.py:58-91).
ITEMS = T.StructType(
    [
        T.StructField("asin_id", T.StringType(), True),
        T.StructField("img_url", T.StringType(), True),
        T.StructField("goods_name", T.StringType(), True),
        T.StructField("star_rating", T.StringType(), True),
        T.StructField("price", T.StringType(), True),
        T.StructField("goods_detail_link", T.StringType(), True),
        T.StructField("goods_comment_num", T.StringType(), True),
        T.StructField("goods_comment_link", T.StringType(), True),
        T.StructField("src_url_canon", T.StringType(), True),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# API item rows (≙ the jingxi sales records summed per keyword,
# reference spiders/jingxi/jingxi_category_sales.py:61-67).
API_ITEMS = T.StructType(
    [
        T.StructField("sku", T.StringType(), False),
        T.StructField("tuancount", T.LongType(), True),
        T.StructField("salecount", T.LongType(), True),
        T.StructField("cat", T.IntegerType(), True),
        T.StructField("page", T.IntegerType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# Q12 batch-sales rows: one request answers for a chunk of sku ids
# (reference jingxi_category_sales.py:112-118), exploded back to one
# row per sku at parse time.
SALES_ITEMS = T.StructType(
    [
        T.StructField("sku", T.StringType(), False),
        T.StructField("stock", T.LongType(), True),
        T.StructField("sale_price_cents", T.LongType(), True),
        T.StructField("host", T.StringType(), True),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# Per-round counters (north rule: fetched, deduped, deferred-for-politeness;
# reference analogue success_counts/failed_counts common/spider.py:154-156).
METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("popped", T.LongType(), False),
        T.StructField("fetched_ok", T.LongType(), False),
        T.StructField("failed", T.LongType(), False),
        T.StructField("retried", T.LongType(), False),
        T.StructField("captcha_requeued", T.LongType(), False),
        T.StructField("deduped", T.LongType(), False),
        T.StructField("deferred_politeness", T.LongType(), False),
        T.StructField("robots_blocked", T.LongType(), False),
        T.StructField("new_links", T.LongType(), False),
        T.StructField("items_emitted", T.LongType(), False),
        T.StructField("images_landed", T.LongType(), False),
    ]
)

# Per-host politeness config (≙ Settings defaults + per-spider overrides,
# reference common/settings.py:4-30, spiders/amazon/crawl_cate_link.py:19-24).
CONFIG = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("concurrency", T.IntegerType(), False),
        T.StructField("delay_s", T.DoubleType(), False),
        T.StructField("timeout_s", T.DoubleType(), False),
        T.StructField("max_retries", T.IntegerType(), False),
        T.StructField("pop_budget", T.IntegerType(), False),
    ]
)

# robots.txt rules (north-rule addition; absent in the reference).
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("path_prefix", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
        T.StructField("crawl_delay_s", T.DoubleType(), True),
    ]
)

# Fetch result (≙ Response, reference common/response.py:18-28; body kept
# as string for page bodies, image payloads land in IMAGES).
FETCH_RESULTS = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("stage", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("exetime", T.LongType(), False),
        T.StructField("retries", T.IntegerType(), False),
        T.StructField("max_retries", T.IntegerType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("body", T.StringType(), True),
        T.StructField("out_links", T.ArrayType(T.StringType()), True),
        T.StructField("image_refs", T.ArrayType(T.StringType()), True),
    ]
)

# Keyed TTL cache (≙ Redis hash set_cache/get_cache,
# reference config/db_setup.py:21-45, cache-aside app/api/jingxi.py:16-28).
CACHE = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("cached_at", T.LongType(), False),
    ]
)

# Fetch memo-cache (S14/J2 at engine level): one row per fetched URL;
# TTL = filter on cached_round. The cache-aside of app/api/jingxi.py:16-28
# applied to the fetcher.
FETCH_CACHE = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("body", T.StringType(), True),
        T.StructField("out_links", T.ArrayType(T.StringType()), True),
        T.StructField("image_refs", T.ArrayType(T.StringType()), True),
        T.StructField("cached_round", T.IntegerType(), False),
    ]
)

# Pop tombstones over the append-only frontier: one row per popped
# frontier row, keyed (url_canon, retries). The frontier is never
# rewritten per round — candidates = frontier ∖ tomb; compaction
# periodically rewrites the frontier minus tombstones and truncates
# this table, so it stays O(rounds-since-compaction × pops).
TOMB = T.StructType(
    [
        T.StructField("url_canon", T.StringType(), False),
        T.StructField("retries", T.IntegerType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# Incremental banded-LSH index over image phashes (J5): one row per
# (band, image), appended once per round for that round's NEW images
# only — the corpus is never re-exploded. pid routes a band key to its
# bloom blob partition and is the row-group pruning key for reads.
IMAGE_BANDS = T.StructType(
    [
        T.StructField("band_key", T.StringType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("pid", T.IntegerType(), False),
    ]
)

TABLE_SCHEMAS = {
    "frontier": FRONTIER,
    "images": IMAGES,
    "seen": SEEN,
    # url-ever-enqueued membership set (dedup at link-discovery time);
    # same shape as the seen set, maintained by the same SeenSet class.
    "enqueued": SEEN,
    "phash_filters": PHASH_FILTERS,
    "tomb": TOMB,
    "image_bands": IMAGE_BANDS,
    "items": ITEMS,
    "api_items": API_ITEMS,
    "sales_items": SALES_ITEMS,
    "metrics": METRICS,
    "config": CONFIG,
    "robots": ROBOTS,
    "cache": CACHE,
}
