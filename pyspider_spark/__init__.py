"""pyspider_spark — a PySpark-native URL-frontier + fetch scheduler.

A from-scratch, Spark-first rebuild of the crawl-dataflow capabilities of
the reference crawler (webclinic017/pyspider, studied at /root/reference):
batch-iterative rounds over snapshot-versioned columnar tables instead of
an asyncio queue + Redis (reference: common/spider.py:35-363,
config/db_setup.py:16-211).

Subpackages
-----------
- ``session``    SparkSession factory with scale-tuned confs
- ``schemas``    fixed StructType schemas (frontier, images, items, ...)
- ``tables``     snapshot/manifest table store (Iceberg-shaped, parquet-backed)
- ``canon``      URL canonicalization (Arrow-vectorized)
- ``synth``      deterministic synthetic web graph + image corpus
- ``imaging``    pure-python PNG codec + deterministic lossy stub + phash
- ``seen``       URL membership sets (seen, enqueued): exact append + left-join probe
- ``scheduler``  priority+age pop, politeness budgets, robots, retry/captcha
- ``fetch``      deterministic synthetic fetcher (Arrow-batched)
- ``stages``     parse stages: JSONP/JSON/regex extract, item projection, fan-out
- ``loop``       round loop with checkpoint manifest + byte-identical resume
- ``metrics``    per-round counters table
- ``data``       large-scale training-data ops: dedup (minhash/simhash/...),
                 similarity search, text analysis, multimodal plumbing
"""

__version__ = "0.1.0"
