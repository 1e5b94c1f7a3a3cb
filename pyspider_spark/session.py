"""SparkSession factory tuned for the crawl engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]``; the same confs are
what we would ship to a 1000-executor cluster via ``spark-submit
--py-files`` (only master/memory change). AQE is on so skewed hosts get
runtime-split shuffle partitions; Arrow is on because every Python-side
transform in this engine is pandas/Arrow-batched (no per-row Python UDFs
anywhere — audited in tests/test_no_row_udfs.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else a quarter of physical memory
    clamped to 2-8 GiB: local mode runs every executor inside this one
    heap, and a heap larger than the machine gets the JVM OOM-killed."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(8, max(2, total // (4 << 30)))}g"


def get_spark(
    app_name: str = "pyspider_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``shuffle_partitions`` defaults to the core count: at sf<=0.1 a
    partition per core keeps every shuffle single-wave; on a real
    cluster this is overridden to ~2-3x total cores.
    """
    cores = cores or default_parallelism()
    shuffle = shuffle_partitions or cores
    # One BLAS/OMP thread per Python worker: Spark already runs one
    # worker per task slot, so library-level threading oversubscribes
    # the box (N slots x M BLAS threads) — and in local[N] mode with
    # N < physical cores it silently borrows cores the session was
    # scoped NOT to have, corrupting any core-count scaling study.
    # Measured on the image-synthesis path at 32 procs: 1254 img/s
    # capped vs 1169 uncapped. Set in os.environ BEFORE the JVM forks
    # (local mode: workers inherit it) and as executorEnv for clusters.
    _thread_caps = {
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "NUMEXPR_NUM_THREADS": "1",
    }
    for k, v in _thread_caps.items():
        os.environ.setdefault(k, v)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # shuffle/spill scratch on tmpfs: local-mode shuffles serialize on
        # disk I/O otherwise, hiding CPU scaling (cluster analogue: NVMe
        # scratch or remote shuffle service)
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
        # zstd halves shuffle bytes vs lz4 for these string-heavy rows;
        # the extra compression CPU is parallel, the bytes saved are the
        # cross-executor bottleneck
        .config("spark.io.compression.codec", "zstd")
    )
    for k, v in _thread_caps.items():
        b = b.config(f"spark.executorEnv.{k}", os.environ[k])
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
