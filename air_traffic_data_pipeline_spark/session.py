"""SparkSession factory tuned for local[N] testing but configured the way a
large cluster deployment would be (AQE on, sane shuffle partitioning, Arrow).

On a real 1000-executor cluster the same builder applies; only master/memory
change. Shuffle partitions default to the local core count — at cluster scale
set ``spark.sql.shuffle.partitions`` to ~2-3x total cores.

AQE partition coalescing, enabled here, sizes every post-shuffle stage from
its measured shuffle bytes. Plans add no per-call-site ``repartition`` to
size a shuffle; the one scan-side exception is ``plans.tables.fan_out``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _shuffle_partitions() -> str:
    """Post-shuffle partition count: ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` if
    set, else the core count. The override exists for callers whose
    workload shape is known up front (the test suite runs hundreds of
    tiny-data jobs where per-task scheduling overhead dominates; a cluster
    deployment would set ~2-3x total cores); the default keeps the
    bench/driver behaviour unchanged."""
    return os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or (
        os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    )


def _driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else half the host's
    physical memory, never above 64g. A heap sized past the host lets the
    JVM grow instead of collecting until the kernel kills it."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf: keep the cap
        return "64g"
    return f"{min(phys // 2, 64 << 30) >> 20}m"


def get_spark(app_name: str = "air-traffic-engine") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    driver_mem = _driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", _shuffle_partitions())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # test lake writes nanosecond parquet timestamps; read them as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally created session.

    The driver harness builds its own SparkSession; every query entrypoint
    funnels through here so results don't depend on who built the session.
    Only runtime-mutable confs are touched.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.adaptive.enabled", "true"),
        # a foreign (driver-built) session keeps the 200 default: wrong for
        # local mode; AQE coalescing makes this safe to lower at scale too
        ("spark.sql.shuffle.partitions", _shuffle_partitions()),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark
