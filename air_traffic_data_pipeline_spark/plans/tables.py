"""Test-lake table loaders (parquet, explicit column pruning left to Catalyst)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..session import tune_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Confs that change what parquet schema inference returns.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
# table path -> (fingerprint, inferred schema); see _fingerprint
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """The inference confs plus the relative name, size and mtime_ns of
    every file under a local table path: any rewrite of the table in place
    changes it. None for a remote path (never cached)."""
    import os

    if "://" in path or not os.path.exists(path):
        return None
    files = []
    try:
        for root, _, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                st = os.stat(f)
                files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
        if not files:
            st = os.stat(path)
            files.append((".", st.st_size, st.st_mtime_ns))
    except OSError:  # a file vanished mid-walk: infer afresh
        return None
    return tuple(spark.conf.get(k, None) for k in _INFER_CONFS), tuple(sorted(files))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A lake table. Parquet schema inference runs a Spark job, so the
    inferred schema is reused while the table's files are unchanged: a warm
    load runs no job."""
    tune_session(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = _fingerprint(spark, path)
    seen, schema = _SCHEMAS.get(path, (None, None))
    if key is not None and key == seen:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMAS[path] = (key, df.schema)
    if name == "events":
        df = _canonical_event_time(df)
    return df


def _canonical_event_time(df: DataFrame) -> DataFrame:
    """Canonicalize ``events.ts`` to epoch-nanosecond int64.

    The engine's event-time algebra (bucketing, watermark replay oracles,
    sessionization) is integer arithmetic on epoch nanos — the same value
    DuckDB's ``epoch_ns(ts)`` yields — so lakes that store ``ts`` as a
    parquet TIMESTAMP (us, read as TIMESTAMP_NTZ) are normalized at the
    scan boundary. Session timezone is pinned to UTC (session.py), making
    the NTZ->instant conversion exact; a pure column expression, stays in
    whole-stage codegen, no shuffle. Lakes already storing int64 nanos
    pass through untouched.
    """
    field = df.schema["ts"].dataType if "ts" in df.columns else None
    if isinstance(field, (T.TimestampType, T.TimestampNTZType)):
        df = df.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)
        )
    return df


def _conf_bytes(val: str) -> int:
    """Parse a Spark byte conf ("134217728", "128m", "1g") to bytes."""
    val = val.strip().lower().rstrip("b")
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if val and val[-1] in units:
        return int(float(val[:-1]) * units[val[-1]])
    return int(val)


def fan_out(df: DataFrame) -> DataFrame:
    """Small-input guard for CPU-heavy per-row pipelines (explode, k x md5).

    A tiny parquet file scans as a single partition (one row group), which
    serializes everything downstream onto one core. When the scan can't
    split into >= cluster-parallelism partitions, round-robin repartition
    first — the shuffle moves only the small input. At 100 TB the scan
    already yields >= cores partitions and this is a no-op (no shuffle
    added).

    This is the engine's one explicitly sized repartition. Every
    post-shuffle stage is sized by AQE coalescing (session.py), but AQE
    cannot split a scan: a single-row-group file is one partition until
    something shuffles it.

    The estimate uses the scan's file list + sizes (driver-side metadata
    only) instead of ``df.rdd.getNumPartitions()``, which would force a
    physical-plan materialization on every query build.
    """
    import os
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if not files or len(files) >= target:
        return df  # non-file source, or already enough splits
    max_part = _conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _conf_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    sizes = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            # remote store: stat through the Hadoop FS (one RPC per file,
            # bounded by target-1 files) — file count alone cannot
            # distinguish "few small files" (needs the repartition) from
            # "few big files" (the scan splits them itself)
            try:
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(f)
                fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
                sizes.append(int(fs.getFileStatus(jpath).getLen()))
            except Exception:
                # unreachable store mid-build: trust the scan rather than
                # risk shuffling a large input for nothing
                return df
            continue
        try:
            sizes.append(os.path.getsize(unquote(u.path)))
        except OSError:
            # file vanished between listing and stat (compaction race):
            # count it as one split and keep going — never fail the build
            sizes.append(0)
    # Mirror Spark's FilePartition sizing: maxSplitBytes =
    # min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))
    # — using maxPartitionBytes alone undercounts splits and would add a
    # full-scan shuffle for inputs the scan already parallelizes.
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_part, max(open_cost, total // max(1, target)))
    est_splits = sum(max(1, -(-s // max_split)) for s in sizes)
    if est_splits >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all lake tables as temp views so plans can use spark.sql."""
    tune_session(spark)
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
