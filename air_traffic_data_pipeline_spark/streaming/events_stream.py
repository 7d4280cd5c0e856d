"""Structured Streaming over the events table.

The reference has no streaming (single-shot REST poll, functions.py:47);
this module supplies the streaming surface the engine adds: tumbling and
sliding event-time windows, session windows, watermark late-data handling,
and streaming dedup. Batch parquet files drive the streams through the
file source + memory sink so runs are deterministic and synchronous
(``processAllAvailable``).

Event time: staging canonicalizes ``ts`` to epoch-nanosecond longs
(``plans.tables._canonical_event_time`` — lakes storing parquet TIMESTAMP
are converted once at the staging write); ``with_event_time`` derives a
microsecond TimestampType column, the granularity Spark's event-time
machinery uses.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.relational import RETRACT_MOD, RETRACT_RES
from ..plans.tables import load
from ..session import tune_session
from .staging import Batches, replay

EVENTS_BATCHES = Batches("events", None, ("whole", ()))
# the watermark replay; its newest-first order also proves the order-free
# mirrors arrival-order independent
LATE_BATCHES = Batches("events", None, ("late", ("ts", "event_id")))
# the Markov mirror's ordered-stitch contract: batches in event-time order
TIME_BATCHES = Batches("events", None, ("rank", ("ts", "event_id"), 4))


class Landing:
    """The named parquet states of one ``fold_stream`` run, all under one
    landing dir: ``<root>/<name>/batch=<epoch>`` per micro-batch."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.epoch = -1

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def land(self, name: str, df: DataFrame) -> None:
        """Write ``df`` as this epoch's partition of ``name``. The
        epoch-scoped overwrite makes a replayed epoch rewrite its own
        partition instead of appending duplicates (exactly-once)."""
        df.write.mode("overwrite").parquet(f"{self.path(name)}/batch={self.epoch}")

    def current(self, name: str) -> DataFrame:
        """This epoch's partition of ``name``, read back."""
        return self.spark.read.parquet(f"{self.path(name)}/batch={self.epoch}")

    def landed(self, name: str) -> DataFrame:
        """Every landed partition of ``name`` (compaction folds included).
        Partition discovery adds a ``batch`` column; it is dropped, so a
        whole-row ``distinct()`` merges equal rows across batches."""
        return self.spark.read.parquet(self.path(name)).drop("batch")

    def latest(self, name: str) -> DataFrame | None:
        """The newest partition of ``name`` landed before this epoch (in
        ``finish``, the last one), or None: per-epoch snapshot state chains
        from it and never reads the epoch being (re)written."""
        import os

        p = self.path(name)
        eps = [
            int(e[6:])
            for e in (os.listdir(p) if os.path.isdir(p) else [])
            if e.startswith("batch=") and e[6:].isdigit() and int(e[6:]) < self.epoch
        ]
        return self.spark.read.parquet(f"{p}/batch={max(eps)}") if eps else None


def fold_stream(stream: DataFrame, on_batch, finish) -> DataFrame:
    """Run ``stream`` (a ``staging.replay``) into ``on_batch(batch_df,
    landing)`` (one call per micro-batch, with ``landing.epoch`` set), then
    return ``finish(landing)`` materialized by a tracked local checkpoint —
    the one lifecycle of every incremental materialized view.

    The landing dir is a fresh temporary dir of its own, never under a
    stage dir (the file source lists its dir recursively). The stream's
    checkpoint lives inside it, and it is removed on every exit path, so a
    returned result never depends on files a later call deletes and a
    failed run leaves nothing behind.

    Spark turns AQE off for the stream's own plan (the one ``WARN
    ResolveWriteToStream`` per call), but the plans ``on_batch`` builds
    from ``batch_df`` run in a session clone with AQE on, so their
    post-shuffle stages are coalesced like any batch query's."""
    import math
    import shutil
    import tempfile

    from ..operators.checkpoints import tracked_local_checkpoint

    spark = stream.sparkSession
    tune_session(spark)
    st = Landing(spark, tempfile.mkdtemp(prefix="spark_graft_fold_"))

    def _batch(batch_df: DataFrame, epoch_id: int) -> None:
        st.epoch = epoch_id
        on_batch(batch_df, st)

    try:
        q = (
            stream.writeStream.foreachBatch(_batch)
            .option("checkpointLocation", st.path("_checkpoint"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        st.epoch = math.inf
        out, _ = tracked_local_checkpoint(finish(st))
        return out
    finally:
        shutil.rmtree(st.root, ignore_errors=True)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return replay(spark, sf_dir, EVENTS_BATCHES)


def with_event_time(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )


def run_to_memory(stream_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Execute a (finite) streaming query into a memory sink and return the
    materialized result table."""
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = stream_df.sparkSession
    return spark.table(name)


def tumbling_counts(spark: SparkSession, sf_dir: str, size: str = "1 hour") -> DataFrame:
    ev = with_event_time(read_events_stream(spark, sf_dir))
    agg = ev.groupBy(F.window("event_time", size), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    out = run_to_memory(agg)
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "event_type",
        "n",
        "total_value",
    )


def sliding_counts(
    spark: SparkSession, sf_dir: str, size: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    ev = with_event_time(read_events_stream(spark, sf_dir))
    agg = ev.groupBy(F.window("event_time", size, slide)).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = run_to_memory(agg)
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "n",
    )


def session_window_counts(
    spark: SparkSession, sf_dir: str, gap: str = "10 minutes"
) -> DataFrame:
    """True streaming session windows (merging state store sessions)."""
    ev = with_event_time(read_events_stream(spark, sf_dir))
    agg = ev.groupBy(F.session_window("event_time", gap), "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = run_to_memory(agg)
    return out.select(
        "user_id",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "sess_start"
        ),
        F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias(
            "sess_end"
        ),
        "n",
    )


def late_data_drop_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, exercised over REAL micro-batches:
    hourly tumbling counts with a 1-hour watermark in append mode. Batch 1
    (the newer half) advances the watermark to max(event_time) - 1h; every
    batch-2 row's window ends far below that, so the state store drops them
    all; append mode then emits exactly the finalized windows (window.end
    <= final watermark). Both effects are deterministic given the staged
    order, so the result is value-checked against a batch oracle that
    replays the same watermark algebra."""
    src = replay(spark, sf_dir, LATE_BATCHES)
    ev = with_event_time(src).withWatermark("event_time", "1 hour")
    agg = ev.groupBy(F.window("event_time", "1 hour")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    out = run_to_memory(agg, mode="append")
    return out.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        "n",
        "total_value",
    )


def streaming_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type)."""
    ev = with_event_time(read_events_stream(spark, sf_dir))
    deduped = ev.dropDuplicates(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_users"))
    return run_to_memory(agg)


def watermarked_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state: ``dropDuplicatesWithinWatermark``
    keys the state store on (user_id, event_type) and evicts entries once
    the event-time watermark passes them — the production-safe variant of
    ``dropDuplicates`` whose state otherwise grows without bound on an
    unbounded stream. Exercised over real multi-micro-batch replay
    (maxFilesPerTrigger=1 over the 3-file staged dir, including the
    deliberately late batch).

    The 35-day delay exceeds the events table's ~30-day span, so within
    this finite replay no row is late and no state evicts: the result
    equals global dedup, giving an exact ANSI-SQL oracle while the plan
    still runs the watermark-scoped stateful operator. At scale the same
    plan holds with a horizon-sized delay (state ∝ keys per horizon).
    """
    src = replay(spark, sf_dir, LATE_BATCHES)
    ev = with_event_time(src).withWatermark("event_time", "35 days")
    deduped = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    return run_to_memory(agg)


def foreach_batch_last_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` escape-hatch sink: each micro-batch lands as an
    idempotent overwrite of its own ``batch=<epoch_id>`` parquet partition
    (epoch replay after a failure rewrites the same directory — the
    standard exactly-once recipe for sinks without transactional merge),
    then the final per-user last-event state is derived by a window over
    the landed partitions.

    The last-wins rule orders by (ts, event_id) — properties of the DATA,
    not of batch arrival order — so the result is identical however the
    source chops the stream into micro-batches (the staged replay even
    delivers the oldest rows in the LAST batch), which is what makes an
    exact batch oracle possible. At scale the window partitions per user
    (no global sort) and the per-batch writes are append-shaped."""
    from pyspark.sql import Window

    def finish(st: Landing) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            st.landed("events")
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_event_type"),
                F.expr("ts div 1000000000").alias("last_ts_sec"),
                F.round("value", 2).alias("last_value"),
            )
        )

    return fold_stream(
        replay(spark, sf_dir, LATE_BATCHES),
        lambda b, st: st.land("events", b),
        finish,
    )


TWS_OUT = "event_type string, n bigint, max_value double, min_value double"


def transform_with_state_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type running (count, max, min) via ``transformWithState``
    (Spark 4's arbitrary-stateful-processing API — typed ValueState in the
    RocksDB state store, replacing ``applyInPandasWithState``). Count and
    extremes are selection aggregates, so the result is deterministic under
    any partitioning/batch split; the update-mode sink is collapsed to the
    final emission per key, exactly like ``stateful_user_stats``.

    At scale: state is one fixed-size tuple per key in RocksDB (spillable,
    incrementally checkpointed); input shuffles once on the grouping key.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    tune_session(spark)

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("stats", "n BIGINT, mx DOUBLE, mn DOUBLE")

        def handleInputRows(self, key, rows, timer_values):
            n, mx, mn = self._st.get() if self._st.exists() else (0, None, None)
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                n += len(pdf)  # n counts ALL rows, like SQL count(*)
                # SQL max/min ignore NULLs: drop them before the extremes, or
                # a NULL batch yields NaN and poisons every later comparison
                v = pdf["value"].dropna()
                if len(v) == 0:
                    continue
                bmx = float(v.max())
                bmn = float(v.min())
                mx = bmx if mx is None else max(mx, bmx)
                mn = bmn if mn is None else min(mn, bmn)
            self._st.update((n, mx, mn))
            yield pd.DataFrame(
                {
                    "event_type": [key[0]],
                    "n": [n],
                    "max_value": [mx],
                    "min_value": [mn],
                }
            )

        def close(self) -> None:
            pass

    ev = with_event_time(read_events_stream(spark, sf_dir))
    out = ev.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=RunningStats(),
        outputStructType=TWS_OUT,
        outputMode="Update",
        timeMode="None",
    )
    from pyspark.sql import Window

    # transformWithState requires the RocksDB provider; scope the conf to
    # this query's run instead of leaking it onto every later streaming
    # query in the session
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(
        conf_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        sink = run_to_memory(out, mode="update")
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def stream_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer dimension (broadcast per micro-batch — no stream-side state),
    aggregated per nation. The canonical streaming-enrichment shape."""
    ev = with_event_time(read_events_stream(spark, sf_dir))
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_events"))
    return run_to_memory(agg)


def stream_stream_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks and a time-interval
    condition: each click joined to the same user's purchases landing
    within the following 2 hours — the canonical funnel/attribution
    shape. Both sides carry a 1-hour watermark so the join state store is
    bounded (Spark evicts buffered rows once the watermark passes the
    interval bound); the join itself is an equi-join on user_id plus a
    range predicate, so at scale it shuffles both streams on user_id and
    never materializes a cross product.

    The staged source is one file -> one micro-batch, so no row can arrive
    behind the watermark and the result equals the batch join exactly —
    letting the driver value-check a genuinely streaming plan against an
    ANSI-SQL oracle.
    """
    clicks = (
        with_event_time(read_events_stream(spark, sf_dir))
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("event_time").alias("click_time"),
        )
        .withWatermark("click_time", "1 hour")
    )
    buys = (
        with_event_time(read_events_stream(spark, sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("buyer_id"),
            F.col("event_time").alias("buy_time"),
            F.col("value").alias("amount"),
        )
        .withWatermark("buy_time", "1 hour")
    )
    joined = clicks.join(
        buys,
        (F.col("user_id") == F.col("buyer_id"))
        & (F.col("buy_time") >= F.col("click_time"))
        & (F.col("buy_time") <= F.col("click_time") + F.expr("INTERVAL 2 HOURS")),
    )
    out = run_to_memory(joined, mode="append")
    return out.select(
        "click_id",
        "purchase_id",
        "user_id",
        F.round("amount", 2).alias("amount"),
        (F.col("buy_time").cast("long") - F.col("click_time").cast("long")).alias(
            "lag_sec"
        ),
    )


# DuckDB reads the lake's ts as TIMESTAMP; Spark's event_time is
# timestamp_micros(ts div 1000) and cast-to-long truncates to seconds, so
# the oracle mirrors with epoch_us // 1_000_000.
STREAM_STREAM_JOIN_SQL = """
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       round(p.value, 2) AS amount,
       (epoch_us(p.ts) // 1000000) - (epoch_us(c.ts) // 1000000) AS lag_sec
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 2 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


USER_STATE_OUT = "user_id long, n bigint, max_value double, min_value double"
USER_STATE_SCHEMA = "n bigint, mx double, mn double"


def stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (count, max, min) carried across micro-batches in the
    state store. Count and extremes are order-independent (selection, not
    float summation), so the result is deterministic under any partitioning.

    This is the escape hatch for stateful semantics the built-in windowed
    aggregations can't express (reference analogue: tracking an aircraft's
    running flight-phase envelope across polls).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = with_event_time(read_events_stream(spark, sf_dir))

    def update(key, pdfs, state):
        import pandas as pd

        n, mx, mn = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            bmx = float(pdf["value"].max())
            bmn = float(pdf["value"].min())
            mx = bmx if mx is None else max(mx, bmx)
            mn = bmn if mn is None else min(mn, bmn)
        state.update((n, mx, mn))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "max_value": [mx], "min_value": [mn]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        USER_STATE_OUT,
        USER_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    # The update-mode memory sink appends one row per user per micro-batch;
    # collapse to the FINAL state per user (max n is monotonically the last
    # emission) so the result is one row per user regardless of how many
    # micro-batches the file source splits the input into (e.g. multi-file
    # lakes or maxFilesPerTrigger) — without this, equivalence to the batch
    # oracle would silently rely on a single-batch run.
    from pyspark.sql import Window

    sink = run_to_memory(out, mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc())
    return (
        sink.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def incremental_cms_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch maintenance: each micro-batch lands its
    OWN partial (r, pos, cnt) cells; the merged sketch is the per-cell sum.
    Cell counts are integers and addition is exact, so the merged sketch is
    BITWISE equal to the one-shot batch sketch — which is exactly what the
    oracle computes. Estimates for the top-20 heaviest users (by exact
    count) are read off the merged sketch.

    The 100 TB pattern: per-batch state is bounded by CMS_ROWS x CMS_WIDTH
    cells regardless of stream volume, the merge re-aggregates cells (never
    raw events), and the heavy-user probe is a bounded broadcast join —
    continuous frequency monitoring with constant memory.
    """
    from ..operators.sketches import cms_cells, cms_estimate

    def on_batch(b: DataFrame, st: Landing) -> None:
        st.land("cells", cms_cells(b.select(F.col("user_id").cast("string").alias("w"))))

    def finish(st: Landing) -> DataFrame:
        merged = st.landed("cells").groupBy("r", "pos").agg(F.sum("cnt").alias("cnt"))
        exact = (
            load(spark, sf_dir, "events")
            .select(F.col("user_id").cast("string").alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("exact_freq"))
            .orderBy(F.col("exact_freq").desc(), "w")
            .limit(20)
        )
        return cms_estimate(exact, merged).select(
            F.col("w").cast("bigint").alias("user_id"),
            "exact_freq",
            "cms_est",
            (F.col("cms_est") - F.col("exact_freq")).alias("overcount"),
        )

    return fold_stream(replay(spark, sf_dir, LATE_BATCHES), on_batch, finish)


def incremental_topk_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k maintenance: the non-distributive-final-op case of
    incremental materialized-view upkeep. Each micro-batch lands its OWN
    partial (event_type, user_id) value sums as exact DECIMAL(18,2) —
    decimal addition is associative and commutative, so the merged totals
    are BITWISE equal to a one-shot batch aggregate no matter how the file
    source slices the input — and the top-3-per-type ranking runs on the
    merged, user-cardinality-sized state, never on raw events.

    The 100 TB pattern: per-batch state is one row per touched (type,
    user); the merge re-aggregates partials; a late contribution to ANY
    key simply lands in a later partial and re-ranks — no replay of
    history. Contrast incremental_cms_user_freq (distributive sketch
    merge): top-k cannot be merged rank-wise, so the partials must stay at
    key granularity — exactly what this plan keeps bounded.
    """
    from pyspark.sql import Window

    def on_batch(b: DataFrame, st: Landing) -> None:
        st.land(
            "sums",
            b.groupBy("event_type", "user_id").agg(
                F.sum(F.col("value").cast("decimal(18,2)")).alias("v")
            ),
        )

    def finish(st: Landing) -> DataFrame:
        merged = st.landed("sums").groupBy("event_type", "user_id").agg(
            F.sum("v").alias("v")
        )
        w = Window.partitionBy("event_type").orderBy(
            F.col("v").desc(), F.col("user_id")
        )
        return (
            merged.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= 3)
            .select(
                "event_type",
                "user_id",
                F.col("v").cast("double").alias("total_value"),
                "rank",
            )
        )

    return fold_stream(replay(spark, sf_dir, LATE_BATCHES), on_batch, finish)


QUANT_BIN_WIDTH = 5.0
QUANT_QS = (0.5, 0.9, 0.99)


FUNNEL_TYPES = ("view", "click", "purchase")


def incremental_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental funnel maintenance — bitwise equal to the
    one-shot ``plans.relational.funnel_steps`` (its SQL is the oracle).

    The funnel's strictly-after min-chain (t1 = min view; t2 = min click
    > t1; t3 = min purchase > t2) is NOT distributive in per-type minima
    alone — an early-arriving later view can LOWER t1 and thereby unlock
    an earlier click as t2 — so the sufficient statistic is the per-user
    event-time SET of the three funnel types. Each micro-batch lands its
    own distinct (user, type, ts) funnel-slice projection; the view
    re-runs the min-chain on the merged, distinct-union state. Old raw
    events are never re-read, non-funnel types never enter state, and
    set-union is order-free — the staged batches deliberately replay
    newest-first (the late-data staging), so the equality proves arrival
    order cannot matter. Epoch-scoped overwrite = replay-idempotent.
    """

    def on_batch(b: DataFrame, st: Landing) -> None:
        st.land(
            "funnel",
            b.filter(F.col("event_type").isin(*FUNNEL_TYPES))
            .select("user_id", "event_type", "ts")
            .distinct(),
        )

    def finish(st: Landing) -> DataFrame:
        ev = st.landed("funnel").distinct()
        t1 = (
            ev.filter(F.col("event_type") == "view")
            .groupBy("user_id")
            .agg(F.min("ts").alias("t1"))
        )
        t2 = (
            ev.filter(F.col("event_type") == "click")
            .join(t1, "user_id")
            .filter(F.col("ts") > F.col("t1"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t2"))
        )
        t3 = (
            ev.filter(F.col("event_type") == "purchase")
            .join(t2, "user_id")
            .filter(F.col("ts") > F.col("t2"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t3"))
        )
        rows = [
            t1.agg(
                F.lit(1).alias("step"),
                F.lit("view").alias("step_name"),
                F.count(F.lit(1)).alias("n_users"),
            ),
            t2.agg(
                F.lit(2).alias("step"),
                F.lit("click_after_view").alias("step_name"),
                F.count(F.lit(1)).alias("n_users"),
            ),
            t3.agg(
                F.lit(3).alias("step"),
                F.lit("purchase_after_click").alias("step_name"),
                F.count(F.lit(1)).alias("n_users"),
            ),
        ]
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return out

    return fold_stream(replay(spark, sf_dir, LATE_BATCHES), on_batch, finish)


def incremental_quantile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile maintenance via fixed-bin histogram partials:
    each micro-batch lands its OWN (bin, cnt) histogram (bin =
    floor(value / width), EXACT int64 counts), the merged histogram is the
    per-bin sum — bitwise equal to the one-shot batch histogram however
    the file source slices the input — and p50/p90/p99 are read off the
    merged cumulative counts (smallest bin whose running count reaches
    ceil(q * N)). The third incremental-MV shape next to the distributive
    sketch merge (CMS) and the key-granular partials (top-k): quantiles
    are NOT distributive, but their sufficient statistic (the histogram)
    is — so state is bins-sized, never event-sized.

    At 100 TB: per-batch state is |bins| rows regardless of stream volume;
    the merge re-aggregates bins; a late value lands in a later partial
    and shifts the cumulative counts without replaying history. All rank
    arithmetic is exact integers; the only floats are the bin edges.
    """
    from pyspark.sql import Window

    def on_batch(b: DataFrame, st: Landing) -> None:
        st.land(
            "hist",
            b.filter(F.col("value").isNotNull())
            .select(F.floor(F.col("value") / F.lit(QUANT_BIN_WIDTH)).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt")),
        )

    def finish(st: Landing) -> DataFrame:
        hist = st.landed("hist").groupBy("bin").agg(F.sum("cnt").alias("cnt"))
        cum = hist.withColumn("cum", F.sum("cnt").over(Window.orderBy("bin")))
        total = hist.agg(F.sum("cnt").alias("n"))
        qs = spark.range(1).select(
            F.explode(F.array(*[F.lit(float(qv)) for qv in QUANT_QS])).alias("q")
        )
        tgt = qs.crossJoin(F.broadcast(total)).select(
            "q",
            F.col("n").alias("n_total"),
            F.ceil(F.col("q") * F.col("n").cast("double")).alias("target_rank"),
        )
        w = Window.partitionBy("q").orderBy("bin")
        return (
            tgt.join(cum, F.col("cum") >= F.col("target_rank"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "q",
                "n_total",
                "target_rank",
                "bin",
                (F.col("bin").cast("double") * F.lit(QUANT_BIN_WIDTH)).alias("bin_lo"),
            )
        )

    return fold_stream(replay(spark, sf_dir, LATE_BATCHES), on_batch, finish)


def markov_batch_partial(
    b: DataFrame, prev_state: DataFrame | None
) -> tuple:
    """The Markov mirror's per-batch kernel, module-level so the
    non-order-freeness counterexample pytest can drive it directly:
    given one micro-batch (user_id, ts, event_id, event_type) and the
    previous per-user last-event state (or None on the first batch),
    return (transition-count partial (src, dst, c), new last-event
    state). The partial contains the batch's within-batch consecutive
    pairs plus one stitched (stored last → batch first) pair per user
    present in both; the new state carries forward users absent from
    the batch. ONLY correct when batches deliver each user's events in
    nondecreasing (ts, event_id) order — the ordered-stitch contract."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = b.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("rn_asc"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
        ).alias("rn_desc"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    within = ranked.filter(F.col("nxt").isNotNull()).select(
        F.col("event_type").alias("src"), F.col("nxt").alias("dst")
    )
    firsts = ranked.filter(F.col("rn_asc") == 1).select(
        "user_id", F.col("event_type").alias("first_type")
    )
    lasts = ranked.filter(F.col("rn_desc") == 1).select(
        "user_id", F.col("event_type").alias("last_type")
    )
    if prev_state is not None:
        stitched = prev_state.join(firsts, "user_id").select(
            F.col("last_type").alias("src"),
            F.col("first_type").alias("dst"),
        )
        pairs = within.unionByName(stitched)
        new_state = lasts.unionByName(
            prev_state.join(lasts.select("user_id"), "user_id", "left_anti")
        )
    else:
        pairs = within
        new_state = lasts
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return counts, new_state


def incremental_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental Markov stationary distribution — bitwise
    equal to the one-shot ``plans.relational.markov_stationary`` (its SQL
    is the oracle).

    THE ORDERED-STITCH CONTRACT (why this mirror is different): the
    sufficient statistic is the transition-count matrix plus, per user,
    the LAST event seen so far. A batch's contribution is its within-batch
    consecutive pairs PLUS one stitched transition (stored last event →
    the batch's first event) per user carried in state. That merge is NOT
    arrival-order-free: delivering a user's older events after newer ones
    would stitch transitions that never happened. Every other mirror in
    this family keeps order-free state (sums, sets, signed multisets);
    this one cannot — consecutiveness is inherently ordered — so instead
    of pretending otherwise it names its delivery contract: the source
    must deliver each user's events in nondecreasing (ts, event_id) order
    across batches (within-batch order is irrelevant — the per-user
    window sorts locally). That is Kafka-with-keyed-partitions semantics
    (per-key order, no cross-key promise), the weakest contract any real
    event log already provides. ``tests/test_streaming.py`` carries the
    counterexample pytest demonstrating the non-order-freeness.

    Per batch, state I/O is: read the per-user last-event frame written
    by the previous epoch (epoch-scoped paths — deterministic on replay),
    write (a) the batch's (src, dst, c) transition partial including the
    stitched boundary pairs, and (b) the new last-event frame (batch
    users updated, absent users carried). Emission merges partials by
    integer SUM and runs the shared quantize/iterate tail
    (``markov_stationary_from_counts``). Raw events are never re-read
    after their batch.

    At 100 TB: per-batch state is |users| rows (one slim last-event row
    each — the same cardinality class as the RFM mirror's per-customer
    state) and the transition partials are |types|² — both independent
    of stream length; the carried-users anti-join is user-keyed and
    would be a keyed state-store lookup under foreachBatch-free
    transformWithState."""
    from ..plans.relational import markov_stationary_from_counts

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        b = batch_df.select("user_id", "ts", "event_id", "event_type")
        counts, new_state = markov_batch_partial(b, st.latest("state"))
        st.land("counts", counts)
        st.land("types", b.select(F.col("event_type").alias("s")).distinct())
        st.land("state", new_state)

    def finish(st: Landing) -> DataFrame:
        c0 = st.landed("counts").groupBy("src", "dst").agg(
            F.sum("c").cast("bigint").alias("c")
        )
        return markov_stationary_from_counts(c0, st.landed("types").distinct())

    return fold_stream(replay(spark, sf_dir, TIME_BATCHES), on_batch, finish)


# ---------------------------------------------------------------------------
# Retraction-aware Markov mirror (round 12): the watermark-bounded buffer
# that closes the one retraction gap the ordered-stitch contract left open.

# Tombstones scheduled ADVERSARIALLY within the watermark bound: an EARLY
# one arrives before its insert (transient net -1), a LATE one after it
# (net +1 then cancelled). Both directions stay inside MARKOV_RETRACT_W_NS
# of the high-water mark, so a correct watermark buffer absorbs them;
# anything later would be a contract violation the freeze kernel rejects.
# Density caveat: slices are row-count slices, so the "2 of 6 batch spans
# ≤ 10 days < W" bound assumes roughly uniform event-time density (true of
# this lake); a heavily time-skewed lake could stretch two adjacent slices
# past W and trip the mirror's DETECTED violation — the correct response
# there is a larger W (a deployment sizes W from its lateness SLA, not
# from batch geometry), never a silent result.
MARKOV_RETRACT_BATCHES = Batches(
    "events",
    ("user_id", "ts", "event_id", "event_type"),
    ("adversarial", ("ts", "event_id"), 6, RETRACT_MOD, RETRACT_RES),
)

# Watermark delay (event-time ns): inserts AND tombstones may arrive
# disordered by at most this much behind the high-water mark. The staged
# adversarial schedule below bounds disorder at 2 of 6 batch spans of the
# 30-day events table (= 10 days); 12 days covers it with margin. Events
# older than (hwm - W) FREEZE: their transitions are finalized into
# (src, dst) counts and the rows leave the buffer — so state is
# W·arrival-rate-bounded, not stream-length-bounded.
MARKOV_RETRACT_W_NS = 12 * 24 * 3600 * 1_000_000_000

def markov_retract_freeze(
    merged: DataFrame, prev_lastfin: DataFrame | None, frontier_ns: int
) -> tuple:
    """The retraction mirror's per-epoch kernel, module-level so the
    contract-violation pytest can drive it directly. Input: the signed
    buffer AFTER merging this batch (user_id, ts, event_id, event_type,
    net — net in {-1, 0 dropped, +1}), the per-user last-FINALIZED-event
    state, and the watermark frontier (hwm − W).

    Rows with ts < frontier freeze: by the watermark contract nothing
    older than the frontier can still arrive, so their net is final — a
    surviving event has net +1, a cancelled one net 0 (already dropped).
    A freezing row with net != +1 is therefore a CONTRACT VIOLATION
    (a tombstone whose insert never arrived, or a tombstone for an
    already-frozen event): returned in `violations` for the caller to
    reject, exactly as a watermark drops late data instead of silently
    corrupting state. The frozen survivors — now immutable AND complete
    — run through the UNCHANGED ordered kernel (markov_batch_partial):
    retraction support is purely a buffering layer in front of it.

    Returns (finalized (src,dst,c) counts, new last-finalized state,
    surviving buffer, frozen types, violations)."""
    freeze = merged.filter(F.col("ts") < F.lit(int(frontier_ns)))
    keep = merged.filter(F.col("ts") >= F.lit(int(frontier_ns)))
    violations = freeze.filter(F.col("net") != 1)
    frozen = freeze.filter(F.col("net") == 1).select(
        "user_id", "ts", "event_id", "event_type"
    )
    counts, new_lastfin = markov_batch_partial(frozen, prev_lastfin)
    types = frozen.select(F.col("event_type").alias("s")).distinct()
    return counts, new_lastfin, keep, types, violations


def incremental_markov_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION-AWARE streaming Markov stationary distribution —
    bitwise equal to the one-shot stationary distribution over the
    SURVIVING (never-cancelled) events (that batch SQL is the oracle).

    Why (src, dst) counts alone cannot retract (SURVEY §10.2): deleting
    event B from a user's sequence A→B→C removes TWO transitions (A→B,
    B→C) and CREATES one (A→C) — the replacement pair (A, C) is not
    recoverable from transition counts; it needs B's neighbors, i.e.
    sequence-valued state. The memory-honest resolution is a WATERMARK-
    BOUNDED EVENT BUFFER: per-user signed event rows younger than
    (high-water-mark − W) stay mutable in the buffer, where a tombstone
    simply cancels its insert by integer net (order-free, either may
    arrive first); once the watermark passes an event, no insert or
    tombstone for it may arrive (the same promise a Structured Streaming
    watermark makes), so its net is final and the frozen prefix runs
    through the UNCHANGED ordered stitch kernel (markov_batch_partial)
    to finalized (src, dst) counts + per-user last-finalized state. A
    too-late tombstone is a detected contract violation (ValueError),
    not silent corruption. Inside the W horizon the mirror is thus
    FULLY order-free — strictly weaker than incremental_markov's
    per-user-ordered delivery contract — at the price of W·rate buffer
    rows.

    Emission: finalized counts + the live tail (the same kernel over the
    buffer, stitched from last-finalized state) merge by integer SUM into
    the exact surviving transition matrix; the shared quantize/iterate
    tail (markov_stationary_from_counts) does the rest.

    At 100 TB: buffer is W·arrival-rate rows (watermark-bounded, the
    same class as any stream-stream join state), last-finalized state is
    |users| rows, finalized counts |types|² — none grow with stream
    length. Under transformWithState the buffer would be a per-user
    ListState with the freeze on the event-time timer."""
    from ..plans.relational import markov_stationary_from_counts

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        b = batch_df.select(
            "user_id", "ts", "event_id", "event_type",
            F.col("sign").cast("bigint").alias("net"),
        )
        prev_buf = st.latest("buf")
        merged = (
            (b if prev_buf is None else prev_buf.unionByName(b))
            .groupBy("user_id", "ts", "event_id", "event_type")
            .agg(F.sum("net").cast("bigint").alias("net"))
            .filter(F.col("net") != 0)
        )
        prev_hwm = st.latest("hwm")
        bmax = b.agg(F.max("ts").alias("m")).collect()[0][0]
        hwm = bmax if prev_hwm is None else max(prev_hwm.collect()[0][0], bmax)
        counts, new_lastfin, keep, types, violations = markov_retract_freeze(
            merged, st.latest("lastfin"), hwm - MARKOV_RETRACT_W_NS
        )
        nviol = violations.count()
        if nviol:
            raise ValueError(
                f"markov_retract watermark contract violated: {nviol} "
                "event(s) froze with net != +1 (insert or tombstone "
                f"arrived more than {MARKOV_RETRACT_W_NS} ns late)"
            )
        st.land("fin", counts)
        st.land("types", types)
        st.land("buf", keep)
        st.land("lastfin", new_lastfin)
        st.land("hwm", spark.createDataFrame([(int(hwm),)], "hwm bigint"))

    def finish(st: Landing) -> DataFrame:
        fin = st.landed("fin").groupBy("src", "dst").agg(
            F.sum("c").cast("bigint").alias("c")
        )
        buf = st.latest("buf")
        tail, _ = markov_batch_partial(
            buf.select("user_id", "ts", "event_id", "event_type"), st.latest("lastfin")
        )
        c0 = (
            fin.unionByName(tail)
            .groupBy("src", "dst")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )
        states = (
            st.landed("types")
            .unionByName(buf.select(F.col("event_type").alias("s")))
            .distinct()
        )
        return markov_stationary_from_counts(c0, states)

    return fold_stream(replay(spark, sf_dir, MARKOV_RETRACT_BATCHES), on_batch, finish)
