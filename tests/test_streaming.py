"""M4 streaming tests: watermark late-data drop, streaming dedup,
session windows (SURVEY.md §5.5)."""

from __future__ import annotations

import datetime as dt
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F, types as T

SCHEMA = T.StructType(
    [
        T.StructField("event_time", T.TimestampType()),
        T.StructField("k", T.StringType()),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _t(minute, second=0):
    return dt.datetime(2024, 6, 1, 10, minute, second)


def test_watermark_drops_late_data(spark):
    """Append-mode tumbling agg with a 10-min watermark: an event arriving
    after its window was finalized must not change the emitted count."""
    src = tempfile.mkdtemp(prefix="wm_src_")
    name = "wm" + uuid.uuid4().hex[:8]

    # batch 1: three events in window [10:00, 10:05), one at 10:20 to move
    # the watermark to 10:10 (> window end, so the window can finalize)
    _write_batch(
        spark,
        src,
        [( _t(0, 30), "a"), (_t(1), "a"), (_t(4), "a"), (_t(20), "b")],
    )

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = (
        stream.withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # batch 2: a LATE event for the finalized 10:00 window + a fresh one
        _write_batch(spark, src, [(_t(2), "late"), (_t(35), "c")])
        q.processAllAvailable()
        # batch 3: advance watermark far so remaining windows flush
        _write_batch(spark, src, [(_t(59), "d")])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {r.ws: r.n for r in spark.table(name).collect()}
    w0 = dt.datetime(2024, 6, 1, 10, 0)
    assert out[w0] == 3, f"late event leaked into finalized window: {out}"


def test_streaming_dedup_within_watermark(spark):
    src = tempfile.mkdtemp(prefix="dd_src_")
    name = "dd" + uuid.uuid4().hex[:8]
    _write_batch(spark, src, [(_t(0), "x"), (_t(1), "x"), (_t(2), "y")])

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    deduped = stream.withWatermark("event_time", "30 minutes").dropDuplicatesWithinWatermark(["k"])
    q = deduped.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        _write_batch(spark, src, [(_t(3), "x"), (_t(4), "z")])
        q.processAllAvailable()
    finally:
        q.stop()

    ks = sorted(r.k for r in spark.table(name).collect())
    assert ks == ["x", "y", "z"], ks


def test_session_window_stream_matches_batch_islands(spark):
    """Streaming session_window (complete mode) == batch gaps-and-islands."""
    from air_traffic_data_pipeline_spark.plans.streaming_plans import sessionize_events
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        session_window_counts,
    )

    sf = "/root/testdata/sf0.001"
    streamed = session_window_counts(spark, sf)
    batch = sessionize_events(spark, sf)
    assert streamed.count() == batch.count()
    s_totals = streamed.agg(F.sum("n")).collect()[0][0]
    b_totals = batch.agg(F.sum("n_events")).collect()[0][0]
    assert s_totals == b_totals


def test_micro_batch_poll_roundtrip(spark):
    """S1/S2 cadence: injected fetcher -> staged parquet -> typed stream."""
    import json
    import tempfile

    from air_traffic_data_pipeline_spark.sources.opensky import micro_batch_poll

    envelope = {
        "time": 1757030400,
        "states": [
            ["ab1234", "AFR123  ", "France", 1757030400, 1757030410, -1.55, 47.2,
             3000.0, False, 150.0, 90.0, 5.0, "[1,2]", 3100.0, "7001", False, 0],
        ],
    }
    calls = []

    def fake_fetcher(url, headers, params):
        calls.append(params)
        return json.dumps(envelope)

    staging = tempfile.mkdtemp(prefix="poll_")
    bounds = {"lamin": 47.0, "lomin": -1.9, "lamax": 47.3, "lomax": -1.2}
    out = micro_batch_poll(spark, staging, bounds, fake_fetcher, n_polls=3)
    assert out.count() == 3  # one aircraft x three polls
    assert calls[0] == bounds  # bbox pushdown reached the "server"


def test_stateful_user_stats_carries_state_across_batches(spark):
    """applyInPandasWithState: a second micro-batch must see and extend the
    state from the first (running count grows, max ratchets up)."""
    import uuid as _uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    ev_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tempfile.mkdtemp(prefix="state_src_")

    def write(rows):
        spark.createDataFrame(rows, ev_schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([(1, 5.0), (1, 7.0), (2, 3.0)])

    def update(key, pdfs, state):
        import pandas as pd

        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            if len(pdf):
                n += len(pdf)
                bmx = float(pdf["value"].max())
                mx = bmx if mx is None else max(mx, bmx)
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "max_value": [mx]})

    stream = spark.readStream.schema(ev_schema).parquet(src)
    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n bigint, max_value double",
        "n bigint, mx double",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    name = "st" + _uuid.uuid4().hex[:10]
    q = out.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        write([(1, 2.0), (2, 9.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    # the running count only grows, so the max-n row per user is the final
    # state regardless of sink row order
    latest = {}
    for r in rows:
        if r.user_id not in latest or r.n > latest[r.user_id][0]:
            latest[r.user_id] = (r.n, r.max_value)
    assert latest[1] == (3, 7.0)
    assert latest[2] == (2, 9.0)


def test_late_data_drop_discards_old_half(spark):
    """The 3-batch watermark replay must emit windows ONLY from the newer
    half of events: every window from the dropped older half is absent,
    and counts never include late rows."""
    from pyspark.sql import functions as F

    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        late_data_drop_counts,
    )

    sf = "/root/testdata/sf0.001"
    got = late_data_drop_counts(spark, sf)
    ev = load(spark, sf, "events")
    n = ev.count()
    from pyspark.sql import Window

    ranked = ev.withColumn("rn", F.row_number().over(Window.orderBy("ts", "event_id")))
    newer = ranked.filter(F.col("rn") > n // 2)
    older_max_hour = (
        ranked.filter(F.col("rn") <= n // 2)
        .agg(F.max(F.expr("ts div 3600000000000"))).collect()[0][0]
    )
    newer_min_hour = newer.agg(F.min(F.expr("ts div 3600000000000"))).collect()[0][0]
    hours = [r.h for r in got.select(
        F.unix_timestamp("win_start", "yyyy-MM-dd HH:mm:ss").alias("s")
    ).select((F.col("s") / 3600).cast("bigint").alias("h")).collect()]
    # no emitted window is older than the newer half's first hour
    assert min(hours) >= newer_min_hour
    assert older_max_hour <= newer_min_hour  # sanity: halves actually split
    # total emitted events <= newer-half row count (late rows truly dropped)
    total = got.agg(F.sum("n")).collect()[0][0]
    assert total <= newer.count()


def test_foreach_batch_sink_is_idempotent_and_batch_order_free(spark):
    """foreachBatch landing: re-running the stream (same epochs replayed
    into the same partition dirs) must not change the final state, and the
    last-wins result must equal the batch oracle even though the staged
    replay delivers the OLDEST rows in the last micro-batch."""
    from pyspark.sql import Window

    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        foreach_batch_last_state,
    )
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = "/root/testdata/sf0.001"
    first = {r.user_id: (r.last_event_id, r.last_value) for r in
             foreach_batch_last_state(spark, sf).collect()}
    # second full run = every epoch replayed; overwrite-per-partition makes it a no-op
    second = {r.user_id: (r.last_event_id, r.last_value) for r in
              foreach_batch_last_state(spark, sf).collect()}
    assert first == second

    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expect = {
        r.user_id: r.event_id
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert {u: e for u, (e, _) in first.items()} == expect


def test_foreach_batch_result_survives_a_later_call(spark):
    """A returned result must not read files a later call of the same
    query deletes: each call lands in its own dir and returns a
    checkpointed frame."""
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        foreach_batch_last_state,
    )

    sf = "/root/testdata/sf0.001"
    a = foreach_batch_last_state(spark, sf)
    b = foreach_batch_last_state(spark, sf)
    b.count()
    a.count()
    assert sorted(a.collect()) == sorted(b.collect())


def _replay_xs(spark, lake):
    """A one-column lake table {1, 2} replayed as two rank batches, and
    its stage dir."""
    from air_traffic_data_pipeline_spark.streaming.staging import (
        Batches,
        replay,
        stage_batches,
    )

    spec = Batches("xs", None, ("rank", ("x",), 2))
    schema = T.StructType([T.StructField("x", T.LongType())])
    spark.createDataFrame([(1,), (2,)], schema).coalesce(1).write.parquet(
        str(lake / "xs.parquet")
    )
    return replay(spark, str(lake), spec), stage_batches(spark, str(lake), *spec)


def test_fold_stream_removes_landing_dir(spark, tmp_path):
    """fold_stream leaves nothing on disk: not after a successful run (the
    checkpointed result still reads), and not after an on_batch that
    raises."""
    import os
    import shutil

    from air_traffic_data_pipeline_spark.streaming.events_stream import fold_stream
    from air_traffic_data_pipeline_spark.streaming.staging import _STAGE_ROOT

    stream, stage = _replay_xs(spark, tmp_path)
    roots = []

    def land(b, st):
        roots.append(st.root)
        st.land("xs", b)

    out = fold_stream(stream, land, lambda st: st.landed("xs"))
    assert len(set(roots)) == 1 and not os.path.exists(roots[0])
    assert not roots[0].startswith(_STAGE_ROOT)  # no stage dir lists it
    assert sorted(r.x for r in out.collect()) == [1, 2]
    assert out.columns == ["x"]  # the `batch` partition column is dropped

    def boom(b, st):
        land(b, st)
        raise ValueError("on_batch failed")

    with pytest.raises(Exception, match="on_batch failed"):
        fold_stream(stream, boom, lambda st: st.landed("xs"))
    assert roots[-1] != roots[0] and not os.path.exists(roots[-1])
    assert sorted(os.listdir(stage)) == ["01.parquet", "02.parquet"]
    shutil.rmtree(stage)


def test_fold_stream_batch_plans_run_with_aqe(spark, tmp_path):
    """Spark disables AQE for the stream's own plan (one WARN
    ResolveWriteToStream per stream), but the plans on_batch builds from
    batch_df run in a session clone with AQE on."""
    import shutil

    from air_traffic_data_pipeline_spark.streaming.events_stream import fold_stream

    stream, stage = _replay_xs(spark, tmp_path)
    seen = []

    def on_batch(b, st):
        agg = b.groupBy("x").count()
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        seen.append((b.sparkSession.conf.get("spark.sql.adaptive.enabled"), plan))
        st.land("agg", agg)

    fold_stream(stream, on_batch, lambda st: st.landed("agg"))
    shutil.rmtree(stage)
    assert len(seen) == 2
    for conf, plan in seen:
        assert conf == "true"
        assert plan.startswith("AdaptiveSparkPlan isFinalPlan=true"), plan


def _staging_specs():
    """Every ``Batches`` spec the streaming mirrors stage, by module.name."""
    from air_traffic_data_pipeline_spark.streaming import (
        documents_stream,
        events_stream,
        orders_stream,
    )
    from air_traffic_data_pipeline_spark.streaming.staging import Batches

    return {
        f"{m.__name__.rsplit('.', 1)[1]}.{k}": v
        for m in (events_stream, documents_stream, orders_stream)
        for k, v in vars(m).items()
        if isinstance(v, Batches)
    }


def test_stage_batches_restages_a_lake_rewritten_in_place(spark, tmp_path):
    """The stage dir is keyed on the table's files, not the lake's path: a
    lake whose orders.parquet is rewritten in place streams the new orders
    (the same count as that content at a fresh path), and the superseded
    content dir of the slot is removed."""
    import glob
    import shutil

    from conftest import SF_ORACLE, SF_SMOKE

    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        ORDER_BATCHES,
        incremental_rfm,
    )
    from air_traffic_data_pipeline_spark.streaming.staging import stage_batches

    lake, fresh = tmp_path / "lake", tmp_path / "fresh"
    shutil.copytree(SF_SMOKE, lake)
    before = incremental_rfm(spark, str(lake)).count()
    shutil.copy(f"{SF_ORACLE}/orders.parquet", lake / "orders.parquet")
    after = incremental_rfm(spark, str(lake)).count()
    shutil.copytree(lake, fresh)
    assert after == incremental_rfm(spark, str(fresh)).count() != before

    dirs = [stage_batches(spark, str(p), *ORDER_BATCHES) for p in (lake, fresh)]
    slot = dirs[0].rsplit("_", 1)[0]
    assert glob.glob(f"{slot}_*") == [dirs[0]]
    for d in dirs:
        shutil.rmtree(d)


@pytest.mark.parametrize("name", sorted(_staging_specs()))
def test_stage_batches_split_contract(spark, name):
    """Each staged spec replays its table projection: insert-only splits
    cover it exactly with no row in two batches; signed splits net out to
    the survivors (id % MOD != RES); files arrive in file-name order."""
    import glob
    import os
    from functools import reduce

    from conftest import SF_SMOKE

    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.staging import replay, stage_batches

    spec = _staging_specs()[name]
    d = stage_batches(spark, SF_SMOKE, *spec)
    assert stage_batches(spark, SF_SMOKE, *spec) == d  # unchanged lake: reused
    # the stream's declared schema is the one staging wrote
    assert replay(spark, SF_SMOKE, spec).schema == spark.read.parquet(d).schema
    files = sorted(glob.glob(f"{d}/*.parquet"))
    mtimes = [os.stat(f).st_mtime_ns for f in files]
    assert mtimes == sorted(set(mtimes))
    batches = [spark.read.parquet(f) for f in files]
    table = load(spark, SF_SMOKE, spec.table)
    cols = list(spec.cols or table.columns)
    kind, key = spec.split[:2]
    if kind in ("cancel", "adversarial"):
        mod, res = spec.split[2:4] if kind == "cancel" else spec.split[3:5]
        net = (
            reduce(lambda a, b: a.unionByName(b), batches)
            .groupBy(*cols)
            .agg(F.sum("sign").alias("c"))
            .filter(F.col("c") != 0)
        )
        want = (
            table.filter(F.col(key[-1]) % mod != res)
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("c"))
        )
    else:
        net = reduce(lambda a, b: a.unionByName(b), batches)
        want = table.select(*cols)
        for i, a in enumerate(batches):
            for b in batches[i + 1 :]:
                assert a.intersect(b).count() == 0
    assert net.columns == want.columns
    assert net.exceptAll(want).count() == 0
    assert want.exceptAll(net).count() == 0


def test_dedup_watermark_query_matches_batch_distinct(spark):
    """dropDuplicatesWithinWatermark over the 3-batch replay == batch
    distinct when the delay exceeds the data span (no state eviction)."""
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        watermarked_dedup_count,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.event_type: r.n_users for r in watermarked_dedup_count(spark, sf).collect()}
    ev = load(spark, sf, "events")
    want = {
        r.event_type: r.n
        for r in ev.select("user_id", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_transform_with_state_matches_batch_agg(spark):
    """transformWithState (Spark 4 arbitrary stateful processing, RocksDB
    ValueState) running stats == the batch groupBy. Skipped where the
    API's protobuf dependency is absent (this container)."""
    import pytest

    from air_traffic_data_pipeline_spark.plans.streaming_plans import _tws_available

    if not _tws_available():
        pytest.skip("google.protobuf missing: transformWithState worker cannot start")

    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        transform_with_state_stats,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.event_type: (r.n, r.max_value, r.min_value)
        for r in transform_with_state_stats(spark, sf).collect()
    }
    want = {
        r.event_type: (r.n, r.max_value, r.min_value)
        for r in load(spark, sf, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
        )
        .collect()
    }
    assert got == want


def test_trigger_available_now_drains_and_stops(spark):
    """Trigger.availableNow: the modern batch-drain trigger — processes all
    data available at start (respecting maxFilesPerTrigger backpressure as
    batch boundaries) then stops on its own, vs processAllAvailable's
    wait-on-a-running-query. The counts must equal the batch aggregate."""
    import uuid as _uuid

    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        LATE_BATCHES,
        with_event_time,
    )
    from air_traffic_data_pipeline_spark.streaming.staging import replay

    sf = "/root/testdata/sf0.001"
    src = replay(spark, sf, LATE_BATCHES)  # 3 staged files -> 3 micro-batches
    agg = (
        with_event_time(src)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "an" + _uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # availableNow self-terminates
    got = {r.event_type: r.n for r in spark.table(name).collect()}
    want = {
        r.event_type: r.n
        for r in load(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_rocksdb_state_store_backend(spark):
    """Streaming dedup agg on the RocksDB state store provider — the
    production backend (state spills to disk + incremental checkpoints,
    vs the default in-heap HDFS-backed provider). JVM-side only, so it
    works regardless of Python-side deps."""
    import uuid as _uuid

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        from air_traffic_data_pipeline_spark.plans.tables import load
        from air_traffic_data_pipeline_spark.streaming.events_stream import (
            read_events_stream,
            run_to_memory,
            with_event_time,
        )

        sf = "/root/testdata/sf0.001"
        ev = with_event_time(read_events_stream(spark, sf))
        agg = ev.dropDuplicates(["user_id", "event_type"]).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        got = {r.event_type: r.n for r in run_to_memory(agg).collect()}
        want = {
            r.event_type: r.n
            for r in load(spark, sf, "events")
            .select("user_id", "event_type")
            .distinct()
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_checkpoint_restart_resumes_state(spark, tmp_path):
    """Fault-tolerance contract: a checkpointed streaming agg stopped and
    restarted over a grown source directory must resume from its offsets
    and carry aggregate state across the restart (counts equal the batch
    total, not just the post-restart data)."""
    import uuid as _uuid

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    name = "ck" + _uuid.uuid4().hex[:8]

    _write_batch(spark, src, [(_t(0), "a"), (_t(1), "a"), (_t(2), "b")])

    def start():
        stream = (
            spark.readStream.schema(SCHEMA)
            .parquet(src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
        first = {r.k: r.n for r in spark.table(name).collect()}
        assert first == {"a": 2, "b": 1}
    finally:
        q.stop()

    # source grows while the query is DOWN; the restart must pick up only
    # the new file (offset log) yet still produce cumulative counts
    _write_batch(spark, src, [(_t(3), "a"), (_t(4), "c")])
    q = start()
    try:
        q.processAllAvailable()
        second = {r.k: r.n for r in spark.table(name).collect()}
        assert second == {"a": 3, "b": 1, "c": 1}
    finally:
        q.stop()


def test_incremental_cms_matches_oneshot_sketch(spark):
    """Per-micro-batch partial CMS cells merged by summation must be
    bitwise-identical to the one-shot batch sketch, and the estimate can
    never undercount."""
    from air_traffic_data_pipeline_spark.operators.sketches import cms_cells
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        incremental_cms_user_freq,
    )

    sf = "/root/testdata/sf0.001"
    out = incremental_cms_user_freq(spark, sf).collect()
    n_users = load(spark, sf, "events").select("user_id").distinct().count()
    assert len(out) == min(20, n_users)
    for r in out:
        assert r.cms_est >= r.exact_freq
        assert r.overcount == r.cms_est - r.exact_freq

    # merged streaming cells == one-shot cells (integer-exact merge)
    ev = load(spark, sf, "events")
    oneshot = {
        (r.r, r.pos): r.cnt
        for r in cms_cells(
            ev.selectExpr("CAST(user_id AS STRING) AS w")
        ).collect()
    }
    est_by_user = {r.user_id: r.cms_est for r in out}
    # spot-check: every reported estimate is reproducible from the one-shot
    # sketch (min over the 4 row positions)
    from air_traffic_data_pipeline_spark.operators.sketches import CMS_ROWS, cms_pos

    probe = ev.selectExpr("CAST(user_id AS STRING) AS w").distinct()
    probe = probe.select(
        "w", *[cms_pos(F.col("w"), F.lit(r)).alias(f"p{r}") for r in range(CMS_ROWS)]
    )
    pos_by_user = {r.w: [r[f"p{i}"] for i in range(CMS_ROWS)] for r in probe.collect()}
    for uid, est in est_by_user.items():
        want = min(oneshot[(r, p)] for r, p in enumerate(pos_by_user[str(uid)]))
        assert est == want


def test_incremental_near_dup_equals_batch(spark):
    """Streaming incremental near-dup dedup (batch-at-a-time band join vs
    the accumulated corpus state) must reproduce the one-shot batch
    survivor set exactly — incremental corpus maintenance costs no
    accuracy."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_near_dup_survivors,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_id, r.lang, r.n_chars)
        for r in incremental_near_dup_survivors(spark, sf).collect()
    }
    want = {
        (r.doc_id, r.lang, r.n_chars)
        for r in llm.near_dup_survivors(spark, sf).collect()
    }
    assert got == want
    # the corpus contains near-dups, so the dedup must actually kill some
    assert len(got) < load(spark, sf, "documents").count()


def test_incremental_topk_equals_batch(spark):
    """Per-micro-batch decimal partials merged then ranked must equal the
    one-shot batch top-3 per event type exactly (decimal addition is
    associative — batch slicing can't change the totals)."""
    from decimal import ROUND_HALF_UP, Decimal

    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        incremental_topk_user_value,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.event_type, r.user_id, r.total_value, r.rank)
        for r in incremental_topk_user_value(spark, sf).collect()
    )

    ev = load(spark, sf, "events").select("event_type", "user_id", "value").collect()
    totals = {}
    for r in ev:
        k = (r.event_type, r.user_id)
        # HALF_UP quantize, NOT Python round() (banker's): the plan's
        # double -> DECIMAL(18,2) cast rounds HALF_UP, and the two agree
        # only while values carry <= 2 decimal digits
        totals[k] = totals.get(k, Decimal(0)) + Decimal(str(r.value)).quantize(
            Decimal("0.01"), rounding=ROUND_HALF_UP
        )
    by_type = {}
    for (et, uid), v in totals.items():
        by_type.setdefault(et, []).append((uid, v))
    want = []
    for et, rows in by_type.items():
        rows.sort(key=lambda t: (-t[1], t[0]))
        for i, (uid, v) in enumerate(rows[:3], start=1):
            want.append((et, uid, float(v), i))
    assert got == sorted(want)


def test_incremental_quantile_equals_batch(spark):
    """Per-micro-batch histogram partials merged by summation must
    reproduce the one-shot batch quantiles exactly (bin counts are exact
    ints — batch slicing can't change them), and each reported bin is the
    smallest whose cumulative count reaches ceil(q*N)."""
    import math

    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        QUANT_BIN_WIDTH,
        QUANT_QS,
        incremental_quantile_value,
    )
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = "/root/testdata/sf0.001"
    got = {
        r.q: (r.n_total, r.target_rank, r.bin, r.bin_lo)
        for r in incremental_quantile_value(spark, sf).collect()
    }
    vals = [
        r.value
        for r in load(spark, sf, "events").select("value").collect()
        if r.value is not None
    ]
    hist = {}
    for v in vals:
        b = math.floor(v / QUANT_BIN_WIDTH)
        hist[b] = hist.get(b, 0) + 1
    n = len(vals)
    want = {}
    for q in QUANT_QS:
        target = math.ceil(q * float(n))
        cum = 0
        for b in sorted(hist):
            cum += hist[b]
            if cum >= target:
                want[q] = (n, target, b, b * QUANT_BIN_WIDTH)
                break
    assert got == want
    assert len(got) == len(QUANT_QS)


def test_incremental_repeated_spans_equals_batch(spark):
    """Streaming incremental winnowing (batch fingerprints vs accumulated
    store, flags emitted for BOTH sites of a late-arriving repeat) must
    reproduce the one-shot repeated_spans ledger exactly."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_repeated_spans,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.doc_id, r.n_spans, r.span_words, r.doc_words, r.repeated_frac)
        for r in incremental_repeated_spans(spark, sf).collect()
    }
    want = {
        (r.doc_id, r.n_spans, r.span_words, r.doc_words, r.repeated_frac)
        for r in llm.repeated_spans(spark, sf).collect()
    }
    assert got == want
    assert got, "the corpus should contain repeated spans"
    # cross-batch detection really happened: at least one flagged doc sits
    # in the FIRST id-tercile (its repeat partner arrived in a later batch,
    # so its flag can only come from the store-side emission)
    ids = sorted(r[0] for r in want)
    docs = sorted(
        r.doc_id
        for r in llm.load(spark, sf, "documents").select("doc_id").collect()
    )
    first_tercile = set(docs[: len(docs) // 3])
    assert any(i in first_tercile for i in ids)


def test_incremental_url_dedup_equals_batch(spark):
    """Per-batch canonical-URL partials (count / max doc / max_by url)
    re-aggregated across batches must equal the one-shot batch dedup
    exactly — every output is distributive, so arrival order is
    irrelevant; and multi-crawl groups must really span batches."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_url_dedup,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.canonical_url, r.n_crawls, r.kept_doc_id, r.kept_url)
        for r in incremental_url_dedup(spark, sf).collect()
    }
    want = {
        (r.canonical_url, r.n_crawls, r.kept_doc_id, r.kept_url)
        for r in llm.url_dedup(spark, sf).collect()
    }
    assert got == want
    assert any(r[1] > 1 for r in want), "the lake should contain re-crawls"


def test_incremental_bm25_equals_batch(spark):
    """Per-batch (n_docs, sum_dl) stats partials + append-only query-term
    postings re-derived into N/avgdl/df must rank exactly like the
    one-shot BM25 — the statistics are distributive int64 sums, so
    arrival order is irrelevant; and the ranked docs must actually span
    more than one staged batch (the index really merged)."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_bm25,
    )

    sf = "/root/testdata/sf0.001"
    got = [
        (r.doc_id, r.bm25, r.rank) for r in incremental_bm25(spark, sf).collect()
    ]
    want = [(r.doc_id, r.bm25, r.rank) for r in llm.bm25_topk(spark, sf).collect()]
    assert sorted(got) == sorted(want)
    assert len(want) == llm.BM25_TOPK
    # the merged index really aggregated cross-batch facts: documents
    # contributing postings (id < BM25_MAX_ID, containing a query term)
    # must span more than one staged id-tercile batch — df and avgdl are
    # then genuinely multi-batch statistics even if the winners are not
    rows = (
        llm.load(spark, sf, "documents")
        .filter(F.col("doc_id") < llm.BM25_MAX_ID)
        .select("doc_id", "text")
        .collect()
    )
    docs = sorted(
        r.doc_id
        for r in llm.load(spark, sf, "documents").select("doc_id").collect()
    )
    lo, hi = docs[len(docs) // 3], docs[2 * len(docs) // 3]
    contributing = [
        r.doc_id
        for r in rows
        if any(t in r.text.split(" ") for t in llm.BM25_TERMS)
    ]
    terciles = {0 if d < lo else (1 if d < hi else 2) for d in contributing}
    assert len(terciles) > 1, "postings should span multiple staged batches"


def test_incremental_semdedup_equals_batch(spark):
    """Streaming SemDeDup under the frozen quantizer must reproduce the
    one-shot semdedup_cells survivor set exactly even though the staged
    batches interleave vec_id mod 3 (a pair's higher id can arrive
    first), and the dedup must actually kill something — including at
    least one pair whose members arrived in DIFFERENT batches (the
    store-side join leg, not just in-batch pairs)."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_semdedup,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.vec_id, r.label) for r in incremental_semdedup(spark, sf).collect()
    }
    want = {
        (r.vec_id, r.label) for r in llm.semdedup_cells(spark, sf).collect()
    }
    assert got == want
    all_ids = {
        r.vec_id
        for r in llm.load(spark, sf, "embeddings").select("vec_id").collect()
    }
    killed = all_ids - {v for v, _ in got}
    assert killed, "semantic dedup should remove near-duplicate vectors"
    # cross-batch detection really happened: recompute the epsilon pairs
    # driver-side from the batch query's own subcell rows and require at
    # least one pair whose members sit in DIFFERENT mod-3 batches — that
    # pair can only flag through the store-side join leg
    rows = llm._semdedup_cell_rows(spark, sf).collect()
    by_sub: dict[tuple, list] = {}
    for r in rows:
        by_sub.setdefault((r.cell, r.subcell), []).append(r)
    cross_batch = 0
    for grp in by_sub.values():
        for i, a in enumerate(grp):
            for b in grp[i + 1 :]:
                d = sum(x * y for x, y in zip(a.v, b.v))
                if round(d / (a.nv * b.nv), 6) >= llm.EMB_NEAR_DUP_THRESHOLD:
                    if a.vec_id % 3 != b.vec_id % 3:
                        cross_batch += 1
    assert cross_batch > 0, "fixture should exercise the store-side leg"


def test_incremental_funnel_equals_batch(spark):
    """The funnel-slice union state must reproduce the one-shot funnel
    exactly under the adversarial newest-first staging (a late-arriving
    early view can lower t1 and unlock an earlier click — per-type minima
    alone would get this wrong, the distinct ts-set state must not)."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        incremental_funnel,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.step, r.step_name, r.n_users)
        for r in incremental_funnel(spark, sf).collect()
    )
    want = sorted(
        (r.step, r.step_name, r.n_users)
        for r in relational.funnel_steps(spark, sf).collect()
    )
    assert got == want
    counts = {s: n for s, _, n in want}
    assert counts[1] >= counts[2] >= counts[3] > 0


def test_incremental_cross_source_equals_batch(spark):
    """Per-batch DISTINCT (gram, source) partials distinct-unioned across
    batches must reproduce the one-shot cross-source pair matrix exactly —
    set union is order-free — and the matrix must be non-empty (the lake
    contains cross-source repeats)."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_cross_source,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.src_a, r.src_b, r.n_a, r.n_b, r.n_shared, r.jaccard)
        for r in incremental_cross_source(spark, sf).collect()
    }
    want = {
        (r.src_a, r.src_b, r.n_a, r.n_b, r.n_shared, r.jaccard)
        for r in llm.cross_source_overlap(spark, sf).collect()
    }
    assert got == want and len(want) > 0


def test_incremental_pref_pairs_equals_batch(spark):
    """Per-source (count, struct-max, struct-min) partials merged across
    batches must reproduce the one-shot preference mining exactly —
    struct extremes are associative/commutative — and at least one
    surviving source's extremes must span different staged batches (the
    merge really combined)."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_preference_pairs,
    )

    sf = "/root/testdata/sf0.001"
    cols = (
        "source n_docs chosen_doc chosen_score rejected_doc rejected_score margin"
    ).split()
    got = {tuple(r[c] for c in cols) for r in incremental_preference_pairs(spark, sf).collect()}
    want = {tuple(r[c] for c in cols) for r in llm.preference_pairs(spark, sf).collect()}
    assert got == want and len(want) > 0


def test_incremental_rfm_equals_batch_any_order(spark):
    """Streaming incremental RFM: per-customer mergeable partials
    (max last date / count / exact-decimal spend) + emission-time exact
    quintile boundaries must reproduce the one-shot segmentation exactly
    — and since every partial column is distributive, merging the staged
    partials in REVERSED and interleaved order must too (the adversarial
    arrival-order proof, without restaging the stream)."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_rfm,
        rfm_from_per_customer_partials_check,
    )

    sf = "/root/testdata/sf0.001"
    key = lambda r: (  # noqa: E731
        r.segment,
        r.r_score,
        r.f_score,
        r.m_score,
        r.n_customers,
        r.avg_recency_days,
        r.avg_orders,
        r.avg_monetary,
    )
    want = sorted(key(r) for r in relational.rfm_segments(spark, sf).collect())
    got = sorted(key(r) for r in incremental_rfm(spark, sf).collect())
    assert got == want
    for order in ("reversed", "odd_even"):
        alt = sorted(
            key(r)
            for r in rfm_from_per_customer_partials_check(
                spark, sf, order
            ).collect()
        )
        assert alt == want, order


def test_incremental_token_budget_equals_batch(spark):
    """Integer-sum partials re-aggregated must equal the one-shot token
    budget planner bitwise (weights stay integer until one division)."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_token_budget,
    )

    sf = "/root/testdata/sf0.001"
    key = lambda r: (  # noqa: E731
        r.source,
        r.n_docs,
        r.n_tokens,
        r.mix_weight,
        r.allocated_tokens,
        r.epochs,
        r.over_repeated,
    )
    want = sorted(key(r) for r in llm.token_budget_plan(spark, sf).collect())
    got = sorted(key(r) for r in incremental_token_budget(spark, sf).collect())
    assert got == want
    assert len(want) >= 2, "multiple sources expected"


def test_incremental_stateless_mirrors_equal_batch(spark):
    """Per-doc stateless mirrors (gopher, readability): the union of
    per-batch scored outputs must equal the one-shot batch query row for
    row — stateless scoring commutes with any partitioning of the
    stream."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_gopher,
        incremental_readability,
    )

    sf = "/root/testdata/sf0.001"
    got = {tuple(r) for r in incremental_gopher(spark, sf).collect()}
    want = {tuple(r) for r in llm.gopher_rules(spark, sf).collect()}
    assert got == want and want
    got = {tuple(r) for r in incremental_readability(spark, sf).collect()}
    want = {tuple(r) for r in llm.readability_score(spark, sf).collect()}
    assert got == want and want


def test_incremental_pipeline_v2_equals_batch(spark):
    """The composed curation-stack mirror: five per-stage partial families
    (URL max-of-max, stateless gopher flags, the landed bigram stream, the
    winnow store+flags, doc meta) merged and pushed through the shared
    gate/release kernels must equal the one-shot composed pipeline row for
    row — the composition adds no new merge math, so any drift means a
    stage partial lost information."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_pretrain_pipeline,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in llm.pretrain_pipeline_v2(spark, sf).collect()}
    got = {tuple(r) for r in incremental_pretrain_pipeline(spark, sf).collect()}
    assert got == want
    assert len(want) >= 2, "multiple languages expected"


def test_incremental_doremi_equals_batch(spark):
    """The corpus-global-LM mirror: the merged landed bigram stream,
    re-scored through the shared LM + reweighting kernels, must equal the
    one-shot doremi_weights row for row — per-doc xent is only final when
    the stream drains, so this pins that the emission-time re-aggregate
    loses nothing."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_doremi,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in llm.doremi_weights(spark, sf).collect()}
    got = {tuple(r) for r in incremental_doremi(spark, sf).collect()}
    assert got == want
    assert len(want) >= 2


def test_incremental_kneser_ney_equals_batch(spark):
    """The corpus-global KN mirror: the merged landed bigram stream
    re-scored through the shared lm_kn_from_pairs kernel must equal the
    one-shot scores row for row — all five KN count tables (incl. the two
    continuation-TYPE tables) are integer aggregates of the stream, so
    this pins that slicing the stream loses nothing."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_kneser_ney,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in llm.lm_kneser_ney(spark, sf).collect()}
    got = {tuple(r) for r in incremental_kneser_ney(spark, sf).collect()}
    assert got == want and want


def test_incremental_heaps_equals_batch(spark):
    """The Heaps mirror: unioned per-doc token partials + MIN-merged
    per-batch first occurrences through the shared fit tail must equal
    the one-shot fit row for row — MIN is associative/commutative, so
    batch minima merged by MIN equal the corpus minimum under any
    arrival order."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_heaps,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in llm.heaps_law_fit(spark, sf).collect()}
    got = {tuple(r) for r in incremental_heaps(spark, sf).collect()}
    assert got == want and want


def test_incremental_temperature_equals_batch(spark):
    """The integer-partial mirror: per-batch (t, bin) BIGINT partial sums
    merged by addition at emission must equal the one-shot temperature
    fit row for row — the partials are distributive, so this pins that
    quantize-then-aggregate loses nothing vs the batch plan, and the grid
    table must carry exactly one is_best row."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_temperature,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in llm.temperature_scaling(spark, sf).collect()}
    got = {tuple(r) for r in incremental_temperature(spark, sf).collect()}
    assert got == want
    assert len(want) == len(llm.TEMP_GRID)
    assert sum(r[3] for r in want) == 1, "exactly one is_best row"


def test_incremental_calibration_equals_batch(spark):
    """Stateless per-doc score/label partials re-binned at emission must
    equal the one-shot reliability diagram row for row — the diagram's
    bin means and ECE weights are corpus-global, so this pins that the
    emission-time re-aggregate over landed rows loses nothing."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_calibration,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in llm.classifier_calibration(spark, sf).collect()}
    got = {tuple(r) for r in incremental_calibration(spark, sf).collect()}
    assert got == want
    assert len(want) >= 2


def test_incremental_shortest_path_equals_batch(spark):
    """The graph mirror: order-atomic per-batch co-purchase pair partials
    merged by integer SUM, with weights recomputed from the merged exact
    counts at emission, must equal the one-shot Bellman-Ford distances
    row for row — a later batch can SHORTEN an edge (1/cnt falls as the
    same pair's counts from different orders merge across batches), so
    this pins that the emission-time weight recompute loses nothing."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_shortest_path,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in relational.shortest_path(spark, sf).collect()}
    got = {tuple(r) for r in incremental_shortest_path(spark, sf).collect()}
    assert got == want and want


def test_incremental_quantile_sketch_equals_batch(spark):
    """The discrete-domain sketch mirror: per-batch exact (value, count)
    multiset partials merged by integer SUM, re-expanded through the
    shared sketch tail, must equal the one-shot sketch row for row —
    [lo, hi], the bin counts, AND the exact percentile are all functions
    of the multiset, so this pins that the compressed state loses
    nothing (including the data-dependent binning)."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_quantile_sketch,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in relational.quantile_sketch(spark, sf).collect()}
    got = {tuple(r) for r in incremental_quantile_sketch(spark, sf).collect()}
    assert got == want and want


def test_incremental_kcore_equals_batch(spark):
    """The cohesion mirror: the SAME staged pair state as the shortest-path
    mirror, consumed for its support only, must equal the one-shot per-k
    core table row for row — a later batch can RESCUE a peeled node by
    adding partners (cross-batch pairs raise degrees), so this pins that
    emission-time peeling over the merged pairs loses nothing."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_kcore,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in relational.kcore_decomposition(spark, sf).collect()}
    got = {tuple(r) for r in incremental_kcore(spark, sf).collect()}
    assert got == want and want


def test_incremental_label_propagation_equals_batch(spark):
    """The community mirror: vote weights are corpus-global counts (a
    cross-batch pair can FLIP a plurality vote), so emission must vote
    over the MERGED counts — equality with the one-shot community table
    pins that per-batch voting was never smuggled in."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_label_propagation,
    )

    sf = "/root/testdata/sf0.001"
    want = {
        tuple(r)
        for r in relational.label_propagation_communities(spark, sf).collect()
    }
    got = {tuple(r) for r in incremental_label_propagation(spark, sf).collect()}
    assert got == want and want


def test_incremental_pagerank_equals_batch(spark):
    """The centrality mirror: transition weights AND out-weight
    normalizers are corpus-global (a later batch shifts every ratio at a
    touched node), so emission must iterate over the merged counts —
    bitwise equality of the integer micro-unit top-k pins it."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_pagerank,
    )

    sf = "/root/testdata/sf0.001"
    want = {tuple(r) for r in relational.pagerank_copurchase(spark, sf).collect()}
    got = {tuple(r) for r in incremental_pagerank(spark, sf).collect()}
    assert got == want and want


def test_incremental_quantile_retract_equals_batch(spark):
    """The retraction mirror: signed per-batch multiset partials (the
    cancellations batch lands SECOND of four, so two thirds of the
    retractions precede the inserts they cancel — transient negative net
    counts mid-stream) must land exactly on the one-shot sketch over the
    surviving orders, including the data-dependent [lo, hi] binning."""
    from air_traffic_data_pipeline_spark.plans.relational import (
        RETRACT_MOD,
        RETRACT_RES,
        quantile_sketch_from,
    )
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_quantile_retract,
    )

    sf = "/root/testdata/sf0.001"
    surviving = (
        load(spark, sf, "orders")
        .filter(F.col("o_orderkey") % RETRACT_MOD != RETRACT_RES)
        .select(F.col("o_totalprice").alias("x"))
    )
    want = {tuple(r) for r in quantile_sketch_from(surviving).collect()}
    got = {tuple(r) for r in incremental_quantile_retract(spark, sf).collect()}
    assert got == want and want
    # and the retractions actually changed the answer vs the insert-only
    # sketch (otherwise this test pins nothing)
    all_orders = load(spark, sf, "orders").select(F.col("o_totalprice").alias("x"))
    full = {tuple(r) for r in quantile_sketch_from(all_orders).collect()}
    assert full != want, "cancellation set left every percentile untouched"


def test_incremental_rfm_retract_equals_batch(spark):
    """The KEYED retraction mirror: per-customer signed (date, price)
    multiset state must land exactly on the RFM scoring over surviving
    orders — including customers whose LATEST order was cancelled (the
    case a monotone max-state cannot retract) and customers cancelled
    out entirely (who must vanish from the segmentation)."""
    from air_traffic_data_pipeline_spark.plans.relational import (
        RETRACT_MOD,
        RETRACT_RES,
        rfm_from_per_customer,
    )
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_rfm_retract,
    )

    sf = "/root/testdata/sf0.001"
    o = load(spark, sf, "orders")
    surviving = o.filter(F.col("o_orderkey") % RETRACT_MOD != RETRACT_RES)
    per = (
        surviving.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("d"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("o_custkey")
        .agg(
            F.max("d").alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("p").cast("double").alias("monetary"),
        )
    )
    want = {tuple(r) for r in rfm_from_per_customer(per).collect()}
    got = {tuple(r) for r in incremental_rfm_retract(spark, sf).collect()}
    assert got == want and want
    # the cancellation set must actually exercise the hard case: at least
    # one customer's LATEST order is cancelled (their last_d moves back)
    full_last = {
        r.o_custkey: r.last_d
        for r in o.select(
            "o_custkey", F.to_date("o_orderdate").alias("d")
        )
        .groupBy("o_custkey")
        .agg(F.max("d").alias("last_d"))
        .collect()
    }
    surv_last = {r.o_custkey: r.last_d for r in per.select("o_custkey", "last_d").collect()}
    moved = [c for c, d in surv_last.items() if full_last[c] != d]
    assert moved, "no customer's latest order was cancelled — weak fixture"


def test_compact_signed_state_drops_tombstones_keeps_pending(spark, tmp_path):
    """Watermark-bounded tombstone compaction: folding the batch-partial
    prefix must (a) physically shrink state — net-zero (value, count)
    tombstone pairs leave entirely, (b) KEEP net-negative rows (a
    retraction that arrived before its insert is a pending match, not a
    tombstone), and (c) be invisible to emission — the merged net
    multiset is identical before and after compaction."""
    import glob

    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        compact_signed_state,
    )

    d = str(tmp_path / "state")

    def land(epoch, rows):
        spark.createDataFrame(rows, "x double, c bigint").write.mode(
            "overwrite"
        ).parquet(f"{d}/batch={epoch}")

    # epoch 0: insert 10.0 twice, 20.0 once
    land(0, [(10.0, 2), (20.0, 1)])
    # epoch 1: cancel both 10.0s (full cancellation -> tombstone pair)
    # and retract a 30.0 whose insert has NOT arrived yet (pre-insert)
    land(1, [(10.0, -2), (30.0, -1)])

    def merged():
        return {
            (r.x, r.c)
            for r in spark.read.parquet(f"{d}/batch=*")
            .groupBy("x")
            .agg(F.sum("c").cast("bigint").alias("c"))
            .filter(F.col("c") != 0)
            .collect()
        }

    before = merged()
    rows_before = spark.read.parquet(f"{d}/batch=*").count()  # 4 state rows
    compact_signed_state(spark, d, ["x"], 1)
    assert merged() == before == {(20.0, 1), (30.0, -1)}
    # state physically shrank: the non-current prefix folded into
    # batch=1m (the current epoch's partial stays its own dir — the r12
    # replay-safety exclusion), tombstone pairs net out at the next fold
    assert sorted(glob.glob(f"{d}/batch=*")) == [
        f"{d}/batch=1",
        f"{d}/batch=1m",
    ]
    assert spark.read.parquet(f"{d}/batch=*").count() <= rows_before
    # REPLAY of the compaction epoch: foreachBatch retries rewrite the
    # epoch's own partial and re-run compaction — the fold must survive
    # and the merge stay identical (the bug the r12 protocol fixes: the
    # old fold-into-batch={epoch} was overwritten by the retried partial)
    land(1, [(10.0, -2), (30.0, -1)])
    compact_signed_state(spark, d, ["x"], 1)
    assert merged() == before
    # the late insert now lands and matches the pending retraction
    land(2, [(30.0, 1)])
    assert merged() == {(20.0, 1)}
    # next compaction folds everything before epoch 3 incl. the old fold
    land(3, [(20.0, 1)])
    compact_signed_state(spark, d, ["x"], 3)
    assert merged() == {(20.0, 2)}
    assert sorted(glob.glob(f"{d}/batch=*")) == [
        f"{d}/batch=3",
        f"{d}/batch=3m",
    ]


def test_compact_signed_state_crash_recovery(spark, tmp_path):
    """The compaction protocol's crash windows: a COMPLETE tmp fold
    (_SUCCESS present) left by a crash between fold-write and install is
    FINISHED by the next call (sources deleted, fold installed) even if
    the delete loop had partially run; an INCOMPLETE tmp (no _SUCCESS)
    is discarded and compaction restarts from the intact sources."""
    import glob
    import os
    import shutil

    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        compact_signed_state,
    )

    d = str(tmp_path / "state")

    def land(epoch, rows):
        spark.createDataFrame(rows, "x double, c bigint").write.mode(
            "overwrite"
        ).parquet(f"{d}/batch={epoch}")

    def merged():
        return {
            (r.x, r.c)
            for r in spark.read.parquet(f"{d}/batch=*")
            .groupBy("x")
            .agg(F.sum("c").cast("bigint").alias("c"))
            .filter(F.col("c") != 0)
            .collect()
        }

    land(0, [(10.0, 1)])
    land(1, [(20.0, 1)])
    want = merged()
    # simulate a crash AFTER the fold write + partial delete, BEFORE the
    # rename: hand-build the complete tmp, delete a source
    spark.createDataFrame([(10.0, 1)], "x double, c bigint").write.mode(
        "overwrite"
    ).parquet(f"{d}.compact_tmp_e1")
    assert os.path.exists(f"{d}.compact_tmp_e1/_SUCCESS")
    shutil.rmtree(f"{d}/batch=0")  # the delete loop got this far
    compact_signed_state(spark, d, ["x"], 1)  # recovery path
    assert merged() == want
    assert sorted(glob.glob(f"{d}/batch=*")) == [
        f"{d}/batch=1",
        f"{d}/batch=1m",
    ]
    # incomplete tmp (no _SUCCESS): discarded, normal fold proceeds
    land(2, [(30.0, 1)])
    os.makedirs(f"{d}.compact_tmp_e2")  # junk dir, no _SUCCESS
    compact_signed_state(spark, d, ["x"], 2)
    assert merged() == {(10.0, 1), (20.0, 1), (30.0, 1)}
    assert not glob.glob(f"{d}.compact_tmp_e*")


def test_incremental_core_numbers_equals_batch(spark):
    """The decomposition mirror: coreness is corpus-global (a later batch
    can raise a node's coreness by adding partners), so emission must run
    the peel-sharing sweep over the MERGED pair support — per-node
    equality with the one-shot decomposition pins that no per-batch
    peeling was smuggled in."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_core_numbers,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in relational.core_numbers_copurchase(spark, sf).collect()]
    got = [tuple(r) for r in incremental_core_numbers(spark, sf).collect()]
    assert got == want and want


def test_incremental_shortest_path_retract_equals_batch(spark):
    """Retraction composed with the iterative-graph family: signed pair
    partials (cancellations staged before two thirds of their inserts,
    tombstone pairs compacted at watermark boundaries) must land exactly
    on the one-shot Bellman-Ford over the surviving-orders graph — and
    the cancellation set must actually move the distances vs the full
    graph (a retraction can lengthen or re-route a shortest path),
    otherwise this pins nothing."""
    from air_traffic_data_pipeline_spark.plans import relational as R
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_shortest_path_retract,
    )

    sf = "/root/testdata/sf0.001"
    li = (
        load(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .filter(F.col("l_orderkey") % R.RETRACT_MOD != R.RETRACT_RES)
    )
    want = {
        tuple(r)
        for r in R.shortest_path_from_pairs(R.copurchase_pairs(li)).collect()
    }
    got = {
        tuple(r) for r in incremental_shortest_path_retract(spark, sf).collect()
    }
    assert got == want and want
    full = {tuple(r) for r in R.shortest_path(spark, sf).collect()}
    assert full != want, "cancellation set left every distance untouched"


def test_incremental_two_hop_recs_equals_batch(spark):
    """The recommendation mirror: both the top-M cap order and the
    path-weight scores are corpus-global counts (a later batch can evict
    an edge from a node's top-M or flip a score comparison), so emission
    must cap+expand+score over the MERGED counts."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_two_hop_recs,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in relational.two_hop_recs(spark, sf).collect()]
    got = [tuple(r) for r in incremental_two_hop_recs(spark, sf).collect()]
    assert got == want and want


def test_incremental_ols_equals_batch(spark):
    """The regression mirror: DECIMAL(38,0) moment partials merge by
    exact addition, so the retrained coefficients must be bitwise equal
    to the one-shot fit regardless of arrival slicing."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_ols,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in relational.ols_regression(spark, sf).collect()]
    got = [tuple(r) for r in incremental_ols(spark, sf).collect()]
    assert got == want and want


def test_incremental_bootstrap_equals_batch(spark):
    """The Poisson-bootstrap mirror: a row's replicate weight is a pure
    function of (row identity, replicate) — batch-independent — so the
    merged weighted-sum partials must reproduce the one-shot CI bitwise
    regardless of arrival slicing. Also re-merges the staged partials in
    reversed arrival order to prove commutativity beyond the staged
    slicing."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_bootstrap,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in relational.poisson_bootstrap_ci(spark, sf).collect()]
    got = [tuple(r) for r in incremental_bootstrap(spark, sf).collect()]
    assert got == want and want

    # adversarial order: partials recomputed per tercile, merged reversed
    from air_traffic_data_pipeline_spark.plans.relational import (
        boot_exact_partial,
        boot_rep_partial,
        boot_rev_projection,
        bootstrap_ci_from_partials,
    )
    from air_traffic_data_pipeline_spark.plans.tables import load

    li = load(spark, sf, "lineitem")
    ks = li.select("l_orderkey").distinct()
    lo, hi = ks.approxQuantile("l_orderkey", [1 / 3, 2 / 3], 0.0)
    parts = [
        li.filter(F.col("l_orderkey") > hi),
        li.filter((F.col("l_orderkey") > lo) & (F.col("l_orderkey") <= hi)),
        li.filter(F.col("l_orderkey") <= lo),
    ]
    ex = rep = None
    for p in parts:
        proj = boot_rev_projection(p)
        e, r = boot_exact_partial(proj), boot_rep_partial(proj)
        ex = e if ex is None else ex.unionByName(e)
        rep = r if rep is None else rep.unionByName(r)
    got_rev = [tuple(r) for r in bootstrap_ci_from_partials(ex, rep).collect()]
    assert got_rev == want


def test_incremental_naive_bayes_equals_batch(spark):
    """The continuously-retraining classifier mirror: integer count
    partials merge by addition, so the final model — and therefore every
    held-out argmax and margin — must be bitwise equal to the one-shot
    batch training run, regardless of arrival slicing. Re-merges the
    partials in reversed arrival order to prove commutativity."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_naive_bayes,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in llm.naive_bayes_langid(spark, sf).collect()]
    got = [tuple(r) for r in incremental_naive_bayes(spark, sf).collect()]
    assert got == want and want

    d = load(spark, sf, "documents").select("doc_id", "lang", "text")
    parts = [
        d.filter(F.col("doc_id") % 3 == k) for k in (2, 0, 1)
    ]
    cnt = cls = qtok = None
    for p in parts:
        c, l, q = llm.nb_partials(p)
        cnt = c if cnt is None else cnt.unionByName(c)
        cls = l if cls is None else cls.unionByName(l)
        qtok = q if qtok is None else qtok.unionByName(q)
    got_rev = [
        tuple(r)
        for r in llm.nb_confusion_from_partials(cnt, cls, qtok).collect()
    ]
    assert got_rev == want


def test_incremental_time_series_family_equals_batch(spark):
    """The shared-daily-state mirror family (seasonal, Mann-Whitney,
    changepoint): per-batch (dn, cents) partials merge by addition, and
    each emission kernel over the merged series must be bitwise equal to
    its one-shot batch query. Also folds the partials in reversed
    arrival order through each kernel to prove merge commutativity."""
    from air_traffic_data_pipeline_spark.plans import relational as rel
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming import orders_stream as osm

    sf = "/root/testdata/sf0.001"
    pairs = [
        (rel.seasonal_decompose, osm.incremental_seasonal, rel.seasonal_from_daily),
        (rel.mann_whitney, osm.incremental_mann_whitney, rel.mann_whitney_from_daily),
        (rel.changepoint_binseg, osm.incremental_changepoint, rel.changepoint_from_daily),
    ]
    o = load(spark, sf, "orders")
    parts3 = [
        rel.daily_revenue_partial(o.filter(F.col("o_orderkey") % 3 == k))
        for k in (2, 0, 1)
    ]
    merged = parts3[0]
    for p in parts3[1:]:
        merged = merged.unionByName(p)
    merged = merged.groupBy("dn").agg(F.sum("cents").cast("bigint").alias("cents"))
    for batch_fn, mirror_fn, kernel in pairs:
        want = [tuple(r) for r in batch_fn(spark, sf).collect()]
        got = [tuple(r) for r in mirror_fn(spark, sf).collect()]
        assert got == want and want, batch_fn.__name__
        got_rev = [tuple(r) for r in kernel(merged).collect()]
        assert got_rev == want, batch_fn.__name__


def test_incremental_daily_family_extension_equals_batch(spark):
    """The daily-state family's round-10 extension (Spearman, ACF,
    Theil-Sen) plus the customer-state Gini mirror: each must be bitwise
    equal to its batch query; the daily kernels are also re-fed with
    reversed-order merged partials (the extended (cents, n_orders)
    schema) to prove merge commutativity."""
    from air_traffic_data_pipeline_spark.plans import relational as rel
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming import orders_stream as osm

    sf = "/root/testdata/sf0.001"
    o = load(spark, sf, "orders")
    parts3 = [
        rel.daily_revenue_partial(o.filter(F.col("o_orderkey") % 3 == k))
        for k in (1, 2, 0)
    ]
    merged = parts3[0]
    for p in parts3[1:]:
        merged = merged.unionByName(p)
    merged = merged.groupBy("dn").agg(
        F.sum("cents").cast("bigint").alias("cents"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
    )
    for batch_fn, mirror_fn, kernel in [
        (rel.spearman_corr, osm.incremental_spearman, rel.spearman_from_daily),
        (rel.autocorrelation, osm.incremental_acf, rel.acf_from_daily),
        (rel.theil_sen, osm.incremental_theil_sen, rel.theil_sen_from_daily),
    ]:
        want = [tuple(r) for r in batch_fn(spark, sf).collect()]
        got = [tuple(r) for r in mirror_fn(spark, sf).collect()]
        assert got == want and want, batch_fn.__name__
        got_rev = [tuple(r) for r in kernel(merged).collect()]
        assert got_rev == want, batch_fn.__name__

    want = [tuple(r) for r in rel.gini_concentration(spark, sf).collect()]
    got = [tuple(r) for r in osm.incremental_gini(spark, sf).collect()]
    assert got == want and want
    cust_parts = [
        rel.customer_cents_partial(o.filter(F.col("o_orderkey") % 3 == k))
        for k in (2, 1, 0)
    ]
    cm = cust_parts[0]
    for p in cust_parts[1:]:
        cm = cm.unionByName(p)
    cm = cm.groupBy("o_custkey").agg(F.sum("cents").cast("bigint").alias("cents"))
    got_rev = [tuple(r) for r in rel.gini_from_per_customer(cm).collect()]
    assert got_rev == want


def test_incremental_km_and_burstiness_equal_batch(spark):
    """Round-10 late mirrors: Kaplan-Meier (min/max-distributive span
    state) and burstiness (vocab-moment state) — bitwise equal to their
    batch queries, plus reversed-order partial folds."""
    from air_traffic_data_pipeline_spark.plans import llm, relational as rel
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming import (
        documents_stream as dsm,
        orders_stream as osm,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in rel.kaplan_meier(spark, sf).collect()]
    got = [tuple(r) for r in osm.incremental_kaplan_meier(spark, sf).collect()]
    assert got == want and want
    o = load(spark, sf, "orders")
    parts = [
        rel.km_span_partial(o.filter(F.col("o_orderkey") % 3 == k))
        for k in (2, 0, 1)
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    assert [tuple(r) for r in rel.km_from_spans(merged).collect()] == want

    want = [tuple(r) for r in llm.token_burstiness(spark, sf).collect()]
    got = [tuple(r) for r in dsm.incremental_burstiness(spark, sf).collect()]
    assert got == want and want
    d = load(spark, sf, "documents").select("doc_id", "text")
    vocs, nds = None, None
    for k in (1, 0, 2):
        v, nd = llm.burstiness_partials(d.filter(F.col("doc_id") % 3 == k))
        vocs = v if vocs is None else vocs.unionByName(v)
        nds = nd if nds is None else nds.unionByName(nd)
    assert [
        tuple(r) for r in llm.burstiness_from_partials(vocs, nds).collect()
    ] == want


def test_kendall_tau_matches_reference(spark):
    """Kendall tau-b vs a pure-Python all-pairs concordance count —
    plus consistency with Spearman's sign on this lake."""
    from air_traffic_data_pipeline_spark.plans import relational as rel

    sf = "/root/testdata/sf0.001"
    rows = [
        (r.dn, r.cents, r.n_orders)
        for r in rel.daily_revenue_cents(spark, sf).collect()
    ]
    c = d = tx = ty = txy = 0
    import math

    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            sx = (rows[j][1] > rows[i][1]) - (rows[j][1] < rows[i][1])
            sy = (rows[j][2] > rows[i][2]) - (rows[j][2] < rows[i][2])
            if sx * sy == 1:
                c += 1
            elif sx * sy == -1:
                d += 1
            elif sx == 0 and sy == 0:
                txy += 1
            elif sx == 0:
                tx += 1
            else:
                ty += 1
    n0 = c + d + tx + ty + txy
    tau = (c - d) / math.sqrt((n0 - tx - txy) * (n0 - ty - txy))
    want = (n0, c, d, tx, ty, txy, round(tau, 6))
    got = [tuple(r) for r in rel.kendall_tau(spark, sf).collect()]
    assert got == [want]
    rho = rel.spearman_corr(spark, sf).collect()[0].spearman_rho
    assert (tau > 0) == (rho > 0)  # same association direction


def test_incremental_kendall_and_jsd_equal_batch(spark):
    """Final round-10 mirrors: Kendall (eighth shared-daily-state
    kernel) and the JSD matrix (count-table state) — bitwise equal to
    their batch queries, plus reversed-order partial folds."""
    from air_traffic_data_pipeline_spark.plans import llm, relational as rel
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming import (
        documents_stream as dsm,
        orders_stream as osm,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in rel.kendall_tau(spark, sf).collect()]
    got = [tuple(r) for r in osm.incremental_kendall(spark, sf).collect()]
    assert got == want and want
    o = load(spark, sf, "orders")
    parts = [
        rel.daily_revenue_partial(o.filter(F.col("o_orderkey") % 3 == k))
        for k in (2, 1, 0)
    ]
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    merged = merged.groupBy("dn").agg(
        F.sum("cents").cast("bigint").alias("cents"),
        F.sum("n_orders").cast("bigint").alias("n_orders"),
    )
    assert [tuple(r) for r in rel.kendall_from_daily(merged).collect()] == want

    want = [tuple(r) for r in llm.source_jsd_matrix(spark, sf).collect()]
    got = [tuple(r) for r in dsm.incremental_jsd(spark, sf).collect()]
    assert got == want and want
    d = load(spark, sf, "documents").select("source", "text")
    cnts = None
    for k in (0, 2, 1):
        c = llm.jsd_token_partial(d.filter(F.col("source").substr(4, 9).cast("int") % 3 == k))
        cnts = c if cnts is None else cnts.unionByName(c)
    assert [tuple(r) for r in llm.jsd_from_counts(cnts).collect()] == want


def test_incremental_markov_equals_batch(spark):
    """The Markov mirror under the ordered-stitch contract: time-ordered
    batch slices with per-user last-event boundary state must reproduce
    the one-shot stationary distribution bitwise. The sf0.001 lake's
    users straddle the 4 batch boundaries heavily, so the stitched
    cross-batch transitions are load-bearing — a per-batch lead() alone
    would drop ~|users|·3 transitions and diverge."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        incremental_markov,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in relational.markov_stationary(spark, sf).collect()]
    got = [tuple(r) for r in incremental_markov(spark, sf).collect()]
    assert got == want and want


def test_markov_stitch_is_not_order_free(spark):
    """The documented counterexample: the Markov mirror's state merge is
    NOT arrival-order-free — the reason this mirror names an explicit
    ordered-delivery contract where every other mirror's state (sums,
    sets, signed multisets) merges under any slicing. One user, events
    A→B→C split as [A,B] then [C]: ordered delivery stitches B→C and
    reproduces the true pair multiset; reversed delivery ([C] first)
    stitches a C→A transition that never happened."""
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        markov_batch_partial,
    )

    cols = ["user_id", "ts", "event_id", "event_type"]
    rows = [(1, 10, 1, "A"), (1, 20, 2, "B"), (1, 30, 3, "C")]
    early = spark.createDataFrame(rows[:2], cols)
    late = spark.createDataFrame(rows[2:], cols)

    def run(batches):
        state, acc = None, {}
        for b in batches:
            counts, state = markov_batch_partial(b, state)
            for r in counts.collect():
                acc[(r.src, r.dst)] = acc.get((r.src, r.dst), 0) + r.c
        return acc

    truth = {("A", "B"): 1, ("B", "C"): 1}
    assert run([early, late]) == truth  # contract honored -> exact
    wrong = run([late, early])  # contract violated -> phantom C->A
    assert wrong != truth and ("C", "A") in wrong


def test_incremental_seasonal_retract_equals_surviving_batch(spark):
    """The retraction-aware seasonal mirror: signed (cents, n_orders)
    daily state under the adversarial schedule (two thirds of the
    cancellations land before their inserts) must reproduce the one-shot
    decomposition over the SURVIVING orders bitwise — and the
    cancellations must actually move the answer (the mirror output
    differs from the full-series decomposition), so the equality is
    non-vacuous."""
    from air_traffic_data_pipeline_spark.plans.relational import (
        RETRACT_MOD,
        RETRACT_RES,
        daily_revenue_partial,
        seasonal_decompose,
        seasonal_from_daily,
    )
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_seasonal_retract,
    )

    sf = "/root/testdata/sf0.001"
    surviving = load(spark, sf, "orders").filter(
        F.col("o_orderkey") % RETRACT_MOD != RETRACT_RES
    )
    want = [
        tuple(r)
        for r in seasonal_from_daily(
            daily_revenue_partial(surviving).select("dn", "cents")
        ).collect()
    ]
    got = [tuple(r) for r in incremental_seasonal_retract(spark, sf).collect()]
    assert got == want and want
    full = [tuple(r) for r in seasonal_decompose(spark, sf).collect()]
    assert got != full  # the cancellations moved the decomposition


def test_seasonal_day_removal_breaks_trend_window(spark):
    """The day-granularity consequence the retraction mirror must honor:
    cancelling a day's LAST surviving order removes the day row, which
    breaks 7-day contiguity and changes which days are trend-eligible.
    Seven contiguous days admit exactly one eligible center; with day 6
    fully cancelled the series has no 7-day window at all."""
    from air_traffic_data_pipeline_spark.plans.relational import (
        seasonal_from_daily,
    )

    full = spark.createDataFrame(
        [(d, 100 + d) for d in range(7)], ["dn", "cents"]
    )
    out_full = seasonal_from_daily(full).collect()
    assert len(out_full) == 1 and out_full[0].dow_idx == 3
    cancelled = full.filter(F.col("dn") != 6)
    assert seasonal_from_daily(cancelled).count() == 0


def test_incremental_sampled_trend_mirrors_equal_batch(spark):
    """The keyed-daily-state mirror pair: per-(segment, day) BIGINT
    partials with stream-static customer enrichment must reproduce both
    one-shot sampled-trend fits bitwise — a new day re-indexes every
    later day per segment (re-seeding the sampler), so emission reruns
    the sampler over the merged series and the equality proves the
    sampled pair set is a pure function of the merged data."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.streaming.orders_stream import (
        incremental_kendall_sampled,
        incremental_theil_sen_sampled,
    )

    sf = "/root/testdata/sf0.001"
    want_ts = [tuple(r) for r in relational.theil_sen_sampled(spark, sf).collect()]
    got_ts = [tuple(r) for r in incremental_theil_sen_sampled(spark, sf).collect()]
    assert got_ts == want_ts and want_ts
    want_kt = [tuple(r) for r in relational.kendall_sampled(spark, sf).collect()]
    got_kt = [tuple(r) for r in incremental_kendall_sampled(spark, sf).collect()]
    assert got_kt == want_kt and want_kt


def test_incremental_srp_equals_batch(spark):
    """The SRP mirror: per-doc stateless signatures landed once per
    arrival batch, batch-vs-landed band candidates, exact-cosine
    verification — must reproduce the one-shot SRP near-dup join
    bitwise (id-ordered staging makes every a<b pair land in b's
    batch, so the union of per-batch verified pairs IS the join)."""
    from air_traffic_data_pipeline_spark.plans.llm import srp_near_dup
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_srp_near_dup,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in srp_near_dup(spark, sf).collect()]
    got = [tuple(r) for r in incremental_srp_near_dup(spark, sf).collect()]
    assert got == want and want


def test_incremental_isotonic_equals_batch(spark):
    """The isotonic mirror: bins-sized integer partials merged by exact
    addition must reproduce the one-shot minimax fit bitwise — pooling
    reaches across the whole score range, so the equality proves the
    bin state is the sufficient statistic."""
    from air_traffic_data_pipeline_spark.plans.llm import isotonic_calibration
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_isotonic,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in isotonic_calibration(spark, sf).collect()]
    got = [tuple(r) for r in incremental_isotonic(spark, sf).collect()]
    assert got == want and want


def test_incremental_priority_sample_equals_batch(spark):
    """The priority-sample mirror: per-batch bounded top-K candidate
    state (row-intrinsic priorities are mergeable by construction) must
    reproduce the one-shot weighted sample bitwise."""
    from air_traffic_data_pipeline_spark.plans.llm import priority_sample
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_priority_sample,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in priority_sample(spark, sf).collect()]
    got = [tuple(r) for r in incremental_priority_sample(spark, sf).collect()]
    assert got == want and want


def test_incremental_markov_retract_equals_surviving_batch(spark):
    """The retraction-aware Markov mirror: a watermark-bounded signed
    event buffer (tombstones cancel inserts by integer net, either
    arrival order) in front of the unchanged ordered freeze kernel must
    reproduce the one-shot stationary distribution over the SURVIVING
    events bitwise — and the cancellations must actually move the
    answer, so the equality is non-vacuous."""
    from pyspark.sql import Window

    from air_traffic_data_pipeline_spark.plans.relational import (
        RETRACT_MOD,
        RETRACT_RES,
        markov_stationary,
        markov_stationary_from_counts,
    )
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        incremental_markov_retract,
    )

    sf = "/root/testdata/sf0.001"
    ev = (
        load(spark, sf, "events")
        .filter(F.col("event_id") % RETRACT_MOD != RETRACT_RES)
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c0 = tr.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    states = ev.select(F.col("event_type").alias("s")).distinct()
    want = [
        tuple(r) for r in markov_stationary_from_counts(c0, states).collect()
    ]
    got = [tuple(r) for r in incremental_markov_retract(spark, sf).collect()]
    assert got == want and want
    full = [tuple(r) for r in markov_stationary(spark, sf).collect()]
    assert got != full  # the cancellations moved the distribution


def test_markov_retract_deletion_rewires_transitions(spark):
    """The semantic that makes (src, dst) counts alone unretractable
    (SURVEY §10.2): deleting B from A→B→C removes TWO transitions and
    CREATES one — the freeze kernel over the netted buffer must emit
    exactly {A→C}, which no count-level subtraction could produce."""
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        markov_retract_freeze,
    )

    cols = "user_id bigint, ts bigint, event_id bigint, event_type string, net bigint"
    # buffer after merging B's tombstone: B netted to 0 and dropped
    merged = spark.createDataFrame(
        [(1, 10, 1, "A", 1), (1, 30, 3, "C", 1)], cols
    )
    counts, lastfin, keep, types, viol = markov_retract_freeze(
        merged, None, frontier_ns=100
    )
    assert [(r.src, r.dst, r.c) for r in counts.collect()] == [("A", "C", 1)]
    assert viol.count() == 0 and keep.count() == 0
    assert [(r.user_id, r.last_type) for r in lastfin.collect()] == [(1, "C")]


def test_markov_retract_freeze_splits_and_stitches(spark):
    """A frontier that bisects a user's buffer must finalize only the
    expired prefix (A→B), carry B as last-finalized state, and leave C
    live — the later tail pass then stitches B→C, so the split loses no
    transition."""
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        markov_batch_partial,
        markov_retract_freeze,
    )

    cols = "user_id bigint, ts bigint, event_id bigint, event_type string, net bigint"
    merged = spark.createDataFrame(
        [(1, 10, 1, "A", 1), (1, 20, 2, "B", 1), (1, 30, 3, "C", 1)], cols
    )
    counts, lastfin, keep, types, viol = markov_retract_freeze(
        merged, None, frontier_ns=25
    )
    assert [(r.src, r.dst, r.c) for r in counts.collect()] == [("A", "B", 1)]
    assert [(r.user_id, r.last_type) for r in lastfin.collect()] == [(1, "B")]
    assert [r.event_type for r in keep.collect()] == ["C"]
    tail, _ = markov_batch_partial(
        keep.select("user_id", "ts", "event_id", "event_type"), lastfin
    )
    assert [(r.src, r.dst, r.c) for r in tail.collect()] == [("B", "C", 1)]


def test_markov_retract_late_tombstone_is_violation(spark):
    """The watermark contract is ENFORCED, not assumed: a tombstone whose
    insert never arrived (net -1) freezing past the frontier is returned
    as a violation — the detected-rejection analogue of a watermark
    dropping late rows — while a clean +1 row freezes silently."""
    from air_traffic_data_pipeline_spark.streaming.events_stream import (
        markov_retract_freeze,
    )

    cols = "user_id bigint, ts bigint, event_id bigint, event_type string, net bigint"
    merged = spark.createDataFrame(
        [(1, 10, 1, "A", -1), (1, 20, 2, "B", 1)], cols
    )
    counts, lastfin, keep, types, viol = markov_retract_freeze(
        merged, None, frontier_ns=100
    )
    rows = viol.collect()
    assert len(rows) == 1 and rows[0].event_type == "A" and rows[0].net == -1
    # the clean row still finalized; the violation never enters counts
    assert [(r.user_id, r.last_type) for r in lastfin.collect()] == [(1, "B")]
    assert counts.count() == 0


def test_incremental_priority_sample_retract_equals_surviving_batch(spark):
    """The bounded-top-K retraction mirror: per-source top-(K+B) frontier
    state under the adversarial schedule (delete-before-insert AND
    delete-after-insert tombstones) must reproduce the one-shot priority
    sample over SURVIVING documents bitwise — and the deletions must
    actually change the sample, so the equality is non-vacuous."""
    from pyspark.sql import Window

    from air_traffic_data_pipeline_spark.plans.llm import (
        PRIO_K,
        PRIO_SCALE,
        priority_sample,
    )
    from air_traffic_data_pipeline_spark.plans.relational import _kmv_u32
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        PRIO_RETRACT_MOD,
        PRIO_RETRACT_RES,
        incremental_priority_sample_retract,
    )

    sf = "/root/testdata/sf0.001"
    d = (
        load(spark, sf, "documents")
        .filter(F.col("doc_id") % PRIO_RETRACT_MOD != PRIO_RETRACT_RES)
        .select("doc_id", "source", "n_chars")
    )
    u = (_kmv_u32(F.col("doc_id").cast("string")) + F.lit(1)).cast("bigint")
    keyed = d.select("doc_id", "source", "n_chars", u.alias("u")).select(
        "*",
        F.expr(f"(n_chars * CAST({PRIO_SCALE} AS BIGINT)) DIV u").alias(
            "priority_q"
        ),
    )
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("priority_q").desc(), F.col("doc_id").asc()
        )
    ).cast("bigint")
    want = [
        tuple(r)
        for r in keyed.select(
            "source", "doc_id", "n_chars", "priority_q", rn.alias("rank")
        )
        .filter(F.col("rank") <= PRIO_K)
        .orderBy("source", "rank")
        .collect()
    ]
    got = [
        tuple(r)
        for r in incremental_priority_sample_retract(spark, sf).collect()
    ]
    assert got == want and want
    full = [tuple(r) for r in priority_sample(spark, sf).collect()]
    assert got != full  # the deletions moved the sample


def test_priority_retract_deletion_promotes_buffered_contender(spark):
    """The shape that makes K-bounded top-K state unretractable: deleting
    a kept doc must PROMOTE the next contender, which only survives in
    the buffer. K=2, B=1: four docs, the rank-2 doc is deleted, and the
    buffered rank-3 doc enters the final top-2 — while the erosion tally
    records exactly one kept-set hit."""
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        priority_retract_update,
    )

    cols = "doc_id bigint, source string, n_chars bigint, sign int"
    # priorities are monotone in n_chars for a fixed u? no — use distinct
    # n_chars large enough that w dominates the hash denominator spread
    b1 = spark.createDataFrame(
        [
            (1, "s", 10_000_000, 1),
            (2, "s", 9_000_000, 1),
            (3, "s", 8_000_000, 1),
            (4, "s", 7_000_000, 1),
        ],
        cols,
    )
    kept, pend, x = priority_retract_update(None, None, None, b1, k_plus_b=3)
    top3 = sorted(
        [(r.doc_id, r.priority_q) for r in kept.collect()],
        key=lambda t: -t[1],
    )
    assert len(top3) == 3
    rank2_doc = top3[1][0]
    b2 = spark.createDataFrame([(rank2_doc, "s", 0, -1)], cols)
    kept2, pend2, x2 = priority_retract_update(kept, pend, x, b2, k_plus_b=3)
    ids2 = {r.doc_id for r in kept2.collect()}
    assert rank2_doc not in ids2 and top3[2][0] in ids2
    # final top-2 now includes the formerly-buffered rank-3 doc
    final2 = sorted(
        [(r.doc_id, r.priority_q) for r in kept2.collect()],
        key=lambda t: -t[1],
    )[:2]
    assert top3[2][0] in {d for d, _ in final2}
    assert [(r.source, r.x) for r in x2.collect()] == [("s", 1)]
    assert pend2.count() == 0


def test_priority_retract_pending_tombstone_cancels_late_insert(spark):
    """Delete-before-insert: the tombstone parks in pending state and the
    insert is cancelled on arrival without ever entering the kept set or
    the erosion tally."""
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        priority_retract_update,
    )

    cols = "doc_id bigint, source string, n_chars bigint, sign int"
    b1 = spark.createDataFrame([(7, "s", 0, -1)], cols)
    kept, pend, x = priority_retract_update(None, None, None, b1, k_plus_b=3)
    assert kept.count() == 0 and x.count() == 0
    assert [r.doc_id for r in pend.collect()] == [7]
    b2 = spark.createDataFrame(
        [(7, "s", 10_000_000, 1), (8, "s", 5_000_000, 1)], cols
    )
    kept2, pend2, x2 = priority_retract_update(kept, pend, x, b2, k_plus_b=3)
    assert [r.doc_id for r in kept2.collect()] == [8]
    assert pend2.count() == 0 and x2.count() == 0


def test_incremental_near_dup_retract_resurrects_victims(spark):
    """Un-ingestion for the dedup stack: the retraction mirror must equal
    the one-shot survivors over SURVIVING docs bitwise — and the
    RE-ELECTION semantics must be exercised on real data: at sf0.001,
    doc 487's only near-dup killer is itself deleted, so 487 is killed
    in the full-corpus run but SURVIVES the retraction run. A kill SET
    cannot express that; kill EDGES voided by dead killers can."""
    from air_traffic_data_pipeline_spark.plans.llm import near_dup_survivors
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        PRIO_RETRACT_MOD,
        PRIO_RETRACT_RES,
        incremental_near_dup_retract,
    )

    sf = "/root/testdata/sf0.001"
    got = incremental_near_dup_retract(spark, sf)
    got_ids = {r.doc_id for r in got.select("doc_id").collect()}
    full_ids = {
        r.doc_id for r in near_dup_survivors(spark, sf).select("doc_id").collect()
    }
    # equality vs the survivor-restricted batch run
    surviving = load(spark, sf, "documents").filter(
        F.col("doc_id") % PRIO_RETRACT_MOD != PRIO_RETRACT_RES
    )
    surv_ids = {r.doc_id for r in surviving.select("doc_id").collect()}
    # batch comparator: survivors among surviving docs = surviving docs
    # minus docs killed by a surviving earlier near-dup — recompute via
    # the full pair set restricted to surviving endpoints
    from air_traffic_data_pipeline_spark.plans.llm import minhash_near_dup_pairs

    pairs = [
        (r.doc_a, r.doc_b) for r in minhash_near_dup_pairs(spark, sf).collect()
    ]
    want = surv_ids - {
        b for a, b in pairs if a in surv_ids and b in surv_ids
    }
    assert got_ids == want
    # the documented resurrection case: killed in full, alive in retract
    assert 487 not in full_ids and 487 in got_ids and 487 % 7 != 3


def test_compact_dead_state_physically_drops_dead_rows(spark, tmp_path):
    """The anti-join compactor: folding the batch-partial prefix must
    physically remove dead-keyed rows (either anti column) and leave ONE
    batch dir whose content equals the surviving rows."""
    import glob

    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        compact_dead_state,
    )

    sd = str(tmp_path / "edges")
    spark.createDataFrame(
        [(1, 5), (2, 6)], "doc_a bigint, doc_b bigint"
    ).write.parquet(f"{sd}/batch=0")
    spark.createDataFrame(
        [(3, 7), (2, 8)], "doc_a bigint, doc_b bigint"
    ).write.parquet(f"{sd}/batch=1")
    dead = spark.createDataFrame([(2,), (7,)], "doc_id bigint")
    compact_dead_state(spark, sd, dead, 1, anti_cols=("doc_a", "doc_b"))
    folds = glob.glob(f"{sd}/batch=*")
    assert len(folds) == 1 and "/batch=1f" in folds[0]  # nonce fold dir
    rows = sorted(
        tuple(r) for r in spark.read.parquet(f"{sd}/batch=*").collect()
    )
    assert rows == [(1, 5)]  # (2,6),(2,8) dead killer; (3,7) dead victim
    # replay idempotence: a foreachBatch retry of the compaction epoch
    # rewrites its own partial NEXT TO the fold; re-compacting collapses
    # the duplicate facts into one fold with the same surviving rows
    spark.createDataFrame(
        [(3, 7), (2, 8)], "doc_a bigint, doc_b bigint"
    ).write.parquet(f"{sd}/batch=1")
    compact_dead_state(spark, sd, dead, 1, anti_cols=("doc_a", "doc_b"))
    folds2 = glob.glob(f"{sd}/batch=*")
    assert len(folds2) == 1 and "/batch=1f" in folds2[0]
    rows2 = sorted(
        tuple(r) for r in spark.read.parquet(f"{sd}/batch=*").collect()
    )
    assert rows2 == [(1, 5)]


def test_incremental_ann_ingest_equals_batch(spark):
    """The incrementally-maintained NSW graph must be bitwise the
    one-shot nsw_edges build on the union of all batches, even though
    the staged batches interleave vec_id mod 3 (a pair's later-arriving
    member routinely has the SMALLER id, exercising the old->new reverse
    edge leg), and the graph must contain cross-batch edges — edges the
    per-batch store-side join leg alone can produce."""
    from air_traffic_data_pipeline_spark.operators.similarity import nsw_edges
    from air_traffic_data_pipeline_spark.plans.llm import EMB_DIM
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_ann_ingest,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.src, r.dst, r.e_sim)
        for r in incremental_ann_ingest(spark, sf).collect()
    }
    e = load(spark, sf, "embeddings")
    want = {(r.src, r.dst, r.e_sim) for r in nsw_edges(e, EMB_DIM).collect()}
    assert got == want
    assert got, "graph should be non-empty"
    # cross-batch edges really exist (members in different mod-3 batches)
    assert any(s % 3 != d % 3 for s, d, _ in got)
    # and the degree cap held
    from collections import Counter

    deg = Counter(s for s, _, _ in got)
    from air_traffic_data_pipeline_spark.operators.similarity import NSW_M_DEG

    assert max(deg.values()) <= NSW_M_DEG


def test_incremental_ann_retract_equals_batch_on_survivors(spark):
    """The retraction-aware NSW mirror must equal the one-shot nsw_edges
    build over the SURVIVING vectors — and the repair must be a real
    re-election, not a filter: the survivor graph must contain at least
    one edge that is NOT in the full-corpus graph restricted to
    survivors (a candidate a deleted vector had crowded out of a degree
    cap re-enters), while no deleted vector appears anywhere."""
    from air_traffic_data_pipeline_spark.operators.similarity import nsw_edges
    from air_traffic_data_pipeline_spark.plans.llm import EMB_DIM
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        PRIO_RETRACT_MOD,
        PRIO_RETRACT_RES,
        incremental_ann_retract,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {
        (r.src, r.dst, r.e_sim)
        for r in incremental_ann_retract(spark, sf).collect()
    }
    e = load(spark, sf, "embeddings")
    surviving = e.filter(
        F.col("vec_id") % PRIO_RETRACT_MOD != PRIO_RETRACT_RES
    )
    want = {
        (r.src, r.dst, r.e_sim)
        for r in nsw_edges(surviving, EMB_DIM).collect()
    }
    assert got == want
    assert got, "survivor graph should be non-empty"
    dead = {
        r.vec_id
        for r in e.filter(
            F.col("vec_id") % PRIO_RETRACT_MOD == PRIO_RETRACT_RES
        ).collect()
    }
    assert dead, "fixture should delete something"
    assert not any(s in dead or d in dead for s, d, _ in got)
    # re-election really happened: the survivor graph is not merely the
    # full graph with dead endpoints dropped
    full = {
        (r.src, r.dst, r.e_sim) for r in nsw_edges(e, EMB_DIM).collect()
    }
    restricted = {
        (s, d, x) for s, d, x in full if s not in dead and d not in dead
    }
    assert got - restricted, "deletion should re-elect evicted candidates"
