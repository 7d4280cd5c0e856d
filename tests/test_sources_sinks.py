"""Ingest (S1-S4, O1-O8) and sink (K1, lake) tests."""

from __future__ import annotations

import json
import os
import tempfile
from importlib.util import find_spec

import pytest
from pyspark.sql import functions as F

from air_traffic_data_pipeline_spark.sources.opensky import (
    STATES_FIELDS,
    bbox_params,
    parse_states_envelope,
    states_schema,
)

# The sink writes GeoJSON only when folium is absent; with folium it writes
# an HTML page, whose text these checks do not describe.
geojson_sink = pytest.mark.skipif(
    find_spec("folium") is not None, reason="folium installed: the sink writes HTML"
)

ENVELOPE = {
    "time": 1757030400,
    "states": [
        # full row
        ["ab1234", "AFR123  ", "France", 1757030400, 1757030410, -1.55, 47.2,
         3000.0, False, 150.0, 90.0, 5.0, "[1,2,3]", 3100.0, "7001", False, 0],
        # nulls + on-ground + empty sensors string
        ["cd5678", None, "Germany", None, 1757030420, -1.60, 47.15,
         None, True, 5.0, 180.0, None, None, 27.0, None, None, 1],
        # single-element sensors
        ["ef9012", "DLH9  ", "Spain", 1757030401, 1757030421, -1.45, 47.25,
         8000.0, False, 220.0, 270.0, -3.0, "[7]", 8100.0, "2200", True, 2],
    ],
}


def test_parse_states_full_row(spark):
    df = parse_states_envelope(spark, json.dumps(ENVELOPE))
    assert df.schema == states_schema()
    rows = {r.icao24: r for r in df.collect()}
    assert len(rows) == 3
    r = rows["ab1234"]
    assert r.sensors == [1, 2, 3]
    assert r.longitude == -1.55 and r.latitude == 47.2
    assert r.on_ground is False and r.position_source == 0
    assert rows["cd5678"].sensors is None
    assert rows["cd5678"].vertical_rate is None
    assert rows["ef9012"].sensors == [7]
    assert rows["ef9012"].vertical_rate == -3.0


@pytest.mark.parametrize("states", [None, [], "missing"])
def test_parse_states_empty_guard(spark, states):
    """S4: null/empty/missing states -> empty typed frame, not an exit."""
    envelope = {"time": 1} if states == "missing" else {"time": 1, "states": states}
    df = parse_states_envelope(spark, json.dumps(envelope))
    assert df.count() == 0
    assert df.schema == states_schema()


def test_parse_states_malformed_envelope_raises(spark):
    """A truncated response is an error, not an empty poll."""
    with pytest.raises(Exception, match="(?i)malformed|expecting value"):
        parse_states_envelope(spark, '{"time": 1, "states": [["ab1234", ').collect()


# Raw JSON text, so number spellings reach the parser as written: exponent
# floats, an integer past 2**53, -0.0, sensors as a JSON array and as the
# string OpenSky sends, an 18th trailing field (OpenSky's `category`),
# numbers and booleans sent as strings, empty strings, a number in a string
# field and a null row.
EDGE_ENVELOPE = """{"time": 1757030400, "states": [
 ["aa0001", "EXP1    ", "France", 1757030400, 9007199254740993, 4.72e1, 1e-7,
  -0.0, false, 150.5, 90, -1E-3, [1, 2, 3], 3.1e3, "7001", true, 0, 4],
 ["aa0002", "", "", "1757030400", "", "-1.55", "47.2", "3000", "false", "5",
  "1e2", "", "[1,2,3]", "", "", "true", "2", 17],
 ["aa0003", 4.72e1, 7001, 1.5, 9007199254740993, 9007199254740993, -0.0,
  "-0.0", "TRUE", null, "nan", "x", "", "1e-7", 7001, "", "1.0"],
 ["aa0004", null, null, null, null, null, null, null, null, null, null, null,
  "[]", null, null, null, null],
 null
]}"""


def _per_row_decode(spark, envelope_json):
    """The driver-side decode parse_states_envelope used to run: json.loads,
    one json.dumps per state row, createDataFrame, per-row from_json."""
    states = json.loads(envelope_json).get("states") or []
    raw = spark.createDataFrame([(json.dumps(r),) for r in states], "state_json string")
    exploded = raw.select(F.from_json("state_json", "array<string>").alias("state"))
    cols = []
    for idx, name, dtype in STATES_FIELDS:
        c = F.col("state")[idx]
        if name == "sensors":
            c = F.when(c.isNull(), None).otherwise(
                F.split(F.regexp_replace(c, r"[\[\]\s]", ""), ",").try_cast(dtype)
            )
        else:
            c = c.try_cast(dtype)
        cols.append(c.alias(name))
    return exploded.select(*cols)


def test_parse_states_matches_per_row_decode(spark):
    got = parse_states_envelope(spark, EDGE_ENVELOPE)
    want = _per_row_decode(spark, EDGE_ENVELOPE)
    assert got.schema == want.schema == states_schema()
    got_rows, want_rows = got.collect(), want.collect()
    assert len(got_rows) == 5
    # repr tells -0.0 from 0.0, which == does not
    assert repr(got_rows) == repr(want_rows)
    r = got_rows[0]
    assert (r.longitude, r.latitude, r.last_contact) == (47.2, 1e-7, 9007199254740993)
    assert r.sensors == [1, 2, 3] and got_rows[1].sensors == [1, 2, 3]


def test_poll_radius_join_plans_broadcast(spark):
    """At the reference geometry (1,002,001 cells) the parsed poll is the
    small side: the binned radius join must plan as a broadcast hash join,
    not a sort-merge join that shuffles and sorts the whole grid. Plans
    only; no Spark job runs."""
    from air_traffic_data_pipeline_spark.constants import NANTES_LAT, NANTES_LON, R_MAX
    from air_traffic_data_pipeline_spark.operators.grid import gen_grid
    from air_traffic_data_pipeline_spark.operators.radius_join import adaptive_radius_join

    states = parse_states_envelope(spark, json.dumps(ENVELOPE))
    sources = states.select(F.col("latitude").alias("lat"), F.col("longitude").alias("lon"))
    grid = gen_grid(spark, NANTES_LAT, NANTES_LON, 200.0, 500)
    pairs = adaptive_radius_join(grid, sources, R_MAX, NANTES_LAT, region_extent_m=200_000)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan, plan


def test_bbox_params_order():
    b = {"lamin": 1.0, "lomin": 2.0, "lamax": 3.0, "lomax": 4.0, "extra": 9}
    assert bbox_params(b) == {"lamin": 1.0, "lomin": 2.0, "lamax": 3.0, "lomax": 4.0}


def test_heatmap_sink_fallback_or_folium(spark):
    from air_traffic_data_pipeline_spark.sinks.heatmap import write_heatmap

    df = spark.createDataFrame(
        [(47.1, -1.6, 0.5), (47.2, -1.5, 0.9)], "lat double, lon double, weight double"
    )
    bounds = {"lamin": 47.0, "lomin": -1.9, "lamax": 47.3, "lomax": -1.2}
    path = os.path.join(tempfile.mkdtemp(), "map.html")
    out = write_heatmap(df, path, bounds)
    assert os.path.exists(out)
    with open(out) as f:
        content = f.read()
    assert "47.1" in content or "0.5" in content


BOUNDS = {"lamin": 47.0, "lomin": -1.9, "lamax": 47.3, "lomax": -1.2}


def _sink_geojson(spark, rows, path):
    from air_traffic_data_pipeline_spark.sinks.heatmap import write_heatmap

    # three slices: the sink's Arrow table arrives in several chunks
    rdd = spark.sparkContext.parallelize(rows, 3)
    df = spark.createDataFrame(rdd, "lat double, lon double, weight double")
    out = write_heatmap(df, os.path.join(path, "map"), BOUNDS)
    with open(out) as f:
        return f.read()


@geojson_sink
def test_heatmap_geojson_bytes_match_json_dump(spark, tmp_path):
    """The hand-written GeoJSON text is byte-equal to json.dumps of the
    FeatureCollection dict, on floats whose shortest repr is awkward."""
    rows = [
        (47.153123, -1.6044, 1e-05),
        (0.1 + 0.2, -0.0, 0.5),
        (47.2, 1e-7, 1.0),
        (-89.999999, 179.99999999999997, 0.123456),
        (1e300, -5e-324, 0.0),
        (47.1, -1.5, 2.0 / 3.0),
    ]
    chunks = spark.sparkContext.parallelize(rows, 3).toDF("lat double, lon double, weight double")
    assert chunks.toArrow().column("lat").num_chunks >= 2
    want = json.dumps(
        {
            "type": "FeatureCollection",
            "bbox": [BOUNDS["lomin"], BOUNDS["lamin"], BOUNDS["lomax"], BOUNDS["lamax"]],
            "features": [
                {
                    "type": "Feature",
                    "geometry": {"type": "Point", "coordinates": [lon, lat]},
                    "properties": {"weight": w},
                }
                for lat, lon, w in rows
            ],
        }
    )
    assert _sink_geojson(spark, rows, str(tmp_path)) == want


@geojson_sink
def test_heatmap_sink_drops_null_rows(spark, tmp_path):
    """A row with a null lat, lon or weight is not written: the file stays
    valid JSON and holds only the complete rows."""
    rows = [(47.1, -1.6, 0.5), (47.2, None, 0.9), (None, -1.5, 0.9), (47.3, -1.4, None)]
    feats = json.loads(_sink_geojson(spark, rows, str(tmp_path)))["features"]
    assert [(f["geometry"]["coordinates"], f["properties"]["weight"]) for f in feats] == [
        ([-1.6, 47.1], 0.5)
    ]


def test_lake_partitioned_write_prunes(spark):
    from air_traffic_data_pipeline_spark.sinks.lake import write_partitioned

    src = spark.range(1000).withColumn("part", (F.col("id") % 4).cast("int"))
    out = tempfile.mkdtemp(prefix="lake_")
    write_partitioned(src, out, ["part"])
    assert sorted(os.listdir(out))[:1] == ["_SUCCESS"] or any(
        d.startswith("part=") for d in os.listdir(out)
    )
    back = spark.read.parquet(out).filter(F.col("part") == 2)
    assert back.count() == 250
    # partition pruning visible in the physical plan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "part=2" in plan or back.count() == 250


def test_csv_jsonl_scan_roundtrip(spark):
    """The scans row of SURVEY §2 Part B promises parquet/json/csv: write
    the customer table out as JSONL and CSV and read both back with an
    explicit schema — values must survive the round trip exactly."""
    src = (
        spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )
    schema = "c_custkey long, c_name string, c_acctbal double"
    jdir = tempfile.mkdtemp(prefix="lake_json_")
    cdir = tempfile.mkdtemp(prefix="lake_csv_")
    src.write.mode("overwrite").json(jdir)
    src.write.mode("overwrite").option("header", True).csv(cdir)
    back_j = spark.read.schema(schema).json(jdir)
    back_c = spark.read.schema(schema).option("header", True).csv(cdir)
    expect = sorted(tuple(r) for r in src.collect())
    assert sorted(tuple(r) for r in back_j.collect()) == expect
    assert sorted(tuple(r) for r in back_c.collect()) == expect


def test_bucketed_join_skips_shuffle(spark):
    """Joining two tables bucketed on the join key must not shuffle either
    side: the bucket-aware scan provides the required hash partitioning.
    This is the co-located-join layout lever SURVEY §2 Part B promises for
    100 TB fact-fact joins."""
    from air_traffic_data_pipeline_spark.sinks.lake import read_table, write_bucketed

    import uuid

    sfx = uuid.uuid4().hex[:8]
    ta_name, tb_name = f"bkt_a_{sfx}", f"bkt_b_{sfx}"
    a = spark.range(2000).withColumn("v", (F.col("id") % 7).cast("long"))
    b = spark.range(2000).withColumn("w", (F.col("id") % 5).cast("long"))
    write_bucketed(a, ta_name, "id", n_buckets=8)
    write_bucketed(b, tb_name, "id", n_buckets=8)
    # disable auto-broadcast: these test tables are tiny, and a broadcast
    # join would bypass bucketing; at 100 TB fact-fact scale broadcast is
    # off the table anyway — the bucketed SMJ is exactly the plan to pin
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ta, tb = read_table(spark, ta_name), read_table(spark, tb_name)
        joined = ta.join(tb, "id").groupBy("v").agg(F.sum("w").alias("sw"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 7
        pre_agg = plan.split("HashAggregate")[-1]  # below the agg: join + scans
        assert "Exchange" not in pre_agg, pre_agg
        assert "SelectedBucketsCount" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ta_name}")
        spark.sql(f"DROP TABLE IF EXISTS {tb_name}")


@geojson_sink
def test_flagship_end_to_end_with_sink(spark):
    """Full reference pipeline shape: flagship query -> heatmap sink. The
    file holds exactly the query's (lon, lat, weight) triples."""
    from air_traffic_data_pipeline_spark.operators.grid import gen_grid, grid_bounds
    from air_traffic_data_pipeline_spark.constants import (
        FLAGSHIP_N_STEPS,
        FLAGSHIP_STEP_M,
        NANTES_LAT,
        NANTES_LON,
    )
    from air_traffic_data_pipeline_spark.plans.domain import q_heat_triples
    from air_traffic_data_pipeline_spark.sinks.heatmap import write_heatmap

    triples = q_heat_triples(spark, "/root/testdata/sf0.001")
    b = grid_bounds(
        gen_grid(spark, NANTES_LAT, NANTES_LON, FLAGSHIP_STEP_M, FLAGSHIP_N_STEPS)
    ).collect()[0]
    bounds = {"lamin": b.lamin, "lomin": b.lomin, "lamax": b.lamax, "lomax": b.lomax}
    out = write_heatmap(triples, os.path.join(tempfile.mkdtemp(), "flagship.html"), bounds)
    with open(out) as f:
        feats = json.load(f)["features"]
    got = [(*f["geometry"]["coordinates"], f["properties"]["weight"]) for f in feats]
    want = {(r.lon, r.lat, r.weight) for r in triples.collect()}
    assert len(got) == len(want) > 0
    assert set(got) == want


def test_partition_pruning_skips_directories(spark, tmp_path):
    """A filter on the partition column must become PartitionFilters (scan
    lists only matching directories), not a post-scan filter."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.sinks.lake import write_partitioned

    ev = load(spark, "/root/testdata/sf0.001", "events")
    path = str(tmp_path / "part_events")
    write_partitioned(ev, path, ["event_type"])
    df = spark.read.parquet(path).filter(F.col("event_type") == "click")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "PartitionFilters" in p
    seg = p.split("PartitionFilters")[1][:200]
    assert "event_type" in seg
    exact = ev.filter(F.col("event_type") == "click").count()
    assert df.count() == exact


def test_compaction_merges_small_files(spark, tmp_path):
    import os

    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.sinks.lake import compact_small_files

    ev = load(spark, "/root/testdata/sf0.001", "events")
    n = ev.count()
    src = str(tmp_path / "many")
    ev.repartition(37).write.parquet(src)  # simulate a small-file mess
    n_small = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_small == 37
    dest = str(tmp_path / "compacted")
    n_files = compact_small_files(spark, src, dest, target_rows_per_file=n // 3 + 1)
    n_out = sum(1 for f in os.listdir(dest) if f.endswith(".parquet"))
    assert n_out == n_files <= 3
    assert spark.read.parquet(dest).count() == n


def test_orc_and_text_scan_roundtrip(spark, tmp_path):
    """ORC and text sources: explicit-schema round trips survive exactly —
    the remaining built-in file formats next to parquet/csv/jsonl."""
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = "/root/testdata/sf0.001"
    nat = load(spark, sf, "nation")

    orc_dir = str(tmp_path / "nation_orc")
    nat.write.mode("overwrite").orc(orc_dir)
    back = spark.read.schema(nat.schema).orc(orc_dir)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nat.collect()))

    txt_dir = str(tmp_path / "nation_txt")
    nat.select(
        F.concat_ws("|", "n_nationkey", "n_name", "n_regionkey").alias("value")
    ).write.mode("overwrite").text(txt_dir)
    parsed = (
        spark.read.text(txt_dir)
        .select(F.split("value", r"\|").alias("p"))
        .select(
            F.col("p")[0].cast("int").alias("n_nationkey"),
            F.col("p")[1].alias("n_name"),
            F.col("p")[2].cast("int").alias("n_regionkey"),
        )
    )
    assert sorted(map(tuple, parsed.collect())) == sorted(map(tuple, nat.collect()))


def test_observation_metrics_match_direct_agg(spark):
    """df.observe(Observation, ...): accumulator-style metrics collected on
    the pass that materializes the result — the zero-extra-pass way to get
    row counts / sums out of a 100 TB pipeline run (vs a second scan)."""
    from pyspark.sql import Observation

    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = "/root/testdata/sf0.001"
    li = load(spark, sf, "lineitem")
    obs = Observation("li_stats")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
    )
    n_out = observed.filter(F.col("l_quantity") > 25).count()

    direct = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"),
    ).collect()[0]
    assert obs.get["n_rows"] == direct.n_rows
    assert obs.get["total_qty"] == direct.total_qty
    # the observed metrics cover the FULL scan, not the filtered output
    assert n_out < direct.n_rows


def test_compaction_refuses_in_place_overwrite(spark, tmp_path):
    """In-place compaction would truncate the source before reading it —
    the operator must refuse, not destroy data."""
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.sinks.lake import compact_small_files

    src = str(tmp_path / "lake")
    load(spark, "/root/testdata/sf0.001", "nation").write.parquet(src)
    with pytest.raises(ValueError, match="must differ"):
        compact_small_files(spark, src, src, 1000)


def test_zorder_clustered_write_shrinks_file_ranges(spark, tmp_path):
    """Each Z-order-clustered file must cover a small rectangle of the
    (user_id, value) space: the mean per-file min/max spread of BOTH
    columns shrinks several-fold vs an unclustered write with the same
    file count — the parquet-stats pruning surface for 2-D predicates."""
    import glob

    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.sinks.lake import write_clustered

    ev = load(spark, "/root/testdata/sf0.01", "events").select("user_id", "value")
    n_files = 16
    clustered = str(tmp_path / "clustered")
    plain = str(tmp_path / "plain")
    write_clustered(ev, clustered, ("user_id", "value"), n_files=n_files)
    ev.repartition(n_files).write.parquet(plain)

    def mean_spread(path: str, col: str) -> float:
        lo = ev.agg(F.min(col)).first()[0]
        hi = ev.agg(F.max(col)).first()[0]
        spreads = []
        for f in glob.glob(f"{path}/*.parquet"):
            part = spark.read.parquet(f).agg(
                F.min(col).alias("lo"), F.max(col).alias("hi")
            ).first()
            if part.lo is not None:
                spreads.append((part.hi - part.lo) / max(1e-9, float(hi - lo)))
        assert spreads
        return sum(spreads) / len(spreads)

    for col, factor in (("user_id", 0.5), ("value", 0.65)):
        c, p = mean_spread(clustered, col), mean_spread(plain, col)
        # unclustered round-robin files span ~the full range; z-ordered
        # files must cover a clear fraction of it per dimension. `value` is
        # heavy-tailed (p99 ≈ max/2), so linear 16-bit scaling spends little
        # resolution on the sparse tail and the raw-range shrink is smaller
        # than uniform user_id's — still a ~2x stats-pruning win.
        assert c < factor * p, (col, c, p)


def test_warm_table_load_runs_no_spark_job(spark, tmp_path):
    """Parquet schema inference runs a Spark job; a second load of an
    unchanged table reuses the inferred schema and runs none."""
    from air_traffic_data_pipeline_spark.plans.tables import load

    spark.range(5).withColumn("a", F.col("id") * 2).write.parquet(str(tmp_path / "t.parquet"))
    st = spark.sparkContext.statusTracker()
    cold = load(spark, str(tmp_path), "t")
    before = set(st.getJobIdsForGroup(None))
    warm = load(spark, str(tmp_path), "t")
    after = set(st.getJobIdsForGroup(None))
    spark.range(1).count()  # this thread's jobs do land in the None group
    assert after == before != set(st.getJobIdsForGroup(None))
    assert warm.schema == cold.schema


def test_table_load_sees_a_table_rewritten_in_place(spark, tmp_path):
    """The cached schema is keyed on the table's files: overwriting a table
    with one more column shows that column at the next load."""
    from air_traffic_data_pipeline_spark.plans.tables import load

    base = spark.range(5).withColumn("a", F.col("id") * 2)
    base.write.parquet(str(tmp_path / "t.parquet"))
    assert load(spark, str(tmp_path), "t").columns == ["id", "a"]
    assert load(spark, str(tmp_path), "t").columns == ["id", "a"]
    base.withColumn("b", F.lit("x")).write.mode("overwrite").parquet(str(tmp_path / "t.parquet"))
    df = load(spark, str(tmp_path), "t")
    assert df.columns == ["id", "a", "b"]
    assert sorted(df.collect()) == [(i, 2 * i, "x") for i in range(5)]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Lake schema evolution: a second batch adds a column; reading with
    mergeSchema unifies the schema and back-fills nulls for the old
    files — the additive-evolution contract a 100 TB lake relies on when
    a pipeline starts emitting a new field mid-history."""
    from pyspark.sql import functions as F

    base = str(tmp_path / "evolve")
    spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(f"{base}/batch=1")
    spark.range(5, 10).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.lit("tag").alias("extra"),
    ).write.parquet(f"{base}/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{base}/batch=*")
    assert set(merged.columns) >= {"k", "v", "extra"}
    rows = {r.k: r for r in merged.collect()}
    assert len(rows) == 10
    assert all(rows[k].extra is None for k in range(5))
    assert all(rows[k].extra == "tag" for k in range(5, 10))
    # WITHOUT mergeSchema the first-listed footer wins: the column may be
    # absent — the failure mode the option exists to prevent
    plain = spark.read.parquet(f"{base}/batch=*")
    assert set(plain.columns) >= {"k", "v"}


def test_bucketed_copurchase_pair_build_skips_shuffle(spark):
    """The rel_pagerank watch item (r9 VERDICT item 6): the co-purchase
    pair build is a lineitem self-join on l_orderkey, and at growing lot
    density that self-join's shuffle is the scaling bound (1.95x wall at
    4x data, PERF.md). The bucketed-write lever removes the shuffle
    entirely: land the (l_orderkey, l_partkey) projection bucketed on
    l_orderkey once, and the self-join becomes a zero-Exchange
    bucket-aware SMJ — each bucket joins against itself in place, which
    is exactly how the pair state would be maintained on a 1000-executor
    cluster (land bucketed, rebuild pairs per bucket, merge counts).
    This test pins that plan AND that the bucketed build is bitwise equal
    to the straight self-join."""
    import uuid

    from air_traffic_data_pipeline_spark.plans.relational import copurchase_pairs
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.sinks.lake import read_table, write_bucketed

    sf = "/root/testdata/sf0.001"
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    tname = f"bkt_li_{uuid.uuid4().hex[:8]}"
    write_bucketed(li, tname, "l_orderkey", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = copurchase_pairs(read_table(spark, tname))
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        # below the self-join: only bucket-aware scans — no Exchange
        below_join = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in below_join, below_join
        assert "SelectedBucketsCount" in plan, plan
        got = sorted(tuple(r) for r in pairs.collect())
        want = sorted(tuple(r) for r in copurchase_pairs(li).collect())
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
