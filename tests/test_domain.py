"""M0 domain pipeline tests: flagship smoke, golden noise math, dedup
determinism, radius-join equivalence (SURVEY.md §5.2-5.4)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from air_traffic_data_pipeline_spark.constants import EARTH_RAD, NANTES_LAT, NANTES_LON, R_MAX
from air_traffic_data_pipeline_spark.functions.geo import haversine_m
from air_traffic_data_pipeline_spark.operators.dedup import last_wins_dedup
from air_traffic_data_pipeline_spark.operators.grid import gen_grid, grid_bounds
from air_traffic_data_pipeline_spark.operators.radius_join import naive_radius_join, radius_join
from air_traffic_data_pipeline_spark.plans.domain import flagship_noise_grid

SF_SMOKE = "/root/testdata/sf0.001"


def test_flagship_smoke(spark):
    df = flagship_noise_grid(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"g_lat", "g_lon", "db", "weight"}
    for r in rows[:50]:
        assert 0 < r.db <= 130.0
        assert 0 < r.weight <= 1.0


def test_grid_shape_and_bounds(spark):
    g = gen_grid(spark, NANTES_LAT, NANTES_LON, 200.0, 10)
    assert g.count() == 21 * 21
    b = grid_bounds(g).collect()[0]
    # reference stepslat: +/- n*step metres -> degrees (functions.py:134-147)
    expect_dlat = math.degrees(10 * 200.0 / EARTH_RAD)
    assert b.lamax - b.lamin == pytest.approx(2 * expect_dlat, abs=2e-6)
    assert b.lamin < NANTES_LAT < b.lamax
    assert b.lomin < NANTES_LON < b.lomax


def test_haversine_golden(spark):
    # golden from the reference's own formula computed with numpy (F:229-237)
    la, lo, lb, lo2 = 47.15, -1.60, 47.30, -1.40
    dlat = np.radians(la) - np.radians(lb)
    dlon = np.radians(lo) - np.radians(lo2)
    a = np.sin(dlat / 2) ** 2 + np.cos(np.radians(la)) * np.cos(np.radians(lb)) * np.sin(dlon / 2) ** 2
    expect = 2 * EARTH_RAD * np.arcsin(np.sqrt(a))
    got = (
        spark.range(1)
        .select(haversine_m(F.lit(la), F.lit(lo), F.lit(lb), F.lit(lo2)).alias("d"))
        .collect()[0]
        .d
    )
    assert got == pytest.approx(float(expect), rel=1e-12)


def test_phase_classification_golden(spark):
    rows = [
        Row(on_ground=True, vertical_rate=5.0, geo_altitude=100.0, want=80.0),
        Row(on_ground=False, vertical_rate=-2.0, geo_altitude=100.0, want=110.0),
        Row(on_ground=False, vertical_rate=2.0, geo_altitude=100.0, want=130.0),
        Row(on_ground=False, vertical_rate=0.0, geo_altitude=100.0, want=90.0),
        Row(on_ground=False, vertical_rate=None, geo_altitude=100.0, want=90.0),
        # strict inequality boundaries (F:221,223)
        Row(on_ground=False, vertical_rate=-1.5, geo_altitude=100.0, want=90.0),
        Row(on_ground=False, vertical_rate=1.5, geo_altitude=100.0, want=90.0),
    ]
    from air_traffic_data_pipeline_spark.functions.noise import phase_db

    df = spark.createDataFrame(rows).withColumn(
        "got", phase_db(F.col("on_ground"), F.col("vertical_rate"))
    )
    for r in df.collect():
        assert r.got == r.want, r


def test_power_sum_golden(spark):
    """Tiny grid x sources, expected dB computed with numpy exactly as the
    reference's decibel_estimation_ground (functions.py:239-276)."""
    src = [(47.16, -1.61, 90.0), (47.20, -1.55, 130.0)]
    grid_pts = [(47.15, -1.60), (47.40, -1.60)]
    src_df = spark.createDataFrame(src, "lat double, lon double, src_db double")
    grid_df = spark.createDataFrame(grid_pts, "g_lat double, g_lon double")

    from air_traffic_data_pipeline_spark.functions.noise import attenuated_power, db_from_power

    pairs = naive_radius_join(grid_df, src_df, R_MAX)
    got = {
        (r.g_lat, r.g_lon): r.db
        for r in pairs.withColumn("power", attenuated_power(F.col("src_db"), F.col("dist_m")))
        .groupBy("g_lat", "g_lon")
        .agg(F.sum("power").alias("p"))
        .filter(F.col("p") > 0)
        .select("g_lat", "g_lon", db_from_power(F.col("p")).alias("db"))
        .collect()
    }

    # independent numpy computation (reference math)
    def hav(a, b, c, d):
        dlat, dlon = np.radians(a) - np.radians(c), np.radians(b) - np.radians(d)
        x = np.sin(dlat / 2) ** 2 + np.cos(np.radians(a)) * np.cos(np.radians(c)) * np.sin(dlon / 2) ** 2
        return 2 * EARTH_RAD * np.arcsin(np.sqrt(x))

    for glat, glon in grid_pts:
        total = 0.0
        for slat, slon, sdb in src:
            d = hav(glat, glon, slat, slon)
            if d <= R_MAX:
                total += 10 ** ((sdb - 20 * np.log10(d)) / 10)
        if total > 0:
            assert got[(glat, glon)] == pytest.approx(round(10 * np.log10(total), 2), abs=0.01)
        else:
            assert (glat, glon) not in got


def test_last_wins_dedup_deterministic(spark):
    rows = [
        (47.1, -1.6, 1, "a"),
        (47.1, -1.6, 3, "c"),
        (47.1, -1.6, 2, "b"),
        (47.2, -1.5, 5, "d"),
    ]
    df = spark.createDataFrame(rows, "lat double, lon double, seq long, tag string")
    out = {(r.lat, r.lon): r.tag for r in last_wins_dedup(df, ["lat", "lon"], "seq").collect()}
    assert out == {(47.1, -1.6): "c", (47.2, -1.5): "d"}


def test_radius_join_equals_cross_filter(spark):
    """The §4 key equivalence: binned equi-join == crossJoin + haversine filter."""
    import random

    rng = random.Random(42)
    grid = gen_grid(spark, NANTES_LAT, NANTES_LON, 5000.0, 8)
    src = [
        (NANTES_LAT + rng.uniform(-0.6, 0.6), NANTES_LON + rng.uniform(-0.9, 0.9), float(i))
        for i in range(40)
    ]
    src_df = spark.createDataFrame(src, "lat double, lon double, sid double")

    fast = radius_join(grid, src_df, R_MAX, NANTES_LAT)
    slow = naive_radius_join(grid, src_df, R_MAX)
    key = lambda r: (r.g_lat, r.g_lon, r.sid)
    fast_set = {key(r) for r in fast.collect()}
    slow_set = {key(r) for r in slow.collect()}
    assert fast_set == slow_set
    assert len(fast_set) > 0


@pytest.mark.parametrize("n_steps", [0, 1, 10, 100])
def test_gen_grid_cells_equal_duckdb_grid_sql(spark, n_steps):
    """The Weyl row order only permutes rows: the lattice holds the same
    (g_lat, g_lon) values, bit for bit, as the DuckDB oracle's ordered
    generate_series lattice, each cell once."""
    import duckdb

    from air_traffic_data_pipeline_spark.operators.grid import grid_sql

    got = gen_grid(spark, NANTES_LAT, NANTES_LON, 200.0, n_steps).collect()
    want = duckdb.sql(grid_sql(NANTES_LAT, NANTES_LON, 200.0, n_steps)).fetchall()
    bits = lambda rows: sorted((la.hex(), lo.hex()) for la, lo in rows)
    assert bits(got) == bits(want)
    assert len(set(bits(got))) == (2 * n_steps + 1) ** 2


def test_radius_join_loads_every_lattice_split_evenly(spark):
    """Sources within 10 km of the center reach only the middle third of
    the latitude rows. The lattice's Weyl row order spreads those rows over
    every range split, so each task of the (broadcast, unshuffled) radius
    join gets about the same number of pairs: max/mean <= 1.3 whenever the
    lattice has >= 2 splits. In south-to-north row order the middle splits
    took every pair (max/mean ~2 at 4 splits)."""
    from air_traffic_data_pipeline_spark.operators.radius_join import adaptive_radius_join

    n_steps, step_m = 100, 1000.0  # 201x201 cells, 200 km across: binned join
    # 20 sources on a sunflower spiral; spark.range gives them a size
    # estimate, so the join broadcasts them and keeps the grid's splits
    k, r = F.col("id"), F.sqrt(F.col("id") / 20) * (10_000 / EARTH_RAD)
    src = spark.range(20).select(
        (F.lit(NANTES_LAT) + F.degrees(r * F.sin(k * 2.4))).alias("lat"),
        (F.lit(NANTES_LON) + F.degrees(r * F.cos(k * 2.4)) / math.cos(math.radians(NANTES_LAT)))
        .alias("lon"),
    )
    grid = gen_grid(spark, NANTES_LAT, NANTES_LON, step_m, n_steps)
    pairs = adaptive_radius_join(grid, src, R_MAX, NANTES_LAT, region_extent_m=2 * n_steps * step_m)
    assert "BroadcastHashJoin" in pairs._jdf.queryExecution().executedPlan().toString()
    splits = pairs.rdd.getNumPartitions()
    counts = [r["count"] for r in pairs.groupBy(F.spark_partition_id()).count().collect()]
    assert max(counts) / (sum(counts) / splits) <= 1.3, (splits, sorted(counts))


_RJ_LON0, _RJ_STEP_M, _RJ_N = -1.8, 2000.0, 60  # 121x121 cells, 240 km across
_RJ_EXTENT_M = 2 * _RJ_N * _RJ_STEP_M


def _rj_reach_deg(radius_m):
    # grid cells reach extent/2 from the center, matched sources R further
    return math.degrees((_RJ_EXTENT_M / 2 + radius_m) / EARTH_RAD)


@pytest.mark.parametrize("center_lat", [47.15, 70.0])
def test_adaptive_radius_join_exact_north_of_center(spark, center_lat):
    """Bin-join ≡ cross-join+filter where longitude degrees are widest: a
    pair near R_MAX east-west, ~1° north of the grid center, spans more
    longitude than a bin sized at the center latitude, so the 3x3 neighbor
    explode can miss it unless bins are sized at the poleward edge."""
    from air_traffic_data_pipeline_spark.operators.radius_join import adaptive_radius_join

    center_lon, step_m, n_steps = -1.8, 2000.0, 60  # 121x121 cells, extent/R = 12
    grid = gen_grid(spark, center_lat, center_lon, step_m, n_steps)
    src = [(center_lat + 0.9 + 0.01 * i, center_lon - 0.5 + 0.05 * i, i) for i in range(20)]
    src_df = spark.createDataFrame(src, "lat double, lon double, sid long")

    fast = adaptive_radius_join(
        grid, src_df, R_MAX, center_lat, region_extent_m=2 * n_steps * step_m
    )
    slow = naive_radius_join(grid, src_df, R_MAX)
    key = lambda r: (r.g_lat, r.g_lon, r.sid)
    slow_set = {key(r) for r in slow.collect()}
    assert {key(r) for r in fast.collect()} == slow_set
    assert len(slow_set) > 0


@settings(max_examples=6, deadline=None)
@given(
    center_lat=st.sampled_from([0.0, 47.15, -47.15, 70.0, 80.0]),
    # one grid step to the full extent, log-spaced so most draws stay
    # below extent/6 and take the binned path
    radius_m=st.integers(0, 100).map(lambda k: _RJ_STEP_M * (2 * _RJ_N) ** (k / 100)),
    fracs=st.lists(
        st.tuples(st.floats(-1.1, 1.1), st.floats(-1.1, 1.1)), min_size=1, max_size=20
    ),
)
def test_adaptive_radius_join_equals_naive(spark, center_lat, radius_m, fracs):
    """Bin-join == cross-join+filter for any source layout around the grid,
    at any latitude the join accepts (east of the antimeridian) and any
    radius from one grid step to the grid extent. Sources sit up to 1.1x
    the reach (extent/2 + R) from the center, so pairs near R east-west
    and poleward of the center, where longitude degrees are widest, are
    drawn."""
    from air_traffic_data_pipeline_spark.operators.radius_join import adaptive_radius_join

    r = _rj_reach_deg(radius_m)
    k = math.cos(math.radians(center_lat))
    src = [
        (center_lat + fy * r, _RJ_LON0 + fx * r / k, i) for i, (fy, fx) in enumerate(fracs)
    ]
    grid = gen_grid(spark, center_lat, _RJ_LON0, _RJ_STEP_M, _RJ_N)
    src_df = spark.createDataFrame(src, "lat double, lon double, sid long")
    cols = ("g_lat", "g_lon", "sid")
    fast = adaptive_radius_join(
        grid, src_df, radius_m, center_lat, region_extent_m=_RJ_EXTENT_M
    ).select(*cols, F.lit("fast").alias("side"))
    slow = naive_radius_join(grid, src_df, radius_m).select(*cols, F.lit("slow").alias("side"))
    # one action per example: Spark job latency dominates this test
    rows = fast.unionByName(slow).collect()
    got = {(x.g_lat, x.g_lon, x.sid) for x in rows if x.side == "fast"}
    want = {(x.g_lat, x.g_lon, x.sid) for x in rows if x.side == "slow"}
    assert got == want
