"""Domain (noise-pipeline) queries with DuckDB oracles.

The reference pipeline (states -> phase classify -> dedup -> grid radius join
-> attenuate -> power-sum per cell -> dB -> heat weights; /root/reference/
scripts/functions.py:213-302) runs here as one lazy DataFrame graph. Since
the driver's test lake has no flight-states table, a deterministic states
table is *derived* from ``events`` with exact integer/double arithmetic that
both Spark and DuckDB evaluate bitwise-identically (see ``build_states`` /
``STATES_SQL``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..constants import (
    DEG2RAD,
    EARTH_RAD,
    FLAGSHIP_N_STEPS,
    FLAGSHIP_STEP_M,
    MAX_DB,
    NANTES_LAT,
    NANTES_LON,
    R_MAX,
    RAD2DEG,
)
from ..functions.geo import haversine_sql, slant_distance_m
from ..functions.noise import (
    attenuated_power,
    attenuated_power_sql,
    db_from_power,
    phase_db,
    phase_db_sql,
    source_alt,
)
from ..operators.dedup import last_wins_dedup
from ..operators.grid import gen_grid, grid_bounds, grid_sql
from ..operators.radius_join import adaptive_radius_join
from .tables import load

# ---------------------------------------------------------------------------
# Deterministic flight-states derivation from the events table.
# All arithmetic is +, *, % on exact inputs -> bitwise identical in both
# engines. vertical_rate: fmod is exact in IEEE-754. 'error' events carry a
# null vertical_rate to exercise the null->cruise branch.
# ---------------------------------------------------------------------------


def _lattice_lat() -> F.Column:
    return F.lit(47.0) + (F.col("user_id") % 120) * F.lit(0.0028)


def _lattice_lon() -> F.Column:
    return F.lit(-1.92) + (F.col("event_id") % 240) * F.lit(0.003)


def _vertical_rate() -> F.Column:
    return F.when(F.col("event_type") != "error", (F.col("value") % 30.0) - 15.0)


def _on_ground() -> F.Column:
    return F.col("event_type") == "signup"


def states_from_events(ev: DataFrame, *extra: F.Column) -> DataFrame:
    """Derive the deterministic states table from an events DataFrame —
    batch or per-micro-batch (see ``incremental_noise_grid``). ``extra``
    columns (e.g. a day bucket for the temporal rollup) ride along so
    derived pipelines never re-implement the lattice formulas."""
    return ev.select(
        F.col("event_id"),
        F.lpad(F.col("event_id").cast("string"), 6, "0").alias("icao24"),
        _lattice_lat().alias("latitude"),
        _lattice_lon().alias("longitude"),
        _on_ground().alias("on_ground"),
        _vertical_rate().alias("vertical_rate"),
        F.when(F.col("event_type") != "purchase", F.col("value") * 25.0)
        .alias("geo_altitude"),
        *extra,
    )


def build_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    return states_from_events(load(spark, sf_dir, "events"))


# shared SQL fragments — the single source for the lattice/phase formulas
# (used by STATES_SQL and the temporal-rollup oracle)
_LAT_SQL = "CAST(47.0 AS DOUBLE) + (user_id % 120) * CAST(0.0028 AS DOUBLE)"
_LON_SQL = "CAST(-1.92 AS DOUBLE) + (event_id % 240) * CAST(0.003 AS DOUBLE)"
_ON_GROUND_SQL = "event_type = 'signup'"
_VR_SQL = "CASE WHEN event_type != 'error' THEN (value % CAST(30.0 AS DOUBLE)) - CAST(15.0 AS DOUBLE) END"

STATES_SQL = f"""
SELECT event_id,
       lpad(CAST(event_id AS VARCHAR), 6, '0') AS icao24,
       {_LAT_SQL} AS latitude,
       {_LON_SQL} AS longitude,
       {_ON_GROUND_SQL} AS on_ground,
       {_VR_SQL} AS vertical_rate,
       CASE WHEN event_type != 'purchase' THEN value * CAST(25.0 AS DOUBLE) END AS geo_altitude
FROM events
"""


def classified_states(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = build_states(spark, sf_dir)
    return st.withColumn(
        "src_db", phase_db(F.col("on_ground"), F.col("vertical_rate"))
    ).withColumn("src_alt", source_alt(F.col("on_ground"), F.col("geo_altitude")))


def source_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduped (lat, lon) -> (db, alt) source map (functions.py:213-227).

    Last-writer-wins on the coordinate key, deterministic by event_id desc.
    """
    st = classified_states(spark, sf_dir)
    deduped = last_wins_dedup(st, ["latitude", "longitude"], "event_id")
    return deduped.select(
        F.col("latitude").alias("lat"),
        F.col("longitude").alias("lon"),
        F.col("src_db"),
        F.col("src_alt"),
    )


SOURCE_LEVELS_SQL = f"""
WITH states AS ({STATES_SQL}),
classified AS (
  SELECT *, {phase_db_sql()} AS src_db,
         CASE WHEN on_ground THEN CAST(27.0 AS DOUBLE) ELSE geo_altitude END AS src_alt
  FROM states
),
deduped AS (
  SELECT *, row_number() OVER (PARTITION BY latitude, longitude ORDER BY event_id DESC) AS rn
  FROM classified
)
SELECT latitude AS lat, longitude AS lon, src_db, src_alt
FROM deduped WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# The noise pipeline: grid -> radius join -> attenuated power sum -> dB.
# Every noise-grid query is assembled from noise_power/noise_db, and every
# oracle for one from noise_sql.
# ---------------------------------------------------------------------------


def noise_power(
    spark: SparkSession,
    sources: DataFrame,
    step_m: float,
    n_steps: int,
    by: tuple[str, ...] = (),
) -> DataFrame:
    """Attenuated power summed per ``(*by, g_lat, g_lon)`` over the
    (2n+1)^2 grid around Nantes, from ``sources`` (lat, lon, src_db, *by).
    Power sums are associative: partial sums over any split of the sources
    merge by another SUM (``incremental_noise_grid``)."""
    grid = gen_grid(spark, NANTES_LAT, NANTES_LON, step_m, n_steps)
    pairs = adaptive_radius_join(
        grid, sources, R_MAX, NANTES_LAT, region_extent_m=2 * n_steps * step_m
    )
    power = attenuated_power(F.col("src_db"), F.col("dist_m"))
    return pairs.groupBy(*by, "g_lat", "g_lon").agg(F.sum(power).alias("sum_power"))


def noise_db(power: DataFrame, by: tuple[str, ...] = ()) -> DataFrame:
    """dB and heat weight of every cell with positive power. Rounding db to
    2 dp and weight to 6 dp makes the output insensitive to float summation
    order."""
    db = db_from_power(F.col("sum_power"))
    return power.filter(F.col("sum_power") > 0).select(
        *by, "g_lat", "g_lon", db.alias("db"), F.round(db / F.lit(MAX_DB), 6).alias("weight")
    )


def noise_sql(
    sources_sql: str, step_m: float, n_steps: int, by: tuple[str, ...] = ()
) -> str:
    """DuckDB oracle of ``noise_db(noise_power(...))``; ``sources_sql``
    selects (lat, lon, src_db, *by). Grid and sources join on a per-source
    band that holds every pair within R_MAX — |dlat| <= R/Re and
    sin(|dlon|/2) <= sin(R/2Re) / cos(|lat| + R/Re), each widened by 1e-9
    degrees — and the exact haversine decides membership."""
    from .sqlutil import dlit

    keys = "".join(f"{k}, " for k in by)
    s_keys = "".join(f"s.{k}, " for k in by)
    pole = f"(abs(lat) * {dlit(DEG2RAD)} + {dlit(R_MAX / EARTH_RAD)})"
    dlon = (
        f"CASE WHEN {pole} < {dlit(math.pi / 2)} THEN asin(least({dlit(1.0)}, "
        f"{dlit(math.sin(R_MAX / (2 * EARTH_RAD)))} / cos({pole}))) * {dlit(2 * RAD2DEG)}"
        f" + {dlit(1e-9)} ELSE {dlit(360.0)} END"
    )
    dlat = dlit(R_MAX / EARTH_RAD * RAD2DEG + 1e-9)
    dist = haversine_sql("g.g_lat", "g.g_lon", "s.lat", "s.lon")
    power = attenuated_power_sql("src_db", "dist_m")
    db = "round(CAST(10.0 AS DOUBLE) * log10(sum_power), 2)"
    return f"""
WITH grid AS ({grid_sql(NANTES_LAT, NANTES_LON, step_m, n_steps)}),
src AS (SELECT *, {dlon} AS dlon FROM ({sources_sql}) t),
pairs AS (
  SELECT {s_keys}g.g_lat, g.g_lon, s.src_db, {dist} AS dist_m
  FROM grid g JOIN src s
    ON g.g_lat BETWEEN s.lat - {dlat} AND s.lat + {dlat}
   AND g.g_lon BETWEEN s.lon - s.dlon AND s.lon + s.dlon
),
agg AS (
  SELECT {keys}g_lat, g_lon, sum({power}) AS sum_power
  FROM pairs WHERE dist_m <= CAST({R_MAX!r} AS DOUBLE)
  GROUP BY {keys}g_lat, g_lon
)
SELECT {keys}g_lat, g_lon, {db} AS db, round({db} / CAST({MAX_DB!r} AS DOUBLE), 6) AS weight
FROM agg WHERE sum_power > 0
"""


# ---------------------------------------------------------------------------
# Flagship: ground-noise grid
# ---------------------------------------------------------------------------


def flagship_noise_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """states -> classify -> dedup -> radius join -> attenuate ->
    groupBy(cell).sum(power) -> dB -> heat weight. One lazy plan, no collect.
    """
    power = noise_power(spark, source_levels(spark, sf_dir), FLAGSHIP_STEP_M, FLAGSHIP_N_STEPS)
    return noise_db(power)


_SOURCE_LEVELS_SRC = f"SELECT lat, lon, src_db FROM ({SOURCE_LEVELS_SQL}) t"


def flagship_sql() -> str:
    return noise_sql(_SOURCE_LEVELS_SRC, FLAGSHIP_STEP_M, FLAGSHIP_N_STEPS)


# ---------------------------------------------------------------------------
# Reference-geometry flagship: step 200 m / n = 500 -> 1 002 001 cells
# (/root/reference/scripts/functions.py:281). At this extent/R = 10 the
# adaptive join picks the binned equi-join — the 100 TB scale path — and this
# query proves it end to end at the grid the reference actually ships.
# ---------------------------------------------------------------------------

REFGEOM_STEP_M = 200.0
REFGEOM_N_STEPS = 500
# The reference's source side is ONE OpenSky poll (~dozens-hundreds of
# aircraft, functions.py:47); our events-derived source lattice has
# thousands of occupied coordinates, so the refgeom query deterministically
# keeps ~1/40 of the coordinate lattice (pure integer arithmetic, identical
# in both engines) to bench the reference's real shape: huge grid x
# poll-sized source set.
REFGEOM_SAMPLE_MOD = 40


def _refgeom_keep(lat, lon) -> F.Column:
    i_lat = F.round((lat - F.lit(47.0)) / F.lit(0.0028)).cast("long")
    i_lon = F.round((lon + F.lit(1.92)) / F.lit(0.003)).cast("long")
    return (i_lat * 7 + i_lon * 11) % REFGEOM_SAMPLE_MOD == 0


_REFGEOM_KEEP_SQL = (
    "(CAST(round((lat - CAST(47.0 AS DOUBLE)) / CAST(0.0028 AS DOUBLE)) AS BIGINT) * 7"
    " + CAST(round((lon + CAST(1.92 AS DOUBLE)) / CAST(0.003 AS DOUBLE)) AS BIGINT) * 11)"
    f" % {REFGEOM_SAMPLE_MOD} = 0"
)


def refgeom_noise_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    sources = source_levels(spark, sf_dir).filter(_refgeom_keep(F.col("lat"), F.col("lon")))
    return noise_db(noise_power(spark, sources, REFGEOM_STEP_M, REFGEOM_N_STEPS))


def refgeom_sql() -> str:
    sources = f"{_SOURCE_LEVELS_SRC} WHERE {_REFGEOM_KEEP_SQL}"
    return noise_sql(sources, REFGEOM_STEP_M, REFGEOM_N_STEPS)


# ---------------------------------------------------------------------------
# Incremental noise-map maintenance (streaming materialized view)
# ---------------------------------------------------------------------------


def incremental_noise_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's production pattern — poll -> update the heatmap —
    as STREAMING MATERIALIZED-VIEW MAINTENANCE: each micro-batch of state
    observations lands its ``noise_power`` partials as an idempotent
    ``batch=<epoch>`` partition (epoch replay overwrites the same directory
    — exactly-once); the view is ``noise_db`` over the summed partials.
    Power-domain sums are associative, so the incremental result equals the
    one-shot batch flagship over all observations (no dedup — every poll
    contributes), which is exactly what the oracle computes.

    At scale each micro-batch touches only its own sources x nearby cells
    (binned equi radius join), the landed partials are cell-keyed and
    compact, and the final merge re-aggregates partials — never raw pairs.
    """
    from ..streaming.events_stream import LATE_BATCHES, Landing, fold_stream
    from ..streaming.staging import replay

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        sources = states_from_events(batch_df).select(
            F.col("latitude").alias("lat"),
            F.col("longitude").alias("lon"),
            phase_db(F.col("on_ground"), F.col("vertical_rate")).alias("src_db"),
        )
        st.land("power", noise_power(spark, sources, FLAGSHIP_STEP_M, FLAGSHIP_N_STEPS))

    def finish(st: Landing) -> DataFrame:
        merged = st.landed("power").groupBy("g_lat", "g_lon").agg(
            F.sum("sum_power").alias("sum_power")
        )
        return noise_db(merged)

    return fold_stream(replay(spark, sf_dir, LATE_BATCHES), on_batch, finish)


def incremental_sql() -> str:
    """Oracle: the one-shot flagship over ALL observations (no dedup)."""
    sources = (
        f"SELECT latitude AS lat, longitude AS lon, {phase_db_sql()} AS src_db"
        f" FROM ({STATES_SQL}) t"
    )
    return noise_sql(sources, FLAGSHIP_STEP_M, FLAGSHIP_N_STEPS)


# ---------------------------------------------------------------------------
# Component queries (each a small oracle-checked surface)
# ---------------------------------------------------------------------------


def q_phase_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classification branch counts — covers the F.when chain incl. nulls."""
    st = classified_states(spark, sf_dir)
    return (
        st.groupBy("src_db")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("vertical_rate").alias("n_vr_nonnull"),
        )
        .orderBy("src_db")
    )


PHASE_CLASSIFY_SQL = f"""
WITH states AS ({STATES_SQL})
SELECT {phase_db_sql()} AS src_db,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(vertical_rate) AS BIGINT) AS n_vr_nonnull
FROM states
GROUP BY 1 ORDER BY 1
"""


def q_source_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return source_levels(spark, sf_dir)


def q_grid_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = gen_grid(spark, NANTES_LAT, NANTES_LON, FLAGSHIP_STEP_M, FLAGSHIP_N_STEPS)
    b = grid_bounds(grid)
    n = grid.agg(F.count(F.lit(1)).alias("n_cells"))
    return b.crossJoin(n)


GRID_BOUNDS_SQL = f"""
WITH grid AS ({grid_sql(NANTES_LAT, NANTES_LON, FLAGSHIP_STEP_M, FLAGSHIP_N_STEPS)})
SELECT min(g_lat) AS lamin, min(g_lon) AS lomin,
       max(g_lat) AS lamax, max(g_lon) AS lomax,
       CAST(count(*) AS BIGINT) AS n_cells
FROM grid
"""


def q_slant_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D slant distance parity op (reference F:194-211, dead code there).

    Distances from the grid center to each deduped source at its altitude.
    """
    src = source_levels(spark, sf_dir).filter(F.col("src_alt").isNotNull())
    return src.select(
        "lat",
        "lon",
        F.round(
            slant_distance_m(
                F.lit(NANTES_LAT), F.lit(NANTES_LON), F.col("lat"), F.col("lon"), F.col("src_alt")
            ),
            2,
        ).alias("slant_m"),
    )


_SLANT_HOR = haversine_sql(
    f"CAST({NANTES_LAT!r} AS DOUBLE)", f"CAST({NANTES_LON!r} AS DOUBLE)", "lat", "lon"
)

SLANT_SQL = f"""
WITH src AS (SELECT * FROM ({SOURCE_LEVELS_SQL}) t WHERE src_alt IS NOT NULL)
SELECT lat, lon,
       round(sqrt(({_SLANT_HOR} * {_SLANT_HOR})
                  + (abs(src_alt - CAST(27.0 AS DOUBLE)) * abs(src_alt - CAST(27.0 AS DOUBLE)))), 2) AS slant_m
FROM src
"""


def q_bbox_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bbox predicate (the reference's S2 pushdown, F:42-48) as a filter that
    Catalyst pushes into the parquet scan of events."""
    st = classified_states(spark, sf_dir)
    return (
        st.filter(
            (F.col("latitude") >= 47.05)
            & (F.col("latitude") <= 47.25)
            & (F.col("longitude") >= -1.8)
            & (F.col("longitude") <= -1.4)
        )
        .groupBy("src_db")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("src_db")
    )


BBOX_SQL = f"""
WITH states AS ({STATES_SQL})
SELECT {phase_db_sql()} AS src_db, CAST(count(*) AS BIGINT) AS n
FROM states
WHERE latitude >= 47.05 AND latitude <= 47.25 AND longitude >= -1.8 AND longitude <= -1.4
GROUP BY 1 ORDER BY 1
"""


def q_phase_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flight-phase transition detection (SURVEY §2 Part B windows row):
    per aircraft track (the latitude lattice line doubles as the track key
    in the derived lake), lag() the classified phase dB over the poll
    sequence and count each (from, to) transition — climb->cruise,
    cruise->descent, etc. One window shuffle on the track key; the
    transition matrix is tiny."""
    from pyspark.sql import Window

    st = classified_states(spark, sf_dir)
    w = Window.partitionBy("latitude").orderBy("event_id")
    prev = F.lag("src_db").over(w)
    return (
        st.withColumn("prev_db", prev)
        .filter(F.col("prev_db").isNotNull() & (F.col("prev_db") != F.col("src_db")))
        .groupBy(F.col("prev_db").alias("from_db"), F.col("src_db").alias("to_db"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


PHASE_TRANSITIONS_SQL = f"""
WITH states AS ({STATES_SQL}),
classified AS (
  SELECT *, {phase_db_sql()} AS src_db FROM states
),
lagged AS (
  SELECT src_db,
         lag(src_db) OVER (PARTITION BY latitude ORDER BY event_id) AS prev_db
  FROM classified
)
SELECT prev_db AS from_db, src_db AS to_db, count(*) AS n_transitions
FROM lagged
WHERE prev_db IS NOT NULL AND prev_db != src_db
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Temporal rollup: the flagship pipeline per day (hypertable-style)
# ---------------------------------------------------------------------------

ROLLUP_N_STEPS = 10  # 441 cells: keeps the oracle's pair count tractable
_NANOS_PER_DAY = 86_400_000_000_000


def q_daily_noise_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style temporal rollup of the flagship: the SAME
    states -> classify -> dedup -> radius join -> dB pipeline, bucketed by
    day — dedup is last-wins per (day, coordinate) and the aggregation key
    grows a time dimension. The rollup's scale shape is unchanged (the day
    column rides along the radius join; the per-cell aggregate shuffles on
    (day, cell)); at 100 TB the day key also becomes the lake's partition
    column, so each day's rollup prunes to its own files."""
    ev = load(spark, sf_dir, "events")
    st = states_from_events(
        ev, F.expr(f"ts div {_NANOS_PER_DAY}").cast("bigint").alias("day")
    ).withColumn("src_db", phase_db(F.col("on_ground"), F.col("vertical_rate")))
    deduped = last_wins_dedup(st, ["day", "latitude", "longitude"], "event_id")
    sources = deduped.select(
        "day", F.col("latitude").alias("lat"), F.col("longitude").alias("lon"), "src_db"
    )
    power = noise_power(spark, sources, FLAGSHIP_STEP_M, ROLLUP_N_STEPS, by=("day",))
    return noise_db(power, by=("day",)).drop("weight")


def daily_rollup_sql() -> str:
    sources = f"""
WITH st AS (
  SELECT event_id,
         CAST(epoch_ns(ts) // {_NANOS_PER_DAY} AS BIGINT) AS day,
         {_LAT_SQL} AS latitude,
         {_LON_SQL} AS longitude,
         {phase_db_sql()} AS src_db
  FROM (SELECT *,
               {_ON_GROUND_SQL} AS on_ground,
               {_VR_SQL} AS vertical_rate
        FROM events) e
),
deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY day, latitude, longitude ORDER BY event_id DESC) AS rn
    FROM st) t
  WHERE rn = 1
)
SELECT day, latitude AS lat, longitude AS lon, src_db FROM deduped"""
    rollup = noise_sql(sources, FLAGSHIP_STEP_M, ROLLUP_N_STEPS, by=("day",))
    return f"SELECT day, g_lat, g_lon, db FROM ({rollup}) t"


def q_heat_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized heatmap triples (F:302): the flagship's sink projection."""
    return flagship_noise_grid(spark, sf_dir).select(
        F.col("g_lat").alias("lat"), F.col("g_lon").alias("lon"), "weight"
    )


def heat_triples_sql() -> str:
    return f"SELECT g_lat AS lat, g_lon AS lon, weight FROM ({flagship_sql()}) t"


def queries() -> dict:
    return {
        "noise_grid_flagship": flagship_noise_grid,
        "noise_phase_classify": q_phase_classify,
        "noise_source_levels": q_source_levels,
        "noise_grid_bounds": q_grid_bounds,
        "noise_slant_distance": q_slant_distance,
        "noise_bbox_filter": q_bbox_filter,
        "noise_heat_triples": q_heat_triples,
        "noise_grid_refgeom": refgeom_noise_grid,
        "noise_grid_incremental": incremental_noise_grid,
        "noise_phase_transitions": q_phase_transitions,
        "noise_daily_rollup": q_daily_noise_rollup,
    }


def oracles() -> dict:
    return {
        "noise_grid_flagship": flagship_sql(),
        "noise_phase_classify": PHASE_CLASSIFY_SQL,
        "noise_source_levels": SOURCE_LEVELS_SQL,
        "noise_grid_bounds": GRID_BOUNDS_SQL,
        "noise_slant_distance": SLANT_SQL,
        "noise_bbox_filter": BBOX_SQL,
        "noise_heat_triples": heat_triples_sql(),
        "noise_grid_refgeom": refgeom_sql(),
        "noise_grid_incremental": incremental_sql(),
        "noise_phase_transitions": PHASE_TRANSITIONS_SQL,
        "noise_daily_rollup": daily_rollup_sql(),
    }
