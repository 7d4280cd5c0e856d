"""Ground-grid generation as a distributed DataFrame.

The reference builds a (2n+1)^2 NumPy lattice on the driver
(/root/reference/scripts/functions.py:134-185). Here the lattice is two
``spark.range`` sequences cross-joined — at n=500 that's 1e6 rows, trivially
distributed; at much larger n the cross join parallelizes across executors
(each side is a one-column range, the product is generated, never shuffled).

Latitude rows come in a Weyl order: range id k is row ``(k·p mod (2n+1)) − n``,
p coprime to 2n+1 and nearest (2n+1)/φ. Each contiguous range split then
holds rows spread over the whole span, so sources clustered near the center
load every task about equally at any split count; in south-to-north order
only the splits covering the center got pairs. Rows keep their indices.

Coordinates are rounded to 6 decimal places (≈0.11 m) immediately after
generation so downstream group-by keys are bitwise-stable across engines
(cos() differs in the last ulp between libm implementations).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..constants import DEG2RAD, EARTH_RAD, RAD2DEG

GRID_ROUND_DP = 6
_PHI = (1 + math.sqrt(5)) / 2


def gen_grid(
    spark: SparkSession,
    center_lat: float,
    center_lon: float,
    step_m: float,
    n_steps: int,
) -> DataFrame:
    """(2n+1)^2 lattice of (g_lat, g_lon) around a center point.

    Latitude rings: phi = lat0_rad + i*step/R (functions.py:134-147).
    Longitude rings: lambda = lon0_rad + i*step/(R*cos(lat0)) (F:150-162).
    """
    lat0 = center_lat * DEG2RAD
    lon0 = center_lon * DEG2RAD
    m_per_rad_lon = EARTH_RAD * math.cos(lat0)

    rows = 2 * n_steps + 1
    stride = max(1, round(rows / _PHI))
    while math.gcd(stride, rows) != 1:
        stride += 1
    i = F.col("id") * stride % rows - n_steps
    lats = spark.range(rows).select(
        F.round((F.lit(lat0) + i * (step_m / EARTH_RAD)) * F.lit(RAD2DEG), GRID_ROUND_DP)
        .alias("g_lat")
    )
    lons = spark.range(-n_steps, n_steps + 1).select(
        F.round(
            (F.lit(lon0) + F.col("id") * (step_m / m_per_rad_lon)) * F.lit(RAD2DEG),
            GRID_ROUND_DP,
        ).alias("g_lon")
    )
    return lats.crossJoin(lons)


def grid_sql(center_lat: float, center_lon: float, step_m: float, n_steps: int) -> str:
    """DuckDB CTE body producing the identical grid (SELECT g_lat, g_lon)."""
    from ..plans.sqlutil import dlit

    lat0 = center_lat * DEG2RAD
    lon0 = center_lon * DEG2RAD
    m_per_rad_lon = EARTH_RAD * math.cos(lat0)
    r2d = dlit(RAD2DEG)
    return f"""
SELECT la.g_lat AS g_lat, lo.g_lon AS g_lon
FROM (SELECT round(({dlit(lat0)} + i * {dlit(step_m / EARTH_RAD)}) * {r2d}, {GRID_ROUND_DP}) AS g_lat
      FROM generate_series(-{n_steps}, {n_steps}) t(i)) la
CROSS JOIN (SELECT round(({dlit(lon0)} + i * {dlit(step_m / m_per_rad_lon)}) * {r2d}, {GRID_ROUND_DP}) AS g_lon
            FROM generate_series(-{n_steps}, {n_steps}) t(i)) lo
"""


def grid_bounds(grid: DataFrame) -> DataFrame:
    """Bbox of a grid (functions.py:179-184) as a 1-row DataFrame."""
    return grid.agg(
        F.min("g_lat").alias("lamin"),
        F.min("g_lon").alias("lomin"),
        F.max("g_lat").alias("lamax"),
        F.max("g_lon").alias("lomax"),
    )
