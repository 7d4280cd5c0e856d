"""Radius (range) join: pairs of (grid cell, source) within R metres.

The reference materializes the dense |G|x|S| haversine matrix on the driver
(its ``scripts/functions.py:229-237, 255-258``). This module has two
strategies for the same pairs:

- ``naive_radius_join``: ``crossJoin + filter(haversine <= R)`` with the
  sources broadcast, which Catalyst runs as a BroadcastNestedLoopJoin. Best
  when the region is not much larger than R, so nothing can be pruned.
- ``radius_join``: bin both sides into cells of one maximal pair offset per
  axis, explode the sources to their 3x3 neighbor bins, equi-join on
  (bin_lat, bin_lon), then apply the exact haversine predicate. Catalyst
  broadcasts the exploded sources when their size estimate is under the
  broadcast threshold (a poll of a few hundred aircraft), so the grid is
  neither shuffled nor sorted; otherwise it shuffles both sides on the bin
  key (sort-merge join, AQE splits hot bins). The estimate needs a source
  plan with statistics: an RDD scan, such as ``createDataFrame`` of a
  Python list, has none and always takes the shuffle.

``adaptive_radius_join`` picks one from the region geometry. Both return
exactly the cross+filter pairs (tests/test_domain.py), provided the
longitude bins are sized at the most poleward latitude a matched pair can
reach; pairs across the antimeridian are not handled.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..constants import DEG2RAD, EARTH_RAD, RAD2DEG
from ..functions.geo import deg2rad, haversine_m_pre

# Relative widening of the bin sizes: the bounds are exact in real
# arithmetic; the slack keeps float rounding from pushing a boundary pair two
# bins apart. A wider bin only admits candidates, never drops a pair.
_BIN_SLACK = 1e-9


def _lon_bin_deg(radius_m: float, pole_lat: float) -> float:
    # haversine <= R implies cos φ1 cos φ2 sin²(Δλ/2) <= sin²(R/2Re), and
    # cos φ1 cos φ2 >= cos² pole_lat: the widest Δλ a matched pair can span
    ratio = math.sin(radius_m / (2 * EARTH_RAD)) / max(math.cos(pole_lat * DEG2RAD), 1e-300)
    return 2 * math.asin(ratio) * RAD2DEG if ratio < 1 else 360.0


def _bin_cols(lat: Column, lon: Column, bin_deg_lat: float, bin_deg_lon: float):
    return (
        F.floor(lat / F.lit(bin_deg_lat)).cast("long"),
        F.floor(lon / F.lit(bin_deg_lon)).cast("long"),
    )


def radius_join(
    grid: DataFrame,
    sources: DataFrame,
    radius_m: float,
    pole_lat: float,
) -> DataFrame:
    """Inner join of grid (g_lat, g_lon) x sources (lat, lon) where
    haversine(grid, src) <= radius_m.

    Result = all grid columns + all source columns + ``dist_m``.
    ``pole_lat`` sizes the longitude bins (degrees of longitude widen
    toward the poles): it must bound |lat| of every grid cell and source in
    a matched pair, else pairs near R_MAX east-west can be missed.
    """
    bin_deg_lat = radius_m / EARTH_RAD * RAD2DEG * (1 + _BIN_SLACK)
    bin_deg_lon = _lon_bin_deg(radius_m, pole_lat) * (1 + _BIN_SLACK)

    g_lat, g_lon = F.col("g_lat"), F.col("g_lon")
    s_lat, s_lon = F.col("lat"), F.col("lon")
    gb_lat, gb_lon = _bin_cols(g_lat, g_lon, bin_deg_lat, bin_deg_lon)
    sb_lat, sb_lon = _bin_cols(s_lat, s_lon, bin_deg_lat, bin_deg_lon)
    # One select per side (each chained withColumn re-runs the analysis of
    # the whole plan). Sources (the small side) explode to their 3x3 neighbor
    # bins so any pair within radius shares a bin key; the per-side trig
    # (deg2rad, cos φ) is hoisted to per-ROW projections below the join:
    # identical IEEE values (haversine_m_pre docstring), but the dominant
    # per-PAIR cost drops 2 cos + 4 multiplies.
    g = grid.select(
        "*", gb_lat.alias("__bin_lat"), gb_lon.alias("__bin_lon"), *_trig(g_lat, g_lon, "__g")
    )
    nbrs = (
        F.struct((sb_lat + dy).alias("__bin_lat"), (sb_lon + dx).alias("__bin_lon"))
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
    )
    s = sources.select("*", F.inline(F.array(*nbrs)), *_trig(s_lat, s_lon, "__s"))

    joined = g.join(s, on=["__bin_lat", "__bin_lon"], how="inner")
    # Cheap exact prefilter before the trig: any pair within R satisfies
    # |dlat_deg| <= R-in-degrees (meridional distance never exceeds the
    # great-circle distance, and the bound is latitude-independent) and
    # |dlon_deg| <= the longitude bin width (the widest Δλ of a matched
    # pair up to pole_lat), while bin candidates can be ~2 bins apart on
    # each axis. At the reference geometry 3.8 M of 8.7 M bin candidates
    # reach the haversine (5.8 M under the latitude bound alone), and
    # membership is untouched.
    near = (F.abs(g_lat - s_lat) <= F.lit(bin_deg_lat)) & (
        F.abs(g_lon - s_lon) <= F.lit(bin_deg_lon)
    )
    return _within(joined.filter(near), grid, sources, radius_m)


def _trig(lat: Column, lon: Column, p: str) -> tuple[Column, Column, Column]:
    lat_rad = deg2rad(lat)
    return (
        lat_rad.alias(f"{p}_lat_rad"),
        F.cos(lat_rad).alias(f"{p}_cos_lat"),
        deg2rad(lon).alias(f"{p}_lon_rad"),
    )


def _within(pairs: DataFrame, grid: DataFrame, sources: DataFrame, radius_m: float) -> DataFrame:
    """Grid columns + source columns + ``dist_m`` of the candidate pairs
    within ``radius_m``."""
    dist = haversine_m_pre(
        *(F.col(f"{p}_{c}") for p in ("__g", "__s") for c in ("lat_rad", "cos_lat", "lon_rad"))
    )
    return pairs.select(*grid.columns, *sources.columns, dist.alias("dist_m")).filter(
        F.col("dist_m") <= F.lit(radius_m)
    )


def naive_radius_join(grid: DataFrame, sources: DataFrame, radius_m: float) -> DataFrame:
    """Reference-shaped crossJoin + filter as a broadcast nested loop.

    The sources are broadcast, so the grid side streams with its scan's
    parallelism and the cross+filter runs inside whole-stage codegen with
    zero shuffle. Also the equivalence baseline for :func:`radius_join`.
    """
    # same per-side trig hoist as radius_join: cos φ / radians once per row
    # below the (nested-loop) join instead of once per pair
    g = grid.select("*", *_trig(F.col("g_lat"), F.col("g_lon"), "__g"))
    s = sources.select("*", *_trig(F.col("lat"), F.col("lon"), "__s"))
    return _within(g.crossJoin(F.broadcast(s)), grid, sources, radius_m)


def adaptive_radius_join(
    grid: DataFrame,
    sources: DataFrame,
    radius_m: float,
    center_lat: float,
    *,
    region_extent_m: float,
    grid_cells: int | None = None,
) -> DataFrame:
    """Radius join of a square grid of side ``region_extent_m`` centered at
    ``center_lat``, with the strategy picked from that geometry.

    - region not much larger than the radius -> bins cannot prune (every
      bin neighbors every other): broadcast nested loop
      (:func:`naive_radius_join`).
    - otherwise -> binned equi-join (:func:`radius_join`): a broadcast hash
      join when the sources' size estimate is small, else both sides
      shuffled once on the bin key with AQE splitting hot bins (the 100 TB
      path).

    ``grid_cells`` is accepted and ignored; the choice depends only on the
    extent-to-radius ratio.
    """
    # Crossover measured at sf0.1 (local[32]): with extent/R <= ~6 the 3x3
    # neighbor coverage spans most of the region, so binning prunes < 4x
    # while paying a 9x explode + shuffle — the broadcast nested loop wins.
    # Past that, candidate count falls quadratically with extent/R and the
    # equi-join dominates.
    if region_extent_m <= 6.0 * radius_m:
        return naive_radius_join(grid, sources, radius_m)
    # grid cells reach extent/2 from the center, matched sources R further
    pole_lat = abs(center_lat) + (region_extent_m / 2 + radius_m) / EARTH_RAD * RAD2DEG
    return radius_join(grid, sources, radius_m, pole_lat)
