"""The perfbench workloads.

Each workload makes its inputs from the seed (``gen.py``), warms up, runs
ops for a fixed time, and checks outputs outside the timed window. An op
is a dict: ``due`` (when it was due to start), ``start``, ``end`` (wall
clock seconds), ``rows`` (input rows) and ``ok``. With a ``Tracer`` the
same ops run with every layer's output materialized before the next layer
consumes it, each layer under its own span and Spark job group.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import functions as F

from air_traffic_data_pipeline_spark.constants import (
    DEG2RAD,
    EARTH_RAD,
    MAX_DB,
    NANTES_LAT,
    NANTES_LON,
    R_MAX,
    RAD2DEG,
)
from air_traffic_data_pipeline_spark.functions.noise import (
    attenuated_power,
    db_from_power,
    phase_db,
    source_alt,
)
from air_traffic_data_pipeline_spark.operators.dedup import last_wins_dedup
from air_traffic_data_pipeline_spark.operators.grid import gen_grid, grid_bounds
from air_traffic_data_pipeline_spark.operators.radius_join import adaptive_radius_join
from air_traffic_data_pipeline_spark.sinks.heatmap import write_heatmap
from air_traffic_data_pipeline_spark.sinks.lake import write_partitioned
from air_traffic_data_pipeline_spark.sources.opensky import parse_states_envelope

import gen
from spans import Tracer, sql_plan_stats, stage_stats

GEN_PY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")

# radius_join.strategy codes (per-layer metrics are numbers)
STRATEGY_BINNED, STRATEGY_BROADCAST_NL = 1, 2


def _span(tr: Tracer | None, name: str, op: int):
    return tr.span(name, op) if tr is not None else nullcontext({})


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Layers:
    """Runs one layer: lazily when untraced; traced, inside a span with the
    output persisted and counted (the span's ``rows``) before the next layer
    reads it."""

    def __init__(self, tr: Tracer | None, op: int):
        self.tr, self.op, self.held = tr, op, []

    def __call__(self, name: str, build, inspect=None):
        if self.tr is None:
            return build()
        with self.tr.span(name, self.op) as rec:
            df = build()
            if inspect is not None:
                rec["inspect"] = inspect(df)  # before persist: the plan, not the cache scan
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            rec["rows"] = df.count()
        self.held.append(df)
        return df

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()


def noise_cells(pairs):
    """(grid cell, source, dist) pairs -> per-cell dB and heat weight."""
    agg = (
        pairs.withColumn("power", attenuated_power(F.col("src_db"), F.col("dist_m")))
        .groupBy("g_lat", "g_lon")
        .agg(F.sum("power").alias("sum_power"))
        .filter(F.col("sum_power") > 0)
    )
    db = db_from_power(F.col("sum_power"))
    return agg.select("g_lat", "g_lon", db.alias("db"), F.round(db / F.lit(MAX_DB), 6).alias("weight"))


def _strategy(df) -> int:
    """The radius join's physical strategy, from the node names of the
    physical plan (cached inputs are leaves there, so only this layer's own
    join is seen)."""
    conv = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    todo, names = [df._jdf.queryExecution().executedPlan()], set()
    while todo:
        p = todo.pop()
        if p.nodeName() == "AdaptiveSparkPlan":
            todo.append(p.executedPlan())
            continue
        names.add(p.nodeName())
        todo.extend(conv.asJava(p.children()))
    return STRATEGY_BROADCAST_NL if "BroadcastNestedLoopJoin" in names else STRATEGY_BINNED


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


# --- FIXTURES A4 reference: the noise grid in NumPy ------------------------


def _round_half_up(x: float, dp: int) -> float:
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP))


def grid_rings(step_m: float, n_steps: int) -> tuple[np.ndarray, np.ndarray]:
    """The lattice's latitude and longitude rings, rounded as the grid
    operator rounds them (6 dp, half up)."""
    lat0, lon0 = NANTES_LAT * DEG2RAD, NANTES_LON * DEG2RAD
    m_per_rad_lon = EARTH_RAD * math.cos(lat0)
    idx = range(-n_steps, n_steps + 1)
    lat = [_round_half_up((lat0 + i * (step_m / EARTH_RAD)) * RAD2DEG, 6) for i in idx]
    lon = [_round_half_up((lon0 + i * (step_m / m_per_rad_lon)) * RAD2DEG, 6) for i in idx]
    return np.array(lat), np.array(lon)


def phase_db_py(on_ground, vertical_rate) -> float:
    if on_ground:
        return 80.0
    if vertical_rate is not None and vertical_rate < -1.5:
        return 110.0
    if vertical_rate is not None and vertical_rate > 1.5:
        return 130.0
    return 90.0


BIN_DEG_LAT = R_MAX / EARTH_RAD * RAD2DEG
BIN_DEG_LON = R_MAX / (EARTH_RAD * math.cos(NANTES_LAT * DEG2RAD)) * RAD2DEG


def reference_power(
    sources: list[tuple[float, float, float]], lat_r: np.ndarray, lon_r: np.ndarray, binned: bool
) -> np.ndarray:
    """Per-cell linear power sum (FIXTURES A4: haversine <= R_MAX,
    src_db - 20 log10(dist), 10^(x/10), summed per cell).

    ``binned`` adds the candidate prefilter of the engine's radius join and
    of its DuckDB oracle (``plans.domain.refgeom_sql``): the cell's
    (lat, lon) bin within one bin of the source's, with bins R_MAX wide at
    the grid's center latitude, and |dlat| <= R_MAX in degrees."""
    power = np.zeros((len(lat_r), len(lon_r)))
    la_rad, lo_rad = lat_r * DEG2RAD, lon_r * DEG2RAD
    cos_la = np.cos(la_rad)
    g_bin_lat, g_bin_lon = np.floor(lat_r / BIN_DEG_LAT), np.floor(lon_r / BIN_DEG_LON)
    dlat_deg = 2.0 * BIN_DEG_LAT
    for slat, slon, sdb in sources:
        i0 = np.searchsorted(lat_r, slat - dlat_deg)
        i1 = np.searchsorted(lat_r, slat + dlat_deg, side="right")
        worst_cos = max(math.cos(min(abs(slat) * DEG2RAD + dlat_deg * DEG2RAD, 1.5)), 1e-6)
        dlon_deg = max(R_MAX / (EARTH_RAD * worst_cos) * RAD2DEG, 2.0 * BIN_DEG_LON)
        j0 = np.searchsorted(lon_r, slon - dlon_deg)
        j1 = np.searchsorted(lon_r, slon + dlon_deg, side="right")
        if i0 >= i1 or j0 >= j1:
            continue
        s_la, s_lo = slat * DEG2RAD, slon * DEG2RAD
        s1 = np.sin((la_rad[i0:i1] - s_la) / 2)[:, None]
        s2 = np.sin((lo_rad[j0:j1] - s_lo) / 2)[None, :]
        a = s1 * s1 + (cos_la[i0:i1] * math.cos(s_la))[:, None] * (s2 * s2)
        d = 2.0 * EARTH_RAD * np.arcsin(np.sqrt(a))
        keep = d <= R_MAX
        if binned:
            ok_i = (np.abs(g_bin_lat[i0:i1] - math.floor(slat / BIN_DEG_LAT)) <= 1) & (
                np.abs(lat_r[i0:i1] - slat) <= BIN_DEG_LAT
            )
            ok_j = np.abs(g_bin_lon[j0:j1] - math.floor(slon / BIN_DEG_LON)) <= 1
            keep &= ok_i[:, None] & ok_j[None, :]
        with np.errstate(divide="ignore"):
            loss = np.where(d > 0, 20.0 * np.log10(np.where(d > 0, d, 1.0)), 0.0)
        power[i0:i1, j0:j1] += np.where(keep, np.power(10.0, (sdb - loss) / 10.0), 0.0)
    return power


def nearest_index(rings: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Index of the nearest ring value for each coordinate."""
    i = np.clip(np.searchsorted(rings, x), 1, len(rings) - 1)
    return np.where(np.abs(rings[i - 1] - x) <= np.abs(rings[i] - x), i - 1, i)


def compare_weights(power: np.ndarray, lat_r, lon_r, lat, lon, weight, tol: float) -> str | None:
    """Engine heat triples (lat, lon, weight arrays) against the reference
    power grid: the same cells, and weights within ``tol`` (one 0.01 dB
    rounding step, since summation order differs). Returns a failure
    message or None."""
    i, j = nearest_index(lat_r, np.asarray(lat)), nearest_index(lon_r, np.asarray(lon))
    ref = power > 0
    if len(set(zip(i.tolist(), j.tolist()))) != len(i):
        return "duplicate cells in the heatmap"
    if not ref[i, j].all() or int(ref.sum()) != len(i):
        return f"cell sets differ: {int((~ref[i, j]).sum())} extra, {int(ref.sum()) - int(ref[i, j].sum())} missing"
    with np.errstate(divide="ignore"):
        db = np.round(10.0 * np.log10(power[i, j]), 2)
    worst = float(np.max(np.abs(np.asarray(weight) - np.round(db / MAX_DB, 6)), initial=0.0))
    if worst > tol:
        return f"max |weight - reference| = {worst:.6g} > {tol}"
    return None


# --- poll_heatmap ----------------------------------------------------------


class PollHeatmap:
    """Closed loop, one client: an OpenSky poll through the reference flow
    at the reference geometry, ending in the heatmap sink."""

    name = "poll_heatmap"
    STEP_M = 200.0
    N_STEPS = 500  # 1,002,001 cells
    N_AIRCRAFT = 100
    POOL = 6  # distinct polls cycled by the ops

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.out_dir = os.path.join(work, "heatmap")
        os.makedirs(self.out_dir, exist_ok=True)
        self.samples: list[tuple[int, str]] = []

    def generate(self) -> dict:
        self.envs = gen.poll_envelopes(self.seed, self.POOL + 1, self.N_AIRCRAFT)
        return gen.poll_properties(self.envs[: self.POOL])

    def op(self, spark, env: str, path: str, tr: Tracer | None = None, op: int = 0) -> str:
        layer = Layers(tr, op)
        n_cells = (2 * self.N_STEPS + 1) ** 2
        try:
            with _span(tr, "op", op):
                states = layer("sources.parse", lambda: parse_states_envelope(spark, env))
                sources = layer(
                    "dedup",
                    lambda: last_wins_dedup(
                        states.select(
                            "latitude",
                            "longitude",
                            "last_contact",
                            phase_db(F.col("on_ground"), F.col("vertical_rate")).alias("src_db"),
                            source_alt(F.col("on_ground"), F.col("geo_altitude")).alias("src_alt"),
                        ),
                        ["latitude", "longitude"],
                        "last_contact",
                    )
                    .filter(F.col("latitude").isNotNull() & F.col("longitude").isNotNull())
                    .select(F.col("latitude").alias("lat"), F.col("longitude").alias("lon"), "src_db"),
                )
                grid = layer(
                    "grid", lambda: gen_grid(spark, NANTES_LAT, NANTES_LON, self.STEP_M, self.N_STEPS)
                )
                pairs = layer(
                    "radius_join",
                    lambda: adaptive_radius_join(
                        grid,
                        sources,
                        R_MAX,
                        NANTES_LAT,
                        grid_cells=n_cells,
                        region_extent_m=2 * self.N_STEPS * self.STEP_M,
                    ),
                    _strategy,
                )
                cells = layer("noise_agg", lambda: noise_cells(pairs))
                with _span(tr, "heatmap", op) as rec:
                    bounds = grid_bounds(grid).first().asDict()
                    out = write_heatmap(
                        cells.select(F.col("g_lat").alias("lat"), F.col("g_lon").alias("lon"), "weight"),
                        path,
                        bounds,
                    )
                    rec["bytes"] = os.path.getsize(out)
            return out
        finally:
            layer.release()

    def warmup(self, spark) -> None:
        self.op(spark, self.envs[self.POOL], os.path.join(self.out_dir, "warm"))

    def run(self, spark, seconds: float, tr: Tracer | None = None) -> list[dict]:
        ops: list[dict] = []
        deadline = time.time() + seconds
        while not ops or time.time() < deadline:
            k = len(ops)
            env = self.envs[k % self.POOL]
            t0 = time.time()
            rec = {"due": t0, "start": t0, "rows": len(json.loads(env)["states"]), "ok": True}
            try:
                out = self.op(spark, env, os.path.join(self.out_dir, "cur"), tr, k)
                rec["end"] = time.time()
                if tr is None and k == 0:
                    first = os.path.join(self.out_dir, "first.geojson")
                    os.replace(out, first)
                    self.samples = [(0, first)]
                elif tr is None:
                    self.last = (k % self.POOL, out)
            except Exception:
                traceback.print_exc()
                rec["end"], rec["ok"] = time.time(), False
            ops.append(rec)
        if tr is None and len(ops) > 1 and ops[-1]["ok"]:
            self.samples.append(self.last)
        return ops

    def check(self, spark, ops: list[dict]) -> list[tuple[str, int]]:
        """FIXTURES A4 NumPy formula, with the radius join's bin prefilter as
        the engine's DuckDB oracle applies it, on the first and last polls,
        against the GeoJSON the sink wrote. Cells where the exact formula
        (no prefilter) differs are counted in ``self.exact_diff_cells``."""
        fails = []
        self.exact_diff_cells = 0
        lat_r, lon_r = grid_rings(self.STEP_M, self.N_STEPS)
        for poll, path in self.samples:
            rows = json.loads(self.envs[poll])["states"]
            best: dict = {}
            for r in rows:
                key = (r[6], r[5])
                if key not in best or r[4] > best[key][0]:
                    best[key] = (r[4], phase_db_py(r[8], r[11]))
            sources = [(la, lo, db) for (la, lo), (_, db) in best.items() if la is not None and lo is not None]
            power = reference_power(sources, lat_r, lon_r, binned=True)
            exact = reference_power(sources, lat_r, lon_r, binned=False)
            self.exact_diff_cells += int((np.abs(exact - power) > 1e-9 * exact).sum())
            with open(path) as f:
                feats = json.load(f)["features"]
            lon, lat = np.array([ft["geometry"]["coordinates"] for ft in feats]).reshape(-1, 2).T
            weight = [ft["properties"]["weight"] for ft in feats]
            msg = compare_weights(power, lat_r, lon_r, lat, lon, weight, 1e-4)
            if msg:
                fails.append((f"poll {poll}: {msg}", sum(1 for k in range(len(ops)) if k % self.POOL == poll)))
        self.notes = [
            f"exact A4 formula (no bin prefilter) differs in {self.exact_diff_cells} cells of the "
            "checked polls (radius_join bins longitude at the grid's center latitude)"
        ]
        return fails

    def layer_metrics(self, spark, tr: Tracer) -> dict:
        m: dict = {}
        st = lambda name: _median([tr.self_time(s) for s in tr.by_name(name)])  # noqa: E731
        rows = lambda name: _median([s.get("rows") for s in tr.by_name(name)])  # noqa: E731
        m["sources.parse_s"] = st("sources.parse")
        m["sources.states_rows"] = rows("sources.parse")
        m["dedup.s"] = st("dedup")
        m["dedup.rows_in"] = m["sources.states_rows"]
        m["dedup.rows_out"] = rows("dedup")
        m["grid.s"] = st("grid")
        m["grid.cells"] = rows("grid")
        m.update(radius_join_metrics(spark, tr, rows("dedup")))
        m["noise_agg.s"] = st("noise_agg")
        m["noise_agg.cells_out"] = rows("noise_agg")
        m["heatmap.s"] = st("heatmap")
        m["heatmap.triples"] = m["noise_agg.cells_out"]
        m["heatmap.bytes"] = _median([s.get("bytes") for s in tr.by_name("heatmap")])
        return m


def radius_join_metrics(spark, tr: Tracer, sources_per_op: float) -> dict:
    spans = tr.by_name("radius_join")
    ss = stage_stats(spark, [s["group"] for s in spans])
    pairs = _median([s.get("rows") for s in spans])
    total_pairs = sum(s.get("rows", 0) for s in spans)
    return {
        "radius_join.s": _median([tr.self_time(s) for s in spans]),
        "radius_join.pairs": pairs,
        "radius_join.pairs_per_source": pairs / sources_per_op if sources_per_op else 0.0,
        "radius_join.cpu_ns_per_pair": ss.get("executor_cpu_s", 0.0) * 1e9 / total_pairs if total_pairs else 0.0,
        "radius_join.shuffle_bytes": ss.get("shuffle_write_bytes", 0.0) / max(1, len(spans)),
        "radius_join.task_skew": ss.get("task_skew", 1.0),
        "radius_join.strategy": _median([s.get("inspect") for s in spans]),
    }


# --- poll_stream -----------------------------------------------------------


class PollStream:
    """Open loop at a fixed poll rate: a separate generator process writes
    one typed-states parquet file per poll; a file-source stream
    (maxFilesPerTrigger=1) turns each into per-cell partial power sums,
    appended to a partitioned lake. The run ends by re-aggregating the
    partials."""

    name = "poll_stream"
    STEP_M = 500.0
    N_STEPS = 100  # 40,401 cells, 100 km across
    # A batch of 100 rows took ~1 s, mostly per-job scheduling, and its time
    # swung 40-80% with the hypervisor's steal on a shared host; 400 rows make
    # a CPU-bound batch that steal slows in proportion.
    ROWS_PER_FILE = 400
    PERIOD_S = 4.0  # poll interval, about twice the batch time on 4 cores
    MIN_FILES = 3  # polls per run, however short --seconds is
    WARM_FILES = 4  # warm-up batches: the first few batches after start run cold

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.schema = gen.stream_schema_ddl()
        self.phase = 0
        self.batches: dict[int, dict] = {}

    def generate(self) -> dict:
        rng = np.random.default_rng([self.seed, 4])
        self.warm_dir = os.path.join(self.work, "warm_in")
        os.makedirs(self.warm_dir, exist_ok=True)
        for p in range(self.WARM_FILES):
            rows = gen.poll_rows(rng, self.ROWS_PER_FILE, p)
            gen.pq.write_table(gen.states_table(rows, p, 0), os.path.join(self.warm_dir, f"poll-{p:05d}.parquet"))
        return {
            "rows_per_file": self.ROWS_PER_FILE,
            "period_s": self.PERIOD_S,
            "grid_cells": (2 * self.N_STEPS + 1) ** 2,
        }

    def _batch_fn(self, spark, lake: str, tr: Tracer | None):
        n_cells = (2 * self.N_STEPS + 1) ** 2

        def on_batch(batch_df, epoch_id: int) -> None:
            t0 = time.time()
            layer = Layers(tr, epoch_id)
            try:
                with _span(tr, "op", epoch_id):
                    sources = batch_df.filter(
                        F.col("latitude").isNotNull() & F.col("longitude").isNotNull()
                    ).select(
                        F.col("latitude").alias("lat"),
                        F.col("longitude").alias("lon"),
                        phase_db(F.col("on_ground"), F.col("vertical_rate")).alias("src_db"),
                    )
                    grid = layer(
                        "grid", lambda: gen_grid(spark, NANTES_LAT, NANTES_LON, self.STEP_M, self.N_STEPS)
                    )
                    pairs = layer(
                        "radius_join",
                        lambda: adaptive_radius_join(
                            grid,
                            sources,
                            R_MAX,
                            NANTES_LAT,
                            grid_cells=n_cells,
                            region_extent_m=2 * self.N_STEPS * self.STEP_M,
                        ),
                        _strategy,
                    )
                    partial = layer(
                        "noise_agg",
                        lambda: pairs.withColumn("power", attenuated_power(F.col("src_db"), F.col("dist_m")))
                        .groupBy("g_lat", "g_lon")
                        .agg(F.sum("power").alias("sum_power"))
                        .withColumn("batch", F.lit(epoch_id)),
                    )
                    with _span(tr, "lake.write", epoch_id):
                        write_partitioned(partial, lake, ["batch"], mode="append")
            finally:
                layer.release()
            self.batches[epoch_id] = {"t0": t0, "t1": time.time()}

        return on_batch

    def _stream(self, spark, in_dir: str, lake: str, tr: Tracer | None, gen_args: list | None):
        """Run one stream over ``in_dir`` until every file is committed.
        With ``gen_args`` the generator process feeds ``in_dir`` meanwhile."""
        ckpt = in_dir.rstrip("/") + "_ckpt"
        src = (
            spark.readStream.schema(self.schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(in_dir)
        )
        q = src.writeStream.foreachBatch(self._batch_fn(spark, lake, tr)).option("checkpointLocation", ckpt).start()
        proc = None
        try:
            if gen_args is not None:
                proc = subprocess.Popen([sys.executable, GEN_PY, "stream", in_dir, *map(str, gen_args)])
                self.gen_pid = proc.pid
                proc.wait(timeout=gen_args[1] * gen_args[2] + 120)
                if proc.returncode != 0:
                    raise RuntimeError(f"stream generator exited with {proc.returncode}")
            q.processAllAvailable()
            for epoch, files in _source_log(ckpt).items():
                self.batches.setdefault(epoch, {})["files"] = files
            return [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
            if proc is not None and proc.poll() is None:
                proc.terminate()
                proc.wait(timeout=30)

    def warmup(self, spark) -> None:
        self.phase += 1
        lake = os.path.join(self.work, f"warm_lake_{self.phase}")
        warm = os.path.join(self.work, f"warm_in_{self.phase}")
        shutil.copytree(self.warm_dir, warm)
        self._stream(spark, warm, lake, None, None)
        spark.read.parquet(lake).groupBy("g_lat", "g_lon").agg(F.sum("sum_power")).collect()

    def run(self, spark, seconds: float, tr: Tracer | None = None) -> list[dict]:
        self.phase += 1
        in_dir = os.path.join(self.work, f"in_{self.phase}")
        lake = os.path.join(self.work, f"lake_{self.phase}")
        os.makedirs(in_dir)
        n_files = max(self.MIN_FILES, int(seconds / self.PERIOD_S))
        self.batches = {}
        seed = self.seed * 1000 + self.phase
        progress = []
        ok = True
        try:
            progress = self._stream(
                spark, in_dir, lake, tr, [seed, n_files, self.PERIOD_S, self.ROWS_PER_FILE]
            )
        except Exception:
            traceback.print_exc()
            ok = False
        with open(os.path.join(in_dir, "_manifest.jsonl")) as f:
            manifest = {m["file"]: m for m in map(json.loads, f)}
        commit = {}
        for p in progress:
            if p.get("numInputRows", 0) > 0:
                ts = _iso_epoch(p["timestamp"])
                commit[p["batchId"]] = (ts, ts + p["durationMs"]["triggerExecution"] / 1e3)
        ops = []
        for epoch, b in sorted(self.batches.items()):
            start, end = commit.get(epoch, (b["t0"], b["t1"]))
            for name in b.get("files", []):
                m = manifest[name]
                ops.append(
                    {"due": m["due"], "created": m["created"], "start": start, "end": end, "rows": m["rows"], "ok": True}
                )
        done = {n for b in self.batches.values() for n in b.get("files", [])}
        for name, m in manifest.items():
            if name not in done:
                ops.append({"due": m["due"], "created": m["created"], "start": None, "end": None, "rows": m["rows"], "ok": False})
        t0 = time.time()
        if ok:
            with _span(tr, "stream.merge", -1):
                self.merged = (
                    spark.read.parquet(lake)
                    .groupBy("g_lat", "g_lon")
                    .agg(F.sum("sum_power").alias("sum_power"))
                    .filter(F.col("sum_power") > 0)
                    .select("g_lat", "g_lon", db_from_power(F.col("sum_power")).alias("db"))
                    .collect()
                )
        self.merge_s = time.time() - t0
        self.in_dir, self.lake = in_dir, lake
        return ops

    def check(self, spark, ops: list[dict]) -> list[tuple[str, int]]:
        """incremental_sql identity: the merged partials equal the one-shot
        batch over every poll of the run (no dedup: every poll counts)."""
        if not hasattr(self, "merged"):
            return [("stream did not complete", len(ops))]
        files = sorted(glob.glob(os.path.join(self.in_dir, "poll-*.parquet")))
        df = spark.read.schema(self.schema).parquet(*files)
        sources = df.filter(F.col("latitude").isNotNull() & F.col("longitude").isNotNull()).select(
            F.col("latitude").alias("lat"),
            F.col("longitude").alias("lon"),
            phase_db(F.col("on_ground"), F.col("vertical_rate")).alias("src_db"),
        )
        grid = gen_grid(spark, NANTES_LAT, NANTES_LON, self.STEP_M, self.N_STEPS)
        pairs = adaptive_radius_join(
            grid,
            sources,
            R_MAX,
            NANTES_LAT,
            grid_cells=(2 * self.N_STEPS + 1) ** 2,
            region_extent_m=2 * self.N_STEPS * self.STEP_M,
        )
        want = {(r.g_lat, r.g_lon): r.db for r in noise_cells(pairs).collect()}
        got = {(r.g_lat, r.g_lon): r.db for r in self.merged}
        if set(want) != set(got):
            return [(f"merged cells differ from one-shot: {len(set(got) ^ set(want))} cells", len(ops))]
        worst = max((abs(got[k] - want[k]) for k in want), default=0.0)
        # summation order differs (partials then merge): one 0.01 dB rounding step
        if worst > 0.0100001:
            return [(f"merged dB differs from one-shot by {worst}", len(ops))]
        return []

    def layer_metrics(self, spark, tr: Tracer) -> dict:
        m: dict = {}
        st = lambda name: _median([tr.self_time(s) for s in tr.by_name(name)])  # noqa: E731
        rows = lambda name: _median([s.get("rows") for s in tr.by_name(name)])  # noqa: E731
        m["grid.s"] = st("grid")
        m["grid.cells"] = rows("grid")
        m.update(radius_join_metrics(spark, tr, self.ROWS_PER_FILE))
        m["noise_agg.s"] = st("noise_agg")
        m["noise_agg.cells_out"] = rows("noise_agg")
        lake_files = glob.glob(os.path.join(self.lake, "**", "*.parquet"), recursive=True)
        lake_bytes = sum(os.path.getsize(f) for f in lake_files)
        in_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(self.in_dir, "poll-*.parquet")))
        m["lake.write_s"] = st("lake.write")
        m["lake.bytes_written"] = lake_bytes
        m["lake.files_written"] = len(lake_files)
        m["lake.write_amp"] = lake_bytes / in_bytes if in_bytes else 0.0
        return m


def _source_log(ckpt: str) -> dict[int, list[str]]:
    """Files of each committed batch, from the file source's metadata log
    (``sources/0/<batch>`` and its ``.compact`` rollups: one JSON line per
    file with ``path`` and ``batchId``)."""
    out: dict[int, list[str]] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(e["batchId"], []).append(os.path.basename(e["path"]))
    return {k: sorted(set(v)) for k, v in out.items()}


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def stream_metrics(ops: list[dict], merge_s: float) -> dict:
    done = [o for o in ops if o["end"] is not None]
    starts = sorted({o["start"] for o in done})
    backlog = 0
    for s in starts:
        backlog = max(backlog, sum(1 for o in ops if o["created"] <= s and (o["end"] is None or o["end"] > s)))
    return {
        "stream.batch_s": _median([o["end"] - o["start"] for o in done]),
        "stream.queue_wait_s": _median([o["start"] - o["created"] for o in done]),
        "stream.backlog_files": backlog,
        "stream.generator_lag_s": _median([o["created"] - o["due"] for o in ops]),
        "stream.merge_s": merge_s,
    }


# --- corpus_dedup ----------------------------------------------------------


class CorpusDedup:
    """Closed loop, one client: an op is one pass over a fixed cycle of
    registry queries (near-duplicate pairs, curation, similarity) over a
    generated corpus, each query computed in full (noop sink) under its own
    span. A pass rather than a single query is the op because the queries'
    latencies differ tenfold, and the median of that mixture would jump
    between them from run to run."""

    name = "corpus_dedup"
    QUERIES = gen.CORPUS_QUERIES  # (query, tables it reads)
    N_DOCS = 500
    N_VECS = 500

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.data = os.path.join(work, "corpus")
        self.result_rows: dict[str, int] = {}

    def generate(self) -> dict:
        from air_traffic_data_pipeline_spark.plans import registry

        tables, props = gen.corpus(self.seed, self.N_DOCS, self.N_VECS)
        props["content_sha256"] = gen.write_tables(self.data, tables)
        self.rows = props["rows"]
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        return props

    def op(self, spark, tr: Tracer | None = None, op: int = 0) -> None:
        with _span(tr, "op", op):
            for name, _ in self.QUERIES:
                with _span(tr, f"llm.{name}", op):
                    _noop(self.queries[name](spark, self.data))

    def warmup(self, spark) -> None:
        """One pass over the cycle, each query's rows collected for the
        correctness gate (the timed ops write to ``noop``)."""
        self.results: dict[str, tuple[list[str], list[tuple]] | Exception] = {}
        for name, _ in self.QUERIES:
            try:
                df = self.queries[name](spark, self.data)
                self.results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:
                self.results[name] = e

    def run(self, spark, seconds: float, tr: Tracer | None = None) -> list[dict]:
        ops: list[dict] = []
        rows = sum(self.rows[t] for _, tables in self.QUERIES for t in tables)
        deadline = time.time() + seconds
        while not ops or time.time() < deadline:
            t0 = time.time()
            rec = {"due": t0, "start": t0, "rows": rows, "ok": True}
            try:
                self.op(spark, tr, len(ops))
            except Exception:
                traceback.print_exc()
                rec["ok"] = False
            rec["end"] = time.time()
            ops.append(rec)
        return ops

    def check(self, spark, ops: list[dict]) -> list[tuple[str, int]]:
        """Each query's warm-up rows against the registry's DuckDB oracle
        over the same files."""
        import duckdb

        con = duckdb.connect()
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        fails = []
        for name, _ in self.QUERIES:
            result = self.results[name]
            try:
                if isinstance(result, Exception):
                    raise result
                columns, got = result
                res = con.sql(self.oracles[name])
                if sorted(columns) != sorted(res.columns):
                    msg = f"columns {columns} != oracle {res.columns}"
                else:
                    at = [res.columns.index(c) for c in columns]
                    want = [tuple(r[i] for i in at) for r in res.fetchall()]
                    self.result_rows[name] = len(got)
                    msg = compare_rows(got, want)
            except Exception as e:
                msg = f"{type(e).__name__}: {e}"
            if msg:
                fails.append((f"{name}: {msg}", len(ops)))
        con.close()
        return fails

    def layer_metrics(self, spark, tr: Tracer) -> dict:
        """``candidate_pairs`` is the output of the largest join in the
        query's plans (for the LSH queries the band self-join, before
        verification); ``verified_pairs`` the query's result rows."""
        m: dict = {}
        for name, tables in self.QUERIES:
            spans = tr.by_name(f"llm.{name}")
            groups = [s["group"] for s in spans]
            ss, plan = stage_stats(spark, groups), sql_plan_stats(spark, groups)
            n = max(1, len(spans))
            cand = plan.get("join.max_rows", 0)
            verified = self.result_rows.get(name, 0)
            p = f"llm.{name}"
            m[f"{p}.s"] = _median([tr.self_time(s) for s in spans])
            m[f"{p}.candidate_pairs"] = cand
            m[f"{p}.verified_pairs"] = verified
            m[f"{p}.pair_yield"] = verified / cand if cand else 0.0
            m[f"{p}.cpu_ns_per_doc"] = ss.get("executor_cpu_s", 0.0) * 1e9 / (sum(self.rows[t] for t in tables) * n)
            m[f"{p}.shuffle_bytes"] = ss.get("shuffle_write_bytes", 0.0) / n
        return m


def _norm(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def compare_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """Order-insensitive row comparison; floats equal within 1e-9 relative."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    key = lambda r: repr(tuple(f"{v:.6g}" if isinstance(v, float) else _norm(v) for v in r))  # noqa: E731
    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return f"width {len(a)} != {len(b)}"
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or abs(x - y) > 1e-9 * max(1.0, abs(x), abs(y)):
                    return f"value {a} != oracle {b}"
            elif _norm(x) != _norm(y):
                return f"value {a} != oracle {b}"
    return None


WORKLOADS = {w.name: w for w in (PollHeatmap, PollStream, CorpusDedup)}
