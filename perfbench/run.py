"""perfbench: the engine's end-to-end benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Makes the workload's inputs from ``--seed``,
starts the engine's Spark session on ``local[<cores>]`` with settings sized
to the host, warms up, measures ops for ``--seconds``, checks the outputs
outside the timed window, and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` measures half the time untraced and half
traced, and reports the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

from gen import CORPUS_QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
ENGINE = "air_traffic_data_pipeline_spark"


# The metric lists of BENCHMARK.json (perfbench/test_gen.py keeps them equal).
END_TO_END = [
    ("setup_s", "s"),
    ("latency_p50_s", "s"),
    ("latency_tail_s", "s"),
    ("rows_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
    ("freshness_p50_s", "s"),
    ("freshness_tail_s", "s"),
]

PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("session.warmup_s", "s"),
        ("sources.parse_s", "s"),
        ("sources.states_rows", "count"),
        ("dedup.s", "s"),
        ("dedup.rows_in", "count"),
        ("dedup.rows_out", "count"),
        ("grid.s", "s"),
        ("grid.cells", "count"),
        ("radius_join.s", "s"),
        ("radius_join.pairs", "count"),
        ("radius_join.pairs_per_source", "count"),
        ("radius_join.cpu_ns_per_pair", "ns"),
        ("radius_join.shuffle_bytes", "bytes"),
        ("radius_join.task_skew", "ratio"),
        ("radius_join.strategy", "code"),
        ("noise_agg.s", "s"),
        ("noise_agg.cells_out", "count"),
        ("heatmap.s", "s"),
        ("heatmap.triples", "count"),
        ("heatmap.bytes", "bytes"),
        ("lake.write_s", "s"),
        ("lake.bytes_written", "bytes"),
        ("lake.files_written", "count"),
        ("lake.write_amp", "ratio"),
        ("stream.batch_s", "s"),
        ("stream.queue_wait_s", "s"),
        ("stream.backlog_files", "count"),
        ("stream.generator_lag_s", "s"),
        ("stream.merge_s", "s"),
    ]
    + [
        (f"llm.{q}.{m}", u)
        for q, _ in CORPUS_QUERIES
        for m, u in (
            ("s", "s"),
            ("candidate_pairs", "count"),
            ("verified_pairs", "count"),
            ("pair_yield", "ratio"),
            ("cpu_ns_per_doc", "ns"),
            ("shuffle_bytes", "bytes"),
        )
    ]
    + [
        ("executor_cpu_s", "s"),
        ("gc_s", "s"),
        ("tasks", "count"),
        ("trace_overhead_s", "s"),
    ]
)



def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def make_work_dir(workload: str) -> str:
    """This run's scratch directory, inside the checkout; directories left
    by runs whose process is gone are removed first."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    for d in os.listdir(WORK_ROOT):
        pid = d.rsplit("-", 1)[-1]
        if not pid.isdigit() or not _alive(int(pid)):
            shutil.rmtree(os.path.join(WORK_ROOT, d), ignore_errors=True)
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    os.makedirs(work)
    return work


def configure_host(work: str) -> dict:
    """Machine-fit settings, through the engine's own environment knobs:
    every core, a driver heap sized to physical memory (a quarter of it, at
    most 4 GiB), and local and temp dirs owned by this run. The heap is
    committed and touched at JVM start (``-Xms`` = max, ``AlwaysPreTouch``):
    left to grow, its resident size followed GC timing and moved ±30%
    between identical runs, hiding any change in the rest of the footprint."""
    import host

    cpus = len(os.sched_getaffinity(0))
    heap_gib = max(1, min(4, int(host.mem_total_bytes() / 2**30 / 4)))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gib}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{heap_gib}g -XX:+AlwaysPreTouch' pyspark-shell"
        ),
    }
    os.environ.update(settings)
    return {k: settings[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least 10 samples beyond it
    (nearest rank): (value, percentile, samples beyond). Below 20 samples
    no percentile from the median up has 10 beyond; the median is reported
    as p50."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return statistics.median(s), 50, n // 2
    p = math.floor(100 * (1 - 10 / n))
    idx = math.ceil(p / 100 * n) - 1
    return s[idx], p, n - idx - 1


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(ops: list[dict], setup: tuple[float, float], rss_mb: dict, report: list[str]) -> dict:
    done = [o for o in ops if o["ok"] and o["end"] is not None]
    if not done:
        raise RuntimeError("no op completed")
    lat = [o["end"] - o["start"] for o in done]
    # freshness: input creation (open loop) or due time (closed loop: the
    # op is due when the previous one completes) to committed result
    fresh = [o["end"] - o.get("created", o["due"]) for o in done]
    wall = max(o["end"] for o in done) - min(o.get("created", o["due"]) for o in ops)
    lt, lp, lb = tail(lat)
    ft, fp, fb = tail(fresh)
    m = {
        "setup_s": sum(setup),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": lt,
        "rows_per_s": sum(o["rows"] for o in done) / wall,
        "peak_rss_mb": sum(rss_mb.values()),
        "freshness_p50_s": statistics.median(fresh),
        "freshness_tail_s": ft,
    }
    report.append(f"  setup (session start + warm-up, s): {setup[0]:.3f} + {setup[1]:.3f}")
    report.append(f"  op latencies (s): {', '.join(f'{x:.3f}' for x in lat)}")
    report.append(f"  latency_tail_s is p{lp} of n={len(lat)} ops ({lb} beyond it)")
    report.append(f"  freshness_tail_s is p{fp} of n={len(fresh)} ops ({fb} beyond it)")
    report.append(f"  rows_per_s: {sum(o['rows'] for o in done)} input rows over {wall:.3f} s of run wall time")
    report.append(f"  peak RSS by process (MB): {', '.join(f'{p}: {v:.0f}' for p, v in rss_mb.items())}")
    return m


def layer_report(wl, spark, tr, setup, plain_ops, traced_ops, report: list[str]) -> dict:
    from spans import stage_stats

    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"], m["session.warmup_s"] = setup
    m.update(wl.layer_metrics(spark, tr))
    if wl.name == "poll_stream":
        from workloads import stream_metrics

        m.update(stream_metrics(traced_ops, wl.merge_s))
    n_ops = max(1, len([o for o in traced_ops if o["ok"]]))
    ss = stage_stats(spark, [s["group"] for s in tr.spans])
    m["executor_cpu_s"] = ss.get("executor_cpu_s", 0.0) / n_ops
    m["gc_s"] = ss.get("gc_s", 0.0) / n_ops
    m["tasks"] = ss.get("tasks", 0.0) / n_ops

    def op_times(ops):
        return [o["end"] - o["start"] for o in ops if o["ok"] and o["end"] is not None]

    plain, traced = op_times(plain_ops), op_times(traced_ops)
    per_op: dict = {}
    if plain and traced:
        m["trace_overhead_s"] = statistics.median(traced) - statistics.median(plain)
        layers = [s for s in tr.spans if s["parent"] is not None and tr.spans[s["parent"]]["name"] == "op"]
        for s in layers:
            per_op[s["op"]] = per_op.get(s["op"], 0.0) + tr.self_time(s)
    t0 = tr.spans[0]["start"] if tr.spans else 0.0
    for sp in tr.spans:  # the spans, written once the run is over
        rec = {
            "op": sp["op"],
            "name": sp["name"],
            "parent": tr.spans[sp["parent"]]["name"] if sp["parent"] is not None else None,
            "start_s": round(sp["start"] - t0, 6),
            "dur_s": round(sp["end"] - sp["start"], 6),
            "self_s": round(tr.self_time(sp), 6),
            "rows": sp.get("rows"),
        }
        report.append(f"  span {json.dumps(rec)}")
    if per_op:
        report.append(
            f"  layer self times on the blocking path sum to {statistics.median(per_op.values()):.3f} s per op "
            f"(median); untraced op latency p50 {statistics.median(plain):.3f} s; "
            f"trace_overhead_s {m['trace_overhead_s']:.3f} s"
        )
    return m


def run(args, work: str) -> int:
    settings = configure_host(work)
    sys.path.insert(0, ROOT)
    import host
    from spans import Tracer
    from workloads import WORKLOADS

    from air_traffic_data_pipeline_spark.session import get_spark

    probe_before, load_before, cpu_before = host.cpu_probe(), host.loadavg(), host.cpu_jiffies()
    wl = WORKLOADS[args.workload](work, args.seed)
    props = wl.generate()
    host.reset_peak_rss()  # the input generator's peak is not the engine's

    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.range(1).count()
        t1 = time.perf_counter()
        wl.warmup(spark)
        setup = (t1 - t0, time.perf_counter() - t1)

        seconds = args.seconds / 2 if args.trace else args.seconds
        ops = wl.run(spark, seconds)
        # read before the checks: their oracles run in this process
        rss = host.peak_rss_mb({getattr(wl, "gen_pid", -1)})
        fails = wl.check(spark, ops)
        traced_ops: list[dict] = []
        if args.trace:
            tr = Tracer(spark)
            traced_ops = wl.run(spark, seconds, tr)
        report = [
            f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}",
            f"  settings: {settings}",
            f"  inputs: {json.dumps(props, sort_keys=True)}",
        ]
        if args.trace:
            metrics = layer_report(wl, spark, tr, setup, ops, traced_ops, report)
            units = dict(PER_LAYER)
        else:
            metrics = end_to_end(ops, setup, rss, report)
            units = dict(END_TO_END)
    finally:
        if spark is not None:
            stop_spark(spark)

    all_ops = ops + traced_ops
    failed = sum(1 for o in all_ops if not o["ok"]) + sum(n for _, n in fails)
    failed = min(failed, len(all_ops))
    report.extend(f"  note: {n}" for n in getattr(wl, "notes", []))
    for msg, _ in fails:
        report.append(f"  CHECK FAILED: {msg}")
    report.append(f"  fail_ratio = {failed / len(all_ops):.4g} ({failed} of {len(all_ops)} ops failed or wrong)")
    steal, total = (a - b for a, b in zip(host.cpu_jiffies(), cpu_before))
    report.append(
        f"  host: cpu_probe {probe_before:.3f} s before, {host.cpu_probe():.3f} s after; "
        f"loadavg {load_before:.2f} before, {host.loadavg():.2f} after; "
        f"CPU time stolen by the hypervisor {steal / max(1, total):.1%} of the run"
    )
    for name, unit in units.items():
        report.append(f"  {name} = {metrics[name]:.6g} {unit}")
    print("\n".join(report))
    print(
        json.dumps(
            {
                "correct": not fails and failed == 0,
                "attempted": len(all_ops),
                "failed": failed,
                "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["poll_heatmap", "poll_stream", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    work = make_work_dir(args.workload)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
