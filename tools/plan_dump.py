"""Dump .explain("formatted") for named queries to plans/<tag>/<name>_<suffix>.txt.

Usage: python tools/plan_dump.py [--segments] [--exec] <tag> <suffix> <name> [name ...]
e.g.   python tools/plan_dump.py r14 before llm_srp_near_dup rel_shortest_path

Default: the plan is captured BEFORE execution (AdaptiveSparkPlan
isFinalPlan=false) — the shape evidence the judge checks: Exchange
count/placement, join strategy, PushedFilters/ReadSchema, WholeStageCodegen
spans, Python eval nodes.

--segments: checkpoint-heavy queries hide their real operators behind
``Scan ExistingRDD`` (an eager localCheckpoint truncates lineage before the
final explain can see it — r13 VERDICT item 5). This mode additionally
records, for every tracked_local_checkpoint the query takes, the formatted
plan of the frame AS IT IS MATERIALIZED (captured via a recording wrapper
around operators.checkpoints.tracked_local_checkpoint), so the dump shows
the actual join/aggregate/window operators each materialization executes.
Segments appear in materialization order, before the final plan.

--exec: run the query once (noop sink) first, then capture the explain —
with AQE this shows the FINAL adaptive plan (isFinalPlan=true) including
ReusedExchange / AQEShuffleRead nodes. Combine with --segments to also get
the executed shape. (The final explain of a checkpointed query still roots
at the last checkpoint; --segments is what reveals what ran before it.)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    args = sys.argv[1:]
    segments = exec_first = False
    while args and args[0].startswith("--"):
        flag = args.pop(0)
        if flag == "--segments":
            segments = True
        elif flag == "--exec":
            exec_first = True
        else:
            raise SystemExit(f"unknown flag {flag}")
    tag, suffix = args[0], args[1]
    names = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as ent
    from air_traffic_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-dump")
    qs = ent.queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)

    from air_traffic_data_pipeline_spark.operators import checkpoints

    real_ckpt = checkpoints.tracked_local_checkpoint
    captured: list[str] = []

    def recording_ckpt(df):
        captured.append(_fmt(df))
        return real_ckpt(df)

    for name in names:
        if name not in qs:
            print(f"SKIP unknown query {name}")
            continue
        from air_traffic_data_pipeline_spark.plans import llm

        llm.clear_caches()
        checkpoints.clear_all(spark)
        captured.clear()
        checkpoints.tracked_local_checkpoint = (
            recording_ckpt if segments else real_ckpt
        )
        try:
            df = qs[name](spark, sf_dir)
            if exec_first:
                df.write.format("noop").mode("overwrite").save()
            final = _fmt(df)
        finally:
            checkpoints.tracked_local_checkpoint = real_ckpt
        parts = []
        for i, seg in enumerate(captured, 1):
            parts.append(
                f"=== checkpoint segment {i}/{len(captured)} "
                f"(plan materialized by tracked_local_checkpoint, in "
                f"materialization order) ===\n{seg}"
            )
        parts.append(
            "=== final plan"
            + (" (captured after execution: AQE final)" if exec_first else "")
            + f" ===\n{final}"
        )
        txt = "\n".join(parts) if segments else final
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        n_ex = txt.count("Exchange")
        n_seg = len(captured)
        print(
            f"{name}: {len(txt)} chars, Exchange x{n_ex}, "
            f"segments x{n_seg} -> {path}"
        )


if __name__ == "__main__":
    main()
