"""Measure the priority-retract erosion distribution — the empirical basis
for PRIO_RETRACT_B (SURVEY round-13 direction 4).

Replays the EXACT staged adversarial schedule `incremental_priority_sample_
retract` consumes (tercile slices, early/late tombstone parity) through the
module-level `priority_retract_update` kernel, then reports the per-source
erosion tally x — the number of deletions that hit the kept top-(K+B) set.
The budget only has to cover max(x); anything beyond that is pure slack.

Usage: python tools/prio_erosion_probe.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def probe(spark, sf_dir: str) -> None:
    from pyspark.sql import functions as F

    from air_traffic_data_pipeline_spark.plans.llm import PRIO_K
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        PRIO_RETRACT_B,
        PRIO_RETRACT_BATCHES,
        priority_retract_update,
    )
    from air_traffic_data_pipeline_spark.streaming.staging import stage_batches

    d = stage_batches(spark, sf_dir, *PRIO_RETRACT_BATCHES)
    files = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    kept = pend = x = None
    for f in files:
        batch = spark.read.parquet(f)
        kept, pend, x = priority_retract_update(
            kept, pend, x, batch, PRIO_K + PRIO_RETRACT_B
        )
        kept = kept.localCheckpoint()
        pend = pend.localCheckpoint()
        x = x.localCheckpoint()
    dist = (
        x.groupBy("x").agg(F.count(F.lit(1)).alias("n_sources")).orderBy("x")
    ).collect()
    stats = x.agg(
        F.count(F.lit(1)).alias("sources_hit"),
        F.max("x").alias("max_x"),
        F.sum("x").alias("total_hits"),
    ).collect()[0]
    n_sources = kept.select("source").distinct().count()
    print(f"{sf_dir}: K={PRIO_K} B={PRIO_RETRACT_B}")
    print(
        f"  sources={n_sources} sources_with_kept_hits={stats.sources_hit} "
        f"max_x={stats.max_x} total_kept_hits={stats.total_hits}"
    )
    for r in dist:
        print(f"  x={r.x}: {r.n_sources} source(s)")


def main() -> int:
    from air_traffic_data_pipeline_spark.session import get_spark

    spark = get_spark("prio-erosion-probe")
    for sf_dir in sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]:
        probe(spark, sf_dir)
    return 0


if __name__ == "__main__":
    sys.exit(main())
