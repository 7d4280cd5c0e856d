"""Connected components over an edge list (iterative min-label propagation).

The training-data use case: near-duplicate PAIRS (minhash/simhash output)
must become transitive CLUSTERS before survivor selection — killing the
higher id of each pair over-kills chains (a-b, b-c kills b and c; the
cluster view keeps exactly one of {a,b,c}).

Algorithm: every node starts labeled with its own id; each round, a node's
label becomes min(own, neighbors' labels); converged when no label changes.
This is the classic Pregel-style propagation expressed as DataFrame joins —
each round is one shuffle join + one aggregation, all executor-side; the
driver loop only orchestrates rounds and checks the (scalar) convergence
count, so the pattern stays fully distributed at 100 TB. Rounds needed =
graph diameter; near-dup clusters are shallow (pairs share content), so
convergence is a handful of rounds. ``localCheckpoint`` truncates the
per-round lineage (on a cluster with an HDFS checkpoint dir, prefer
``checkpoint`` for fault tolerance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min node
    id reachable. Raises if not converged within ``max_iter`` rounds."""
    from .checkpoints import release, tracked_local_checkpoint

    spark = edges.sparkSession
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct()
    labels, label_ids = tracked_local_checkpoint(
        und.select(F.col("a").alias("node")).distinct().withColumn(
            "comp", F.col("node")
        ),
    )
    for _ in range(max_iter):
        nbr_min = (
            und.join(
                labels.select(F.col("node").alias("b"), F.col("comp").alias("nbr_comp")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nbr_comp").alias("min_nbr"))
        )
        new_labels, new_ids = tracked_local_checkpoint(
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left").select(
                F.col("node"),
                F.least(F.col("comp"), F.coalesce(F.col("min_nbr"), F.col("comp"))).alias(
                    "comp"
                ),
            ),
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        # the superseded iteration's checkpoint is no longer reachable —
        # release it now so the loop holds at most two checkpoints
        release(spark, label_ids)
        labels, label_ids = new_labels, new_ids
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: not converged in {max_iter} rounds")
