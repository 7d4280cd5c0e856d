"""Tracked ``localCheckpoint`` lifecycle.

``DataFrame.localCheckpoint`` persists its materialized RDD in the block
manager but exposes no Python-side handle to release it, so iterative
algorithms (connected components) and materialize-then-return plans
(incremental noise grid) would otherwise accumulate executor storage for
the life of the session — breaking the ``entry()`` teardown guarantee
("no persisted RDDs left behind", tests/test_entry.py).

The fix: read the pinned RDD id straight off the returned DataFrame's
plan — ``Dataset.localCheckpoint`` persists exactly the RDD it then wraps
in a ``LogicalRDD`` root, so ``analyzed().rdd().id()`` IS the id to
release — then release it either immediately (superseded loop iterations)
or at ``clear_all`` (results registered for session teardown). A
``getPersistentRDDs()`` snapshot-diff remains only as a fallback for
internals drift, and it can over-capture: an unrelated DataFrame cache
that first materializes during the checkpoint action lands in the diff
(single-threaded driver assumption, and the reason the plan-derived id is
preferred).

Releasing a checkpoint invalidates DataFrames that still depend on it
(same contract as ``llm.clear_caches``): callers must re-run the query
after a teardown.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# appId -> RDD ids pinned by registered (still-live) checkpoints
_LIVE: dict[str, set[int]] = {}

# --- cluster posture: reliable checkpoints ---------------------------------
#
# ``localCheckpoint`` stores the materialized partitions in executor block
# managers only: it is NOT fault-tolerant (losing an executor loses the
# partitions and fails the job — there is no lineage left to recompute
# them) and it pins executor storage memory/disk. That is the right trade
# locally and inside a timed bench region, but a 100 TB cluster run with
# preemptible executors should pay the extra write for a RELIABLE
# ``checkpoint()`` into a replicated store instead. One switch routes every
# call-site here:
#
#   SPARK_GRAFT_RELIABLE_CHECKPOINT=1   use an eager DataFrame.checkpoint()
#   SPARK_GRAFT_CHECKPOINT_DIR=<path>   where to write (HDFS/S3/... in
#                                       production; required the first time
#                                       unless the context already has one)
#
# Reliable checkpoints live as files, not pinned RDDs, so release()/
# clear_all() have nothing to unpersist for them (the returned id set is
# empty); file cleanup is Spark's (spark.cleaner.referenceTracking.
# cleanCheckpoints) or the checkpoint dir's lifecycle policy.


def _reliable_requested() -> bool:
    return os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "").lower() in (
        "1",
        "true",
        "yes",
    )


def _ensure_checkpoint_dir(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if sc._jsc.sc().checkpointDir().isEmpty():
        d = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if not d:
            raise ValueError(
                "SPARK_GRAFT_RELIABLE_CHECKPOINT is set but no checkpoint "
                "dir is configured: set SPARK_GRAFT_CHECKPOINT_DIR (a "
                "replicated path in production) or call "
                "sparkContext.setCheckpointDir first"
            )
        sc.setCheckpointDir(d)


def _persistent_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _release_ids(spark: SparkSession, ids: set[int]) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if int(k) in ids:
            jmap.get(k).unpersist()


def _checkpointed_rdd_id(out: DataFrame) -> int | None:
    """The id of the RDD a checkpointed DataFrame pins: its analyzed plan
    root is the ``LogicalRDD`` wrapping exactly the persisted RDD."""
    try:
        return int(out._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None


def tracked_local_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eager ``df.localCheckpoint()`` returning the pinned RDD ids too.

    The ids are recorded in the session-wide registry, so :func:`release`
    frees them when a loop supersedes them and :func:`clear_all` (entry()
    teardown) frees whatever is still live. Always eager: a lazy checkpoint
    pins its RDD only on first action, so the plan-derived id would name an
    RDD that is not yet (and might never be) persisted.

    The id comes from the returned plan's ``LogicalRDD`` (exact — immune
    to unrelated caches materializing concurrently); the snapshot diff is
    a fallback only.
    """
    spark = df.sparkSession
    if _reliable_requested():
        # cluster posture: reliable checkpoint into the configured dir —
        # fault-tolerant (recomputable from the replicated files after
        # executor loss), nothing pinned in block managers to release
        _ensure_checkpoint_dir(spark)
        return df.checkpoint(), set()
    before = _persistent_ids(spark)
    out = df.localCheckpoint()
    cid = _checkpointed_rdd_id(out)
    ids = {cid} if cid is not None else _persistent_ids(spark) - before
    _LIVE.setdefault(spark.sparkContext.applicationId, set()).update(ids)
    return out, ids


def release(spark: SparkSession, ids: set[int]) -> None:
    """Release checkpoint RDDs that a loop has superseded."""
    _release_ids(spark, ids)
    live = _LIVE.get(spark.sparkContext.applicationId)
    if live:
        live -= ids


def clear_all(spark: SparkSession) -> None:
    """Release every registered checkpoint of this application (teardown)."""
    ids = _LIVE.pop(spark.sparkContext.applicationId, set())
    if ids:
        _release_ids(spark, ids)
