"""Driver-contract hygiene: entry() teardown and the fan_out scan heuristic."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as ent
from air_traffic_data_pipeline_spark.plans import llm
from air_traffic_data_pipeline_spark.plans.tables import _conf_bytes, fan_out, load

SF = "/root/testdata/sf0.001"


def _persistent_rdd_count(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_entry_teardown_unpersists_everything(spark):
    """entry() must clear every table persisted by earlier queries() calls:
    a long driver session (the full registry sweep then the smoke check)
    may not accumulate executor storage. Covers BOTH persist families:
    cached tables (minhash/LM) and registered localCheckpoints
    (connected components)."""
    from air_traffic_data_pipeline_spark.operators.components import (
        connected_components,
    )

    # populate both caches: minhash doc table + LM bigram counts
    llm.minhash_near_dup_pairs(spark, SF).count()
    llm.lm_perplexity(spark, SF).count()
    # and a registered localCheckpoint result
    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    connected_components(edges).count()
    assert _persistent_rdd_count(spark) > 0, "expected persisted tables"

    df = ent.entry(spark)
    assert _persistent_rdd_count(spark) == 0
    assert df.count() > 0  # flagship still runs after teardown


def test_connected_components_releases_superseded_checkpoints(spark):
    """The label-propagation loop must hold at most two checkpoints while
    iterating (current + next), and exactly one survives for the result."""
    from air_traffic_data_pipeline_spark.operators import checkpoints
    from air_traffic_data_pipeline_spark.operators.components import (
        connected_components,
    )

    checkpoints.clear_all(spark)
    base = _persistent_rdd_count(spark)
    # a 6-node chain needs several propagation rounds to converge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], ["src", "dst"]
    )
    out = connected_components(edges)
    assert out.count() == 6
    # all intermediates released; only the returned labels' checkpoint lives
    assert _persistent_rdd_count(spark) == base + 1
    checkpoints.clear_all(spark)
    assert _persistent_rdd_count(spark) == base


def test_tracked_checkpoint_does_not_capture_unrelated_cache(spark):
    """The tracked ids must be EXACTLY the checkpointed RDD (read off the
    returned plan's LogicalRDD), so a lazy cache that first materializes
    during the checkpoint action is neither tracked nor released — the
    r3 snapshot-diff over-capture mode."""
    from air_traffic_data_pipeline_spark.operators import checkpoints

    lazy = spark.range(64).selectExpr("id as k").persist()
    try:
        # the checkpointed plan CONSUMES the lazy cache, so the checkpoint
        # action materializes it — the over-capture trigger
        out, ids = checkpoints.tracked_local_checkpoint(
            lazy.selectExpr("k * 3 as z")
        )
        assert len(ids) == 1
        assert out.count() == 64
        all_ids = {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }
        lazy_ids = all_ids - ids  # includes the cache pinned by `lazy`
        checkpoints.release(spark, ids)
        still = {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }
        # releasing the checkpoint must leave the unrelated cache cached
        assert lazy_ids <= still
        assert not (ids & still)
        assert lazy.count() == 64
    finally:
        lazy.unpersist()


def test_conf_bytes_parses_spark_units():
    assert _conf_bytes("134217728") == 134217728
    assert _conf_bytes("134217728b") == 134217728
    assert _conf_bytes("128m") == 128 << 20
    assert _conf_bytes("1g") == 1 << 30


def test_fan_out_spreads_small_scan(spark):
    """A one-file scan must fan out to cluster parallelism without
    materializing the physical plan via df.rdd."""
    d = load(spark, SF, "documents")
    target = spark.sparkContext.defaultParallelism
    out = fan_out(d)
    assert out.rdd.getNumPartitions() == target


def test_fan_out_noop_on_non_file_source(spark):
    """Derived in-memory frames (no input files) pass through untouched."""
    d = spark.range(10).select(F.col("id"))
    assert fan_out(d) is d


def test_reliable_checkpoint_switch(spark, monkeypatch, tmp_path):
    """SPARK_GRAFT_RELIABLE_CHECKPOINT=1 routes tracked_local_checkpoint to
    a reliable DataFrame.checkpoint() in SPARK_GRAFT_CHECKPOINT_DIR — the
    cluster posture (fault-tolerant, recomputable from replicated files):
    same rows out, NOTHING pinned in block managers (release has nothing to
    do), checkpoint files written under the configured dir."""
    from air_traffic_data_pipeline_spark.operators import checkpoints

    checkpoints.clear_all(spark)
    base = _persistent_rdd_count(spark)
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    df = spark.range(32).selectExpr("id", "id * 2 as v")
    out, ids = checkpoints.tracked_local_checkpoint(df)
    assert ids == set()  # nothing to unpersist: the data lives as files
    assert _persistent_rdd_count(spark) == base
    assert sorted(r.v for r in out.collect()) == [2 * i for i in range(32)]
    assert any(tmp_path.iterdir()), "checkpoint files expected in the dir"


def test_mmr_ladder_releases_superseded_steps(spark):
    """The MMR greedy ladder must release each superseded rung as soon as
    the next one materializes (current + pool + pairwise-sim frames live;
    obsolete rungs must not pin executor storage until teardown)."""
    from air_traffic_data_pipeline_spark.operators import checkpoints
    from air_traffic_data_pipeline_spark.plans import llm

    checkpoints.clear_all(spark)
    out = llm.mmr_rerank(spark, SF)
    assert out.count() == llm.MMR_SELECT
    live = checkpoints._LIVE.get(spark.sparkContext.applicationId, set())
    # cand + the K^2 pairwise-sim frame + the FINAL ladder rung only
    assert len(live) == 3, f"expected 3 live checkpoints, got {len(live)}"
    checkpoints.clear_all(spark)
