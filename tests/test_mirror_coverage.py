"""The mirror-coverage catalog must be a PARTITION of the live registry:
no batch query silently unclassified, no stale entries, every
cross-reference resolvable. Pure-Python over the registry — no Spark."""

from air_traffic_data_pipeline_spark.plans import mirror_coverage as mc
from air_traffic_data_pipeline_spark.plans import registry


def test_catalog_partitions_the_registry():
    names = set(registry.all_queries())
    batch = {n for n in names if not n.startswith("stream_")}
    mirror_rows = set(mc.MIRRORS)
    # every catalogued mirror is registered; every registered incremental
    # mirror is catalogued
    assert mirror_rows <= names
    registered_mirrors = {
        n for n in names if n.startswith("stream_incremental_")
    }
    assert registered_mirrors <= mirror_rows
    # batch-side partition: mirrored targets + exclusions + the mirrors
    # that live under a batch prefix (noise_grid_incremental) cover every
    # batch query exactly once
    targets = {t for t in mc.MIRRORS.values() if t is not None}
    excluded = set(mc.EXCLUDED)
    batch_mirror_rows = mirror_rows & batch
    assert targets <= batch
    assert excluded <= batch, sorted(excluded - batch)
    assert not (targets & excluded), sorted(targets & excluded)
    assert not (excluded & batch_mirror_rows)
    uncovered = batch - targets - excluded - batch_mirror_rows
    assert not uncovered, sorted(uncovered)
    # and the rendered view agrees
    rows = mc.coverage_rows()
    assert not [r for r in rows if r["status"] == "UNCLASSIFIED"]


def test_catalog_cross_references_resolve():
    names = set(registry.all_queries())
    for q, (cat, note) in mc.EXCLUDED.items():
        assert cat in mc.CATEGORIES, (q, cat)
        # pattern-covered / emission-kernel notes NAME the covering
        # streaming query — it must exist
        if cat in (mc.PC, mc.EK):
            assert note in names and note.startswith(
                ("stream_", "noise_grid_incremental")
            ), (q, note)
        else:
            assert note  # every exclusion carries a human-readable reason


def test_stream_mirrors_register_their_implementations():
    # the registry hashes the registered callable's source, so a mirror
    # registered through a delegating wrapper hides every edit of the code
    # that runs from the changed-since-green recheck
    qs = registry.all_queries()
    mirrors = {n: fn for n, fn in qs.items() if n.startswith("stream_incremental_")}
    assert mirrors
    wrapped = {
        n: fn.__module__
        for n, fn in mirrors.items()
        if not fn.__module__.startswith("air_traffic_data_pipeline_spark.streaming.")
    }
    assert not wrapped, wrapped


def test_every_streaming_query_has_a_resolved_oracle():
    from air_traffic_data_pipeline_spark.plans import streaming_plans as sp

    oracles = sp.oracles()
    assert set(oracles) == set(sp.queries())
    bad = sorted(n for n, sql in oracles.items() if sql is None or sql is sp.TWIN)
    assert not bad, bad
