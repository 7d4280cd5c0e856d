"""Empty-input robustness: every major pipeline must return an EMPTY,
CORRECTLY-TYPED result — not raise — when its input filters to nothing.
At 100 TB partition-level emptiness is routine (partition pruning, a quiet
hour of events); operators that crash on zero rows take the job down."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _empty_docs(spark):
    from air_traffic_data_pipeline_spark.plans.tables import load

    return load(spark, SF, "documents").filter(F.lit(False))


def test_radius_join_empty_sources(spark):
    from air_traffic_data_pipeline_spark.operators.grid import gen_grid
    from air_traffic_data_pipeline_spark.operators.radius_join import (
        adaptive_radius_join,
        radius_join,
    )
    from air_traffic_data_pipeline_spark.plans.domain import source_levels

    grid = gen_grid(spark, 47.15, -1.6, 2000.0, 5)
    src = source_levels(spark, SF).filter(F.lit(False)).select("lat", "lon", "src_db")
    for out in (
        radius_join(grid, src, 20000.0, 47.15),
        adaptive_radius_join(grid, src, 20000.0, 47.15, region_extent_m=2 * 5 * 2000.0),
    ):
        assert out.count() == 0
        assert "dist_m" in out.columns


def test_shingle_explosion_empty_corpus(spark):
    from air_traffic_data_pipeline_spark.functions.text import shingles

    docs = _empty_docs(spark)
    sh = docs.select("doc_id", shingles(F.col("text")).alias("sh"))
    assert sh.count() == 0


def test_window_and_dedup_empty(spark):
    from air_traffic_data_pipeline_spark.operators.dedup import last_wins_dedup
    from air_traffic_data_pipeline_spark.plans.tables import load

    ev = load(spark, SF, "events").filter(F.lit(False))
    out = last_wins_dedup(ev, ["user_id"], "event_id")
    assert out.count() == 0
    assert set(ev.columns) <= set(out.columns)


def test_connected_components_empty_edges(spark):
    from air_traffic_data_pipeline_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([], "src long, dst long")
    out = connected_components(edges)
    assert out.count() == 0
    assert set(out.columns) == {"node", "comp"}


def test_similarity_topk_empty_queries(spark):
    from air_traffic_data_pipeline_spark.operators.similarity import brute_force_topk
    from air_traffic_data_pipeline_spark.plans.tables import load

    emb = load(spark, SF, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    corpus = emb.select(F.col("vec_id").alias("c_id"), vec.alias("c_vec"))
    queries = emb.select(F.col("vec_id").alias("q_id"), vec.alias("q_vec")).filter(
        F.lit(False)
    )
    out = brute_force_topk(queries, corpus, k=3)
    assert out.count() == 0


def test_sketch_ops_empty_items(spark):
    """CMS cells/estimate over zero items: empty typed frames, no crash."""
    from air_traffic_data_pipeline_spark.operators.sketches import (
        cms_cells,
        cms_estimate,
    )

    empty = spark.createDataFrame([], "w string")
    cells = cms_cells(empty)
    assert cells.count() == 0
    assert set(cells.columns) == {"r", "pos", "cnt"}
    probes = spark.createDataFrame([], "w string, exact_freq long")
    assert cms_estimate(probes, cells).count() == 0


def test_quantize_empty_embeddings(spark):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    # a filtered-to-nothing embeddings table must flow through untouched
    e = load(spark, SF, "embeddings").filter(F.lit(False))
    from air_traffic_data_pipeline_spark.functions.vectors import to_double

    df = e.select("vec_id", to_double(F.col("embedding")).alias("dv"))
    out = df.withColumn("max_abs", llm._max_abs(F.col("dv")))
    assert out.count() == 0


def test_incremental_dedup_kernel_empty_batch(spark):
    """Batch/corpus split where the batch side is empty: zero rows out,
    correct schema, no crash in the window or joins."""
    from air_traffic_data_pipeline_spark.functions.text import fingerprint
    from pyspark.sql import Window as W

    batch = _empty_docs(spark).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    corpus = (
        _empty_docs(spark).select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    first_id = F.min("doc_id").over(W.partitionBy("fp"))
    out = (
        batch.join(corpus, "fp", "left")
        .withColumn("first_id", first_id)
        .select(
            "doc_id",
            F.when(F.col("in_corpus") == 1, F.lit("dup_corpus"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )
    assert out.count() == 0


def test_round4_ops_empty_inputs(spark, tmp_path):
    """Round-4 operators on empty tables: keyset pagination with no rows
    (empty anchor), entropy/projection/containment/subcells over empty
    corpora — all must return typed empty frames, not raise."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    for t in ("documents", "embeddings", "orders"):
        load(spark, SF, t).filter(F.lit(False)).write.parquet(f"{sf}/{t}.parquet")

    from air_traffic_data_pipeline_spark.plans.relational import keyset_pagination

    out = keyset_pagination(spark, sf)
    assert out.count() == 0 and set(out.columns) == {"o_orderkey", "price"}

    ent = llm.char_entropy(spark, sf)
    assert ent.count() == 0 and "entropy_bits" in ent.columns

    rp = llm.random_projection(spark, sf)
    assert rp.count() == 0 and "norm_ratio" in rp.columns

    cont = llm.minhash_containment(spark, sf)
    assert cont.count() == 0 and "containment_a" in cont.columns

    cells = spark.createDataFrame(
        [], "vec_id long, v array<double>, nv double, cell int"
    )
    sub = llm.semdedup_subcells(cells)
    assert sub.count() == 0 and "subcell" in sub.columns


def test_write_clustered_empty_input(spark, tmp_path):
    """Z-order writer must land an empty (schema-preserving) dataset, not
    crash in the range scaling."""
    from air_traffic_data_pipeline_spark.plans.tables import load
    from air_traffic_data_pipeline_spark.sinks.lake import write_clustered

    ev = load(spark, SF, "events").select("user_id", "value").filter(F.lit(False))
    dest = str(tmp_path / "z_empty")
    write_clustered(ev, dest, ("user_id", "value"), n_files=4)
    back = spark.read.parquet(dest)
    assert back.count() == 0
    assert set(back.columns) == {"user_id", "value"}


def test_retrieval_ops_empty_inputs(spark, tmp_path):
    """BM25 / inverted index / PMI / k-means over empty tables: typed empty
    frames, no divide-by-zero or negative-slice surprises."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    for t in ("documents", "embeddings"):
        load(spark, SF, t).filter(F.lit(False)).write.parquet(f"{sf}/{t}.parquet")

    out = llm.bm25_topk(spark, sf)
    assert out.count() == 0 and set(out.columns) == {"doc_id", "bm25", "rank"}

    idx = llm.inverted_index(spark, sf)
    assert idx.count() == 0 and "postings" in idx.columns

    pmi = llm.pmi_collocations(spark, sf)
    assert pmi.count() == 0 and "pmi" in pmi.columns

    km = llm.kmeans_refine(spark, sf)
    assert km.count() == 0 and set(km.columns) == {
        "cluster",
        "n_members",
        "centroid_shift",
    }

    tr = llm.textrank_words(spark, sf)
    assert tr.count() == 0 and set(tr.columns) == {"w", "pr"}


def test_events_ops_empty_inputs(spark, tmp_path):
    """k-anonymity and the time-series motif over an empty event log:
    typed empty frames (no windows survive the L-length filter)."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "events").filter(F.lit(False)).write.parquet(
        f"{sf}/events.parquet"
    )

    ka = relational.k_anonymity(spark, sf)
    assert ka.count() == 0 and "k_violation" in ka.columns

    tm = relational.tseries_motif(spark, sf)
    assert tm.count() == 0 and set(tm.columns) == {"user_id", "event_id", "dist"}


def test_round5_rel_ops_empty_inputs(spark, tmp_path):
    """Round-5 relational ops over empty lakes: typed empty frames, no
    crash — islands/EWMA/attribution with zero events or lineitems, and
    the interval join with zero orders (the promo dim is inline, so the
    join side is what empties)."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    for t in ("events", "orders", "lineitem"):
        load(spark, SF, t).filter(F.lit(False)).write.parquet(
            f"{sf}/{t}.parquet"
        )

    gi = relational.gaps_islands(spark, sf)
    assert gi.count() == 0 and "island_len" in gi.columns

    ew = relational.ewma_per_user(spark, sf)
    assert ew.count() == 0 and "ewma_last" in ew.columns

    io = relational.interval_overlap_join(spark, sf)
    assert io.count() == 0 and "n_orders" in io.columns

    ft = relational.first_touch_attribution(spark, sf)
    assert ft.count() == 0 and "attributed_value" in ft.columns


def test_round5_llm_ops_empty_inputs(spark, tmp_path):
    """Round-5 LLM ops over empty documents/embeddings lakes: typed empty
    frames, no crash, no NaN rows from ungrouped aggregates."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    for t in ("documents", "embeddings"):
        load(spark, SF, t).filter(F.lit(False)).write.parquet(
            f"{sf}/{t}.parquet"
        )

    for fn, col in (
        (llm.rrf_fusion, "rrf"),
        (llm.ndcg_eval, "ndcg"),
        (llm.matryoshka_recall, "recall_at_k"),
        (llm.zipf_fit, "zipf_slope"),
        (llm.domain_quota_sample, "src_rank"),
        (llm.pca_power_iter, "loading"),
        (llm.audio_frame_energy, "energy"),
        (llm.mmr_rerank, "mmr_score"),
        (llm.hard_negative_mining, "neg_rank"),
        (llm.embedding_outliers, "is_outlier"),
        (llm.ctfidf_keywords, "kw_rank"),
        (llm.vocab_coverage_curve, "coverage"),
    ):
        out = fn(spark, sf)
        assert out.count() == 0, fn.__name__
        assert col in out.columns, fn.__name__


def test_winnow_ops_empty_documents(spark, tmp_path):
    """Winnowing fingerprint selection and repeated-span accounting over an
    empty documents lake: typed empty frames, no crash."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    for fn, col in (
        (llm.winnow_fingerprints, "density"),
        (llm.repeated_spans, "repeated_frac"),
        (llm.url_dedup, "n_crawls"),
        (llm.span_scrub_apply, "scrubbed_text"),
        (llm.split_leakage, "leak_frac"),
        (llm.bpe_fertility_by_lang, "fertility"),
    ):
        out = fn(spark, sf)
        assert out.count() == 0, fn.__name__
        assert col in out.columns, fn.__name__


def test_dedup_funnel_empty_documents(spark, tmp_path):
    """The funnel REPORT keeps its 5 modality rows on an empty lake (a
    dashboard with zeros, not a vanished dashboard); counts are NULL/0."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    rows = llm.dedup_funnel(spark, sf).collect()
    assert len(rows) == 5
    assert all((r.n_removed or 0) == 0 for r in rows)


def test_pq_ops_empty_embeddings(spark, tmp_path):
    """PQ codebook/ADC over an empty embeddings lake: typed empty frames."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "embeddings").filter(F.lit(False)).write.parquet(
        f"{sf}/embeddings.parquet"
    )
    for fn, col in (
        (llm.pq_codebook, "avg_qerr"),
        (llm.pq_adc_topk, "adc_dist"),
        (llm.pq_recall_eval, "recall_pq"),
        (llm.embedding_drift, "centroid_cos"),
        (llm.ivfpq_topk, "adc_dist"),
    ):
        out = fn(spark, sf)
        assert out.count() == 0, fn.__name__
        assert col in out.columns, fn.__name__


def test_round7_ops_empty_inputs(spark, tmp_path):
    """Round-7 ops over empty lakes: typed empty frames (or, for the
    1-row-aggregate shapes, a well-defined degenerate row), no crash."""
    from air_traffic_data_pipeline_spark.plans import llm, relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    load(spark, SF, "embeddings").filter(F.lit(False)).write.parquet(
        f"{sf}/embeddings.parquet"
    )
    load(spark, SF, "events").filter(F.lit(False)).write.parquet(
        f"{sf}/events.parquet"
    )
    for fn, col in (
        (llm.lm_token_logprob, "ppl"),
        (llm.lm_ppl_filter, "n_removed"),
        (llm.gopher_rules, "passes"),
        (llm.dedup_survivor_weights, "weight_frac"),
        (llm.span_corruption, "input_fp"),
        (llm.embedding_whitening, "wnorm2"),
        (llm.image_dct_phash, "dct_hash"),
        (llm.image_dct_robustness, "ham_dct"),
        (llm.rag_context_pack, "selected"),
        (relational.ewma_anomaly_flags, "n_anomalies"),
        (relational.session_paths, "p_given_from"),
    ):
        out = fn(spark, sf)
        assert out.count() == 0, fn.__name__
        assert col in out.columns, fn.__name__
    # 1-row aggregate shapes: a degenerate-but-typed row, not a crash
    row = llm.signal_correlation(spark, sf).collect()
    assert len(row) == 1 and row[0].n == 0


def test_max_concurrency_empty_orders(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "orders").filter(F.lit(False)).write.parquet(
        f"{sf}/orders.parquet"
    )
    out = relational.max_concurrency(spark, sf)
    assert out.count() == 0
    assert out.columns == ["o_orderpriority", "peak_live", "peak_date"]


def test_mixing_divergence_empty_corpus(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = llm.mixing_divergence(spark, sf)
    assert out.count() == 0
    assert "js_divergence" in out.columns


def test_feature_hashing_empty_corpus(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = llm.feature_hashing(spark, sf)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_tok", "nnz", "vec", "clf_score", "kept"]


def test_preference_pairs_empty_corpus(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = llm.preference_pairs(spark, sf)
    assert out.count() == 0
    assert out.columns == [
        "source",
        "n_docs",
        "chosen_doc",
        "chosen_score",
        "rejected_doc",
        "rejected_score",
        "margin",
    ]


def test_filter_agreement_empty_corpus(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    row = llm.filter_agreement(spark, sf).collect()
    assert len(row) == 1 and row[0].n_docs == 0 and row[0].kappa is None


def test_rfm_segments_empty_orders(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "orders").filter(F.lit(False)).write.parquet(
        f"{sf}/orders.parquet"
    )
    out = relational.rfm_segments(spark, sf)
    assert out.count() == 0
    assert out.columns[:5] == ["segment", "r_score", "f_score", "m_score", "n_customers"]


def test_cross_source_overlap_empty_corpus(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = llm.cross_source_overlap(spark, sf)
    assert out.count() == 0
    assert out.columns == ["src_a", "src_b", "n_a", "n_b", "n_shared", "jaccard"]


def test_token_budget_plan_empty_corpus(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = llm.token_budget_plan(spark, sf)
    assert out.count() == 0


def test_lm_interpolated_empty_corpus(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = llm.lm_interpolated(spark, sf)
    assert out.count() == 0
    assert out.columns == ["doc_id", "n_bigrams", "logprob", "xent", "ppl"]


def test_readability_empty_corpus(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    out = llm.readability_score(spark, sf)
    assert out.count() == 0


def test_l_diversity_empty_events(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "events").filter(F.lit(False)).write.parquet(
        f"{sf}/events.parquet"
    )
    out = relational.l_diversity(spark, sf)
    assert out.count() == 0


def test_benford_audit_empty_orders(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "orders").filter(F.lit(False)).write.parquet(
        f"{sf}/orders.parquet"
    )
    assert relational.benford_audit(spark, sf).count() == 0


def test_hubness_audit_empty_embeddings(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "embeddings").filter(F.lit(False)).write.parquet(
        f"{sf}/embeddings.parquet"
    )
    assert llm.hubness_audit(spark, sf).count() == 0


def test_fifo_matching_empty_lineitem(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "lineitem").filter(F.lit(False)).write.parquet(
        f"{sf}/lineitem.parquet"
    )
    assert relational.fifo_matching(spark, sf).count() == 0


def test_label_separability_empty_embeddings(spark, tmp_path):
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "embeddings").filter(F.lit(False)).write.parquet(
        f"{sf}/embeddings.parquet"
    )
    assert llm.label_separability(spark, sf).count() == 0


def test_round8_late_ops_empty_inputs(spark, tmp_path):
    """Late-round-8 ops over empty lakes: typed empty frames, no crash —
    the graph searches must survive an empty edge list, the miners an
    empty candidate set, and the reweighters an empty source table."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.lit(False)).write.parquet(
        f"{sf}/documents.parquet"
    )
    load(spark, SF, "embeddings").filter(F.lit(False)).write.parquet(
        f"{sf}/embeddings.parquet"
    )
    for fn, col in (
        (llm.ann_nsw_topk, "rank"),
        (llm.ann_hnsw_topk, "rank"),
        (llm.doremi_weights, "weight"),
        (llm.doremi_heldout, "weight"),
        (llm.bitext_margin_mining, "margin"),
        (llm.bitext_banded_mining, "margin"),
    ):
        out = fn(spark, sf)
        assert out.count() == 0, fn.__name__
        assert col in out.columns, fn.__name__


def test_round9_ops_empty_inputs(spark, tmp_path):
    """Round-9 ops over empty lakes: typed empty frames, no crash — the
    KN smoother must survive empty count tables, the temperature fit an
    empty (score, label) join, Bellman-Ford an empty edge list, and the
    semantic contamination check an empty embedding table."""
    from air_traffic_data_pipeline_spark.plans import llm, relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    for t in ("documents", "embeddings", "lineitem", "orders"):
        load(spark, SF, t).filter(F.lit(False)).write.parquet(
            f"{sf}/{t}.parquet"
        )
    for fn, col in (
        (llm.lm_kneser_ney, "ppl"),
        (llm.temperature_scaling, "is_best"),
        (llm.semantic_contamination, "max_sim"),
        (llm.heaps_law_fit, "beta"),
        (llm.global_shard_plan, "tokens"),
        (relational.shortest_path, "dist"),
        (relational.quantile_sketch, "within_one_bin"),
        (relational.rfm_sketch_boundaries, "n_rescored"),
    ):
        out = fn(spark, sf)
        assert out.count() == 0, fn.__name__
        assert col in out.columns, fn.__name__


def test_doremi_heldout_single_parity_corpus(spark, tmp_path):
    """A single-parity lake (all-even doc_ids, e.g. downstream of an
    id-keyed dedup) has no reference half: held-out scoring is undefined
    BY DEFINITION and must yield zero weights without crashing — while
    the self-scored variant still returns a valid mixture (the documented
    fallback)."""
    from air_traffic_data_pipeline_spark.plans import llm
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "documents").filter(F.col("doc_id") % 2 == 0).write.parquet(
        f"{sf}/documents.parquet"
    )
    held = llm.doremi_heldout(spark, sf)
    assert held.count() == 0 and "weight" in held.columns
    self_rows = llm.doremi_weights(spark, sf).collect()
    assert len(self_rows) >= 2
    assert abs(sum(r.weight for r in self_rows) - 1.0) < 1e-4


def test_graph_family_empty_inputs(spark, tmp_path):
    """Late-round-9 graph ops over an empty lineitem lake: no edges means
    typed empty results (no division by the zero node count, no crash in
    the fixed-round loops)."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "lineitem").filter(F.lit(False)).write.parquet(
        f"{sf}/lineitem.parquet"
    )
    for fn, col in (
        (relational.shortest_path_k_audit, "converged"),
        (relational.label_propagation_communities, "n_members"),
        (relational.pagerank_copurchase, "rank_micro"),
    ):
        out = fn(spark, sf)
        assert out.count() == 0, fn.__name__
        assert col in out.columns, fn.__name__
    # k-core reports one row per k even on an empty graph: all-zero cores,
    # converged (0 == 0), null min/max members
    rows = relational.kcore_decomposition(spark, sf).collect()
    assert len(rows) == len(relational.KC_KS)
    for r in rows:
        assert (r.core_nodes, r.core_edges, r.converged) == (0, 0, True)
        assert r.min_node is None and r.max_node is None


def test_round12_ops_empty_inputs(spark, tmp_path):
    """Round-12 ops over empty lakes: typed empty frames, no crash — the
    JPEG codec kernels, DSIR weights, FS linkage, and Jaro-Winkler
    matching with zero documents/customers/parts."""
    from air_traffic_data_pipeline_spark.plans import llm, relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    for t in ("documents", "customer", "part"):
        load(spark, SF, t).filter(F.lit(False)).write.parquet(
            f"{sf}/{t}.parquet"
        )

    jd = llm.jpeg_decode(spark, sf)
    assert jd.count() == 0 and "checksum" in jd.columns

    jc = llm.jpeg_color_decode(spark, sf)
    assert jc.count() == 0 and "n_mcus" in jc.columns

    dw = llm.dsir_weights(spark, sf)
    assert dw.count() == 0 and "weight" in dw.columns

    fs = relational.fs_record_linkage(spark, sf)
    assert fs.count() == 0 and "score" in fs.columns

    jw = relational.jaro_winkler_match(spark, sf)
    assert jw.count() == 0 and "jw_sim" in jw.columns


def test_round13_ops_empty_inputs(spark, tmp_path):
    """Round-13 ops over empty lakes: the privacy release gate and the
    DSIR width-overlap audit return typed empty frames on zero events /
    documents instead of crashing."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    for t in ("events", "documents", "embeddings"):
        load(spark, SF, t).filter(F.lit(False)).write.parquet(
            f"{sf}/{t}.parquet"
        )

    pg = relational.privacy_release_gate(spark, sf)
    assert pg.count() == 0
    assert {"k_ok", "l_ok", "t_ok", "releasable"} <= set(pg.columns)

    # the ANN ingest mirror streams three EMPTY micro-batches: the state
    # chain and the emission kernel must hand back a typed empty graph
    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_ann_ingest,
    )

    g = incremental_ann_ingest(spark, sf)
    assert g.count() == 0
    assert {"src", "dst", "e_sim"} <= set(g.columns)

    from air_traffic_data_pipeline_spark.streaming.documents_stream import (
        incremental_ann_retract,
    )

    gr = incremental_ann_retract(spark, sf)
    assert gr.count() == 0
    assert {"src", "dst", "e_sim"} <= set(gr.columns)

    from air_traffic_data_pipeline_spark.plans import llm

    gd = llm.gif_decode(spark, sf)
    assert gd.count() == 0 and "checksum" in gd.columns

    ov = llm.dsir_width_overlap(spark, sf)
    rows = ov.collect()
    assert len(rows) == len(llm.DSIR_OVL_WIDTHS)
    assert all(r.n_docs == 0 and r.sel_jaccard == 0.0 for r in rows)

    te = llm.text_overlap_eval(spark, sf)
    assert te.count() == 0 and "bleu_cum" in te.columns

    er = llm.entropy_rate(spark, sf)
    rows = er.collect()
    assert len(rows) == 1 and rows[0].h1_bits == 0.0  # empty-corpus report

    rl = llm.rouge_l_bounded(spark, sf)
    assert rl.count() == 0 and "rouge_l_f" in rl.columns

    from air_traffic_data_pipeline_spark.plans import relational

    sq = relational.seq_pattern_match(spark, sf)
    assert sq.count() == 0 and {"pattern", "match_len"} <= set(sq.columns)

    ks = relational.ks_two_sample(spark, sf)
    assert ks.count() == 0 and "ks_d" in ks.columns

    bh = relational.bh_fdr(spark, sf)
    assert bh.count() == 0 and "rejected" in bh.columns

    ci = relational.conformal_interval(spark, sf)
    assert ci.count() == 0 and "coverage" in ci.columns

    ip = relational.ips_offline_eval(spark, sf)
    assert ip.count() == 0 and "snips_value" in ip.columns

    dr = relational.dr_offline_eval(spark, sf)
    assert dr.count() == 0 and "dr_value" in dr.columns

    am = relational.ams_f2_sketch(spark, sf)
    rows = am.collect()
    assert len(rows) <= 1
    if rows:
        assert rows[0].n_items == 0

    bc = llm.bcubed_eval(spark, sf)
    rows = bc.collect()
    assert len(rows) == 1 and rows[0].n_docs == 0  # empty-corpus report row

    ca = llm.cluster_agreement_eval(spark, sf)
    rows = ca.collect()
    assert len(rows) == 1 and rows[0].n_docs == 0 and rows[0].ari is None

    sm = llm.shard_mixing_audit(spark, sf)
    assert sm.count() == 0 and "chi2" in sm.columns

    kn = llm.knn_label_eval(spark, sf)
    assert kn.count() == 0 and {"true_label", "pred_label"} <= set(kn.columns)


def test_roc_family_empty_orders(spark, tmp_path):
    """Round-13 ROC family over an empty orders lake: the AUC summary,
    the lift table, and the Kruskal-Wallis report all come back as
    typed EMPTY frames (the 1-row totals side holds NULLs, which must
    never surface as NaN rows)."""
    from air_traffic_data_pipeline_spark.plans import relational
    from air_traffic_data_pipeline_spark.plans.tables import load

    sf = str(tmp_path)
    load(spark, SF, "orders").filter(F.lit(False)).write.parquet(
        f"{sf}/orders.parquet"
    )

    au = relational.auc_roc(spark, sf)
    assert au.count() == 0
    assert {"auc", "gini", "roc_ks", "ks_at_cents"} <= set(au.columns)

    lg = relational.lift_gain(spark, sf)
    assert lg.count() == 0 and {"lift", "cum_gain"} <= set(lg.columns)

    kw = relational.kruskal_wallis(spark, sf)
    assert kw.count() == 0 and {"h", "h_corr", "df"} <= set(kw.columns)

    cu = relational.cusum_drift(spark, sf)
    assert cu.count() == 0 and {"peak_pos_days", "alarms_neg"} <= set(
        cu.columns
    )

    load(spark, SF, "lineitem").filter(F.lit(False)).write.parquet(
        f"{sf}/lineitem.parquet"
    )
    cv = relational.cv_ridge(spark, sf)
    assert cv.count() == 0 and {"test_rmse", "test_r2"} <= set(cv.columns)

    # the IRLS report keeps its 1-row shape with NULL coefficients on an
    # empty lake (sums over zero rows are NULL on both engines)
    lg2 = relational.logistic_irls(spark, sf)
    rows = lg2.collect()
    assert len(rows) == 1 and rows[0].n_orders is None
    assert rows[0].b0 is None and rows[0].accuracy is None

    # the stump sweep has no splittable spine on an empty lake: every
    # per-round best/mse side is a NULL 1-row frame, rounds still emit
    bs = relational.boosted_stumps(spark, sf)
    rows = bs.collect()
    assert len(rows) == relational.GBM_ROUNDS
    assert all(r.theta_cents is None and r.mse_after is None for r in rows)

    # zero valid resamples on an empty lake: the report frame is empty
    pt = relational.permutation_test(spark, sf)
    assert pt.count() == 0 and {"p_value", "n_ge"} <= set(pt.columns)

    gm = relational.gaussian_mixture_em(spark, sf)
    rows = gm.collect()
    assert len(rows) == 1 and rows[0].n_orders is None and rows[0].mu1 is None

    sc = relational.scc_minlabel(spark, sf)
    assert sc.count() == 0 and {"fwd_label", "verified"} <= set(sc.columns)

    al = relational.als_rank1(spark, sf)
    rows = al.collect()
    assert len(rows) == 1 and rows[0].n_ratings == 0
    assert rows[0].train_rmse is None

    load(spark, SF, "part").filter(F.lit(False)).write.parquet(
        f"{sf}/part.parquet"
    )
    sx = relational.soundex_blocking(spark, sf)
    assert sx.count() == 0 and {"sdx", "n_words"} <= set(sx.columns)

    ls = relational.cv_lambda_select(spark, sf)
    assert ls.count() == 0 and {"cv_rmse", "selected"} <= set(ls.columns)

    load(spark, SF, "events").filter(F.lit(False)).write.parquet(
        f"{sf}/events.parquet"
    )
    hv = relational.hmm_viterbi(spark, sf)
    assert hv.count() == 0 and {"viterbi_logprob", "map_state"} <= set(
        hv.columns
    )
