"""Mirror-coverage catalog: which batch queries have a streaming
incremental mirror, and the documented reason for every one that does
not (r11 VERDICT item 4 — the 54-of-335 mirror surface and its
deliberate exclusions were prose-only; this makes them inspectable and
pytest-enforced).

Four artifacts derive from this module:
- ``plans/streaming_plans.py`` takes the oracle of every mirror with no
  SQL of its own (marked ``TWIN`` there) from its batch twin named in
  ``MIRRORS``; a twin without an oracle fails that import;
- ``tools/mirror_coverage_report.py`` renders MIRRORS.md;
- ``tests/test_mirror_coverage.py`` asserts the catalog is a PARTITION
  of the live registry (no batch query silently unclassified, no stale
  entries, every covered_by names a registered streaming query);
- humans read the category definitions below, which record the
  engineering judgment, not just the label.

The classifications are judgments, and they are falsifiable: each
excluded query names either the mirror whose state shape already
demonstrates its incremental story (``covered_by``) or the structural
reason no mirror makes sense. Reclassifying one is a one-line diff the
pytest immediately re-checks against the registry.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Mirror -> batch target, whose oracle is the mirror's oracle unless
# streaming_plans gives explicit SQL. None = standalone mirror: its oracle
# is its own batch SQL over the same lake (events-domain sketches with no
# single batch twin). Retraction variants map to the same batch query as
# their insert-only sibling (their explicit oracle restricts the twin's
# SQL to the surviving rows).
MIRRORS: dict[str, str | None] = {
    "stream_incremental_acf": "rel_autocorrelation",
    "stream_incremental_ann_ingest": None,
    "stream_incremental_ann_retract": None,
    "stream_incremental_bm25": "llm_bm25_topk",
    "stream_incremental_bootstrap": "rel_poisson_bootstrap_ci",
    "stream_incremental_burstiness": "llm_token_burstiness",
    "stream_incremental_calibration": "llm_classifier_calibration",
    "stream_incremental_changepoint": "rel_changepoint_binseg",
    "stream_incremental_cms": None,
    "stream_incremental_core_numbers": "rel_core_numbers",
    "stream_incremental_cross_source": "llm_cross_source_overlap",
    "stream_incremental_doremi": "llm_doremi_weights",
    "stream_incremental_funnel": "rel_funnel_steps",
    "stream_incremental_gini": "rel_gini_concentration",
    "stream_incremental_gopher": "llm_gopher_rules",
    "stream_incremental_heaps": "llm_heaps_law_fit",
    "stream_incremental_isotonic": "llm_isotonic_calibration",
    "stream_incremental_jsd": "llm_source_jsd_matrix",
    "stream_incremental_kaplan_meier": "rel_kaplan_meier",
    "stream_incremental_kcore": "rel_kcore_decomposition",
    "stream_incremental_kendall": "rel_kendall_tau",
    "stream_incremental_kendall_sampled": "rel_kendall_sampled",
    "stream_incremental_dsir": "llm_dsir_weights",
    "stream_incremental_kmv": "rel_kmv_distinct",
    "stream_incremental_kneser_ney": "llm_lm_kneser_ney",
    "stream_incremental_label_propagation": "rel_label_propagation",
    "stream_incremental_mann_whitney": "rel_mann_whitney",
    "stream_incremental_markov": "rel_markov_stationary",
    "stream_incremental_markov_retract": "rel_markov_stationary",
    "stream_incremental_naive_bayes": "llm_naive_bayes_langid",
    "stream_incremental_near_dup": "llm_near_dup_survivors",
    "stream_incremental_near_dup_retract": "llm_near_dup_survivors",
    "stream_incremental_ols": "rel_ols_regression",
    "stream_incremental_pagerank": "rel_pagerank",
    "stream_incremental_pipeline_v2": "llm_pretrain_pipeline_v2",
    "stream_incremental_pref_pairs": "llm_preference_pairs",
    "stream_incremental_priority_sample": "llm_priority_sample",
    "stream_incremental_priority_sample_retract": "llm_priority_sample",
    "stream_incremental_quantile": None,
    "stream_incremental_quantile_retract": None,
    "stream_incremental_quantile_sketch": "rel_quantile_sketch",
    "stream_incremental_readability": "llm_readability_score",
    "stream_incremental_repeated_spans": "llm_repeated_spans",
    "stream_incremental_rfm": "rel_rfm_segments",
    "stream_incremental_rfm_retract": "rel_rfm_segments",
    "stream_incremental_seasonal": "rel_seasonal_decompose",
    "stream_incremental_seasonal_retract": "rel_seasonal_decompose",
    "stream_incremental_semdedup": "llm_semdedup_cells",
    "stream_incremental_shortest_path": "rel_shortest_path",
    "stream_incremental_shortest_path_retract": "rel_shortest_path",
    "stream_incremental_spearman": "rel_spearman_corr",
    "stream_incremental_srp": "llm_srp_near_dup",
    "stream_incremental_temperature": "llm_temperature_scaling",
    "stream_incremental_theil_sen": "rel_theil_sen",
    "stream_incremental_theil_sen_sampled": "rel_theil_sen_sampled",
    "stream_incremental_token_budget": "llm_token_budget_plan",
    "stream_incremental_topk": None,
    "stream_incremental_two_hop_recs": "rel_two_hop_recs",
    "stream_incremental_url_dedup": "llm_url_dedup",
    # registered under the noise_ prefix but IS a streaming MV mirror
    # (foreachBatch partial landing; see plans/domain.py)
    "noise_grid_incremental": "noise_grid_flagship",
}

SM = "stateless-map"
PC = "pattern-covered"
EK = "emission-kernel"
AE = "audit-eval"
IO = "io-layout"
US = "udf-surface"
MS = "monotone-state"

CATEGORIES: dict[str, str] = {
    SM: (
        "Pure per-row / per-document / per-payload column transform: the "
        "streaming form is a trivial map over the stream with no "
        "materialized-view state to maintain; a mirror would only re-test "
        "Spark's map operator. Any terminal aggregate is plain counts for "
        "output compactness, covered by the sum/count mirror family."
    ),
    PC: (
        "The query's incremental STATE SHAPE (signed integer sums, keyed "
        "daily state, digest-keyed sets, banded candidate joins, hashed "
        "counter sketches, iterate-from-merged-counts tails, bounded "
        "top-K) is exactly the shape the named covered_by mirror "
        "maintains and bitwise-verifies; a dedicated mirror would "
        "duplicate that state-shape test, not extend coverage."
    ),
    EK: (
        "Order-sensitive ranking / windowing / percentile / temporal-join "
        "computation: an incremental deployment maintains bounded merged "
        "state and RERUNS this kernel at emission — the emission-rerun "
        "discipline the named covered_by mirror demonstrates (e.g. the "
        "seasonal kernel over merged daily state, the quantile kernel "
        "over merged bins, the ordered-stitch tail)."
    ),
    AE: (
        "On-demand evaluation / diagnostic / audit report over other "
        "queries' artifacts (recall evals, decision tables, dataset "
        "cards, confusion matrices, profilers): run when a human asks, "
        "not continuously maintained; the INPUTS' maintenance is what "
        "the mirrors cover."
    ),
    IO: (
        "Storage-layout / lake-maintenance / pagination surface (Z-order, "
        "compaction, MERGE, offset paging): batch lake operations with "
        "no streaming-MV analogue; streaming ingestion is covered by the "
        "sink battery (stream_foreach_batch_sink et al.)."
    ),
    US: (
        "Deliberate UDF/UDTF API-surface twin of a native query (each has "
        "a bitwise native twin per the UDF discipline); the native "
        "family carries the streaming story."
    ),
    MS: (
        "Monotone insert-only aggregate (min/max bounds): trivially "
        "incremental under inserts, structurally NON-RETRACTABLE from "
        "scalar state (the rfm_retract docstring's monotone-max "
        "discussion) — excluded rather than mirrored with a false "
        "retraction story."
    ),
}

# Batch query -> (category, covered_by mirror name or short note).
EXCLUDED: dict[str, tuple[str, str]] = {
    # --- scalar / per-row surfaces -------------------------------------
    "rel_string_funcs": (SM, "string expression battery"),
    "rel_string_funcs2": (SM, "string expression battery"),
    "rel_math_funcs": (SM, "math expression battery"),
    "rel_date_funcs": (SM, "date expression battery"),
    "rel_date_funcs2": (SM, "date expression battery"),
    "rel_json_funcs": (SM, "JSON expression battery"),
    "rel_array_funcs": (SM, "array expression battery"),
    "rel_array_funcs2": (SM, "array expression battery"),
    "rel_map_funcs": (SM, "map expression battery"),
    "rel_bitwise_funcs": (SM, "bitwise expression battery"),
    "rel_try_arithmetic": (SM, "try_* expression battery"),
    "rel_higher_order": (SM, "lambda expression battery"),
    "rel_conditional_case": (SM, "CASE expression battery"),
    "rel_null_handling": (SM, "null-semantics battery"),
    "rel_from_json_struct": (SM, "JSON parse expression"),
    "rel_from_unixtime": (SM, "time conversion expression"),
    "rel_variant_json": (SM, "variant access expression"),
    "rel_values_inline": (SM, "inline VALUES surface"),
    "rel_lateral_column_alias": (SM, "projection aliasing surface"),
    "rel_posexplode_inline": (SM, "generator expression surface"),
    "rel_generator_outer": (SM, "generator null-row surface"),
    "rel_unpivot_balances": (SM, "unpivot reshape"),
    "rel_set_union": (SM, "union is stream append"),
    "llm_train_val_split": (SM, "pure hash-bucket labeling"),
    "llm_quality_score": (SM, "per-doc heuristic scores"),
    "llm_quality_gate": (SM, "per-doc threshold filter"),
    "llm_lang_id": (SM, "per-doc n-gram heuristic"),
    "llm_text_stats": (SM, "per-doc counters"),
    "llm_token_count": (SM, "per-doc tokenizer counts"),
    "llm_char_entropy": (SM, "per-doc entropy"),
    "llm_boilerplate_fraction": (SM, "per-doc line ratios"),
    "llm_repetition_filter": (SM, "per-doc repetition ratios"),
    "llm_doc_chunking": (SM, "per-doc splitter"),
    "llm_span_corruption": (SM, "per-doc deterministic masking"),
    "llm_pii_scrub": (SM, "per-doc regex scrub"),
    "llm_bpe_tokenize": (SM, "per-doc tokenizer apply"),
    "llm_rolling_fingerprint": (SM, "per-doc rolling hashes"),
    "llm_quantize_int8": (SM, "per-vector quantization"),
    "llm_random_projection": (SM, "per-vector projection"),
    "llm_embedding_norms": (SM, "per-vector norms"),
    "llm_multimodal_decode": (SM, "per-payload codec kernel"),
    "llm_png_decode": (SM, "per-payload PNG codec kernel"),
    "llm_gif_decode": (SM, "per-payload GIF codec kernel"),
    "llm_jpeg_decode": (SM, "per-payload JPEG codec kernel"),
    "llm_jpeg_color_decode": (SM, "per-payload JPEG codec kernel"),
    "llm_multimodal_meta": (SM, "per-payload header parse"),
    "llm_multimodal_frames": (SM, "per-payload frame sampling"),
    "llm_multimodal_resize": (SM, "per-payload resize kernel"),
    "llm_image_phash": (SM, "per-image hash kernel"),
    "llm_image_dct_phash": (SM, "per-image DCT hash kernel"),
    "llm_image_tile_stats": (SM, "per-image tile statistics"),
    "llm_audio_frame_energy": (SM, "per-clip frame energies"),
    "llm_audio_silence_trim": (SM, "per-clip trim kernel"),
    "noise_bbox_filter": (SM, "bbox predicate pushdown"),
    "noise_phase_classify": (SM, "per-row CASE classification"),
    "noise_slant_distance": (SM, "per-row geometry expression"),
    # --- UDF API-surface twins -----------------------------------------
    "llm_quality_pandas_udf": (US, "native twin: llm_quality_score"),
    "llm_grouped_agg_udf": (US, "native twin in rel_agg_stats family"),
    "rel_python_udtf_expand": (US, "native twin: rel_posexplode_inline"),
    # --- keyed signed-sum / join state (TPC-H + aggregate surfaces) -----
    "rel_q1_pricing_summary": (PC, "stream_incremental_rfm"),
    "rel_q2_min_cost_supplier": (PC, "stream_incremental_rfm"),
    "rel_q3_top_orders": (PC, "stream_incremental_rfm"),
    "rel_q4_priority_exists": (PC, "stream_incremental_rfm"),
    "rel_q5_nation_revenue": (PC, "stream_incremental_rfm"),
    "rel_q6_revenue_band": (PC, "stream_incremental_rfm"),
    "rel_q7_volume_shipping": (PC, "stream_incremental_rfm"),
    "rel_q8_market_share": (PC, "stream_incremental_rfm"),
    "rel_q9_product_profit": (PC, "stream_incremental_rfm"),
    "rel_q10_returned_revenue": (PC, "stream_incremental_rfm"),
    "rel_q11_important_stock": (PC, "stream_incremental_rfm"),
    "rel_q12_priority_counts": (PC, "stream_incremental_rfm"),
    "rel_q13_customer_distribution": (PC, "stream_incremental_rfm"),
    "rel_q14_promo_share": (PC, "stream_incremental_rfm"),
    "rel_q15_top_supplier": (PC, "stream_incremental_rfm"),
    "rel_q16_supplier_part_counts": (PC, "stream_incremental_rfm"),
    "rel_q17_small_quantity_revenue": (PC, "stream_incremental_rfm"),
    "rel_q18_large_orders": (PC, "stream_incremental_rfm"),
    "rel_q19_bracket_predicates": (PC, "stream_incremental_rfm"),
    "rel_q20_excess_shippers": (PC, "stream_incremental_rfm"),
    "rel_q21_sole_blame": (PC, "stream_incremental_rfm"),
    "rel_q22_global_sales_opportunity": (PC, "stream_incremental_rfm"),
    "rel_agg_cube": (PC, "stream_incremental_rfm"),
    "rel_agg_rollup": (PC, "stream_incremental_rfm"),
    "rel_agg_grouping_sets": (PC, "stream_incremental_rfm"),
    "rel_agg_filter_clause": (PC, "stream_incremental_rfm"),
    "rel_group_by_all": (PC, "stream_incremental_rfm"),
    "rel_pivot_status": (PC, "stream_incremental_rfm"),
    "rel_cohort_retention": (PC, "stream_incremental_rfm"),
    "rel_salted_join_agg": (PC, "stream_incremental_rfm"),
    "rel_subquery_scalar": (PC, "stream_incremental_rfm"),
    "rel_k_anonymity": (PC, "stream_incremental_rfm"),
    "rel_t_closeness": (PC, "stream_incremental_rfm"),
    "rel_privacy_release_gate": (PC, "stream_incremental_rfm"),
    "rel_dp_noisy_counts": (PC, "stream_incremental_rfm"),
    "rel_explode_wordcount": (PC, "stream_incremental_gopher"),
    "llm_length_bucketing": (PC, "stream_incremental_gopher"),
    "llm_bpe_fertility_by_lang": (PC, "stream_incremental_gopher"),
    "noise_daily_rollup": (PC, "stream_incremental_seasonal"),
    "rel_time_bucket_agg": (PC, "stream_incremental_seasonal"),
    "rel_agg_stats": (PC, "stream_incremental_ols"),
    "rel_stats_moments": (PC, "stream_incremental_ols"),
    "rel_numeric_summary": (PC, "stream_incremental_ols"),
    "rel_ab_test_zscore": (PC, "stream_incremental_ols"),
    "llm_zscore_groups": (PC, "stream_incremental_ols"),
    "rel_ridge_regression": (PC, "stream_incremental_ols"),
    "llm_embedding_outliers": (PC, "stream_incremental_ols"),
    "llm_embedding_whitening": (PC, "stream_incremental_ols"),
    "llm_signal_correlation": (PC, "stream_incremental_spearman"),
    "rel_chi_square_independence": (PC, "stream_incremental_naive_bayes"),
    "llm_feature_hashing": (PC, "stream_incremental_naive_bayes"),
    # --- distinct-count / sketch state ----------------------------------
    "rel_agg_count_distinct": (PC, "stream_incremental_kmv"),
    "rel_approx_distinct": (PC, "stream_incremental_kmv"),
    "rel_hll_partial_merge": (PC, "stream_incremental_kmv"),
    "rel_kmv_set_ops": (PC, "stream_incremental_kmv"),
    "rel_l_diversity": (PC, "stream_incremental_kmv"),
    "llm_heavy_hitters": (PC, "stream_incremental_cms"),
    "llm_count_min_freq": (PC, "stream_incremental_cms"),
    "llm_bloom_prefilter": (PC, "stream_incremental_cms"),
    "rel_rfm_sketch_boundaries": (PC, "stream_incremental_quantile_sketch"),
    "rel_histogram_bucket": (PC, "stream_incremental_quantile"),
    # --- join operator surfaces -----------------------------------------
    "rel_join_anti": (PC, "stream_static_join"),
    "rel_join_semi": (PC, "stream_static_join"),
    "rel_join_cross": (PC, "stream_static_join"),
    "rel_join_full_outer": (PC, "stream_static_join"),
    "rel_join_left_outer": (PC, "stream_static_join"),
    "rel_join_right_outer": (PC, "stream_static_join"),
    "rel_join_null_safe": (PC, "stream_static_join"),
    "rel_subquery_exists": (PC, "stream_static_join"),
    "rel_subquery_in": (PC, "stream_static_join"),
    "rel_interval_overlap_join": (PC, "stream_stream_join"),
    "rel_range_bucket_join": (PC, "stream_stream_join"),
    # --- exact-set / digest dedup state ----------------------------------
    "rel_distinct_pairs": (PC, "stream_incremental_url_dedup"),
    "rel_set_intersect": (PC, "stream_incremental_url_dedup"),
    "rel_set_except": (PC, "stream_incremental_url_dedup"),
    "llm_dedup_exact": (PC, "stream_incremental_url_dedup"),
    "llm_dedup_fingerprint": (PC, "stream_incremental_url_dedup"),
    "llm_exact_dup_clusters": (PC, "stream_incremental_url_dedup"),
    "llm_image_dedup_exact": (PC, "stream_incremental_url_dedup"),
    # --- banded near-dup candidate state ---------------------------------
    "llm_minhash_signatures": (PC, "stream_incremental_near_dup"),
    "llm_minhash_near_dup_pairs": (PC, "stream_incremental_near_dup"),
    "llm_minhash_jaccard_est": (PC, "stream_incremental_near_dup"),
    "llm_minhash_containment": (PC, "stream_incremental_near_dup"),
    "llm_dedup_clusters": (PC, "stream_incremental_near_dup"),
    "llm_dedup_survivor_weights": (PC, "stream_incremental_near_dup"),
    "llm_cluster_survivors": (PC, "stream_incremental_near_dup"),
    "llm_cluster_best_survivor": (PC, "stream_incremental_near_dup"),
    "llm_chunk_dedup": (PC, "stream_incremental_near_dup"),
    "llm_incremental_dedup": (PC, "stream_incremental_near_dup"),
    "llm_simhash": (PC, "stream_incremental_near_dup"),
    "llm_simhash_near_dup": (PC, "stream_incremental_near_dup"),
    "llm_sorted_neighborhood_dup": (PC, "stream_incremental_near_dup"),
    "llm_prefix_filter_join": (PC, "stream_incremental_near_dup"),
    "llm_hamming_key_join": (PC, "stream_incremental_near_dup"),
    "llm_bitext_banded": (PC, "stream_incremental_near_dup"),
    "llm_fuzzy_match_levenshtein": (PC, "stream_incremental_near_dup"),
    "rel_fs_record_linkage": (PC, "stream_incremental_near_dup"),
    "rel_jaro_winkler_match": (PC, "stream_incremental_near_dup"),
    "llm_ngram_jaccard": (PC, "stream_incremental_near_dup"),
    "llm_split_leakage": (PC, "stream_incremental_near_dup"),
    "llm_lsh_buckets": (PC, "stream_incremental_near_dup"),
    "llm_embedding_near_dup": (PC, "stream_incremental_srp"),
    "llm_image_near_dup": (PC, "stream_incremental_srp"),
    "llm_audio_near_dup": (PC, "stream_incremental_srp"),
    "llm_semantic_dedup": (PC, "stream_incremental_semdedup"),
    "llm_semantic_contamination": (PC, "stream_incremental_semdedup"),
    "llm_kmeans_refine": (PC, "stream_incremental_semdedup"),
    "llm_winnow_fingerprints": (PC, "stream_incremental_repeated_spans"),
    "llm_substring_contamination": (PC, "stream_incremental_repeated_spans"),
    "llm_contamination_check": (PC, "stream_incremental_repeated_spans"),
    "llm_contamination_by_n": (PC, "stream_incremental_repeated_spans"),
    "llm_decontam_filter": (PC, "stream_incremental_repeated_spans"),
    "llm_span_scrub_apply": (PC, "stream_incremental_repeated_spans"),
    # --- n-gram / postings count state -----------------------------------
    "llm_ngram_lm_counts": (PC, "stream_incremental_kneser_ney"),
    "llm_lm_interpolated": (PC, "stream_incremental_kneser_ney"),
    "llm_lm_perplexity": (PC, "stream_incremental_kneser_ney"),
    "llm_lm_ppl_filter": (PC, "stream_incremental_kneser_ney"),
    "llm_lm_token_logprob": (PC, "stream_incremental_kneser_ney"),
    "llm_ngram_novelty": (PC, "stream_incremental_kneser_ney"),
    "llm_pmi_collocations": (PC, "stream_incremental_kneser_ney"),
    "llm_dsir_budget_select": (PC, "stream_incremental_token_budget"),
    "llm_bpe_merges": (PC, "stream_incremental_kneser_ney"),
    "llm_tf_idf": (PC, "stream_incremental_bm25"),
    "llm_ctfidf_keywords": (PC, "stream_incremental_bm25"),
    "llm_inverted_index": (PC, "stream_incremental_bm25"),
    "llm_zipf_fit": (PC, "stream_incremental_heaps"),
    "llm_vocab_coverage": (PC, "stream_incremental_heaps"),
    "llm_vocab_coverage_curve": (PC, "stream_incremental_heaps"),
    # --- iterate-from-merged-counts tails --------------------------------
    "llm_textrank_words": (PC, "stream_incremental_pagerank"),
    "llm_graph_centrality_prior": (PC, "stream_incremental_pagerank"),
    "llm_pca_power_iter": (PC, "stream_incremental_pagerank"),
    "llm_pca_deflated_second": (PC, "stream_incremental_pagerank"),
    "rel_recursive_cte_hierarchy": (PC, "stream_incremental_shortest_path"),
    "rel_market_basket": (PC, "stream_incremental_two_hop_recs"),
    "llm_cooc_triangles": (PC, "stream_incremental_two_hop_recs"),
    # --- sampling / packing / composites ---------------------------------
    "llm_stratified_sample": (PC, "stream_incremental_priority_sample"),
    "llm_weighted_sample": (PC, "stream_incremental_priority_sample"),
    "llm_domain_quota_sample": (PC, "stream_incremental_priority_sample"),
    "llm_lang_temperature_sample": (PC, "stream_incremental_priority_sample"),
    "llm_importance_resample": (PC, "stream_incremental_priority_sample"),
    "llm_dataset_mixing": (PC, "stream_incremental_token_budget"),
    "llm_curation_pipeline": (PC, "stream_incremental_pipeline_v2"),
    "llm_dedup_funnel": (PC, "stream_incremental_pipeline_v2"),
    "noise_grid_refgeom": (PC, "noise_grid_incremental"),
    "noise_heat_triples": (PC, "noise_grid_incremental"),
    "noise_source_levels": (PC, "stream_stateful_user_stats"),
    "noise_phase_transitions": (PC, "stream_incremental_markov"),
    # --- grouped top-k state ----------------------------------------------
    "rel_win_topk_orders": (PC, "stream_incremental_topk"),
    "rel_sort_limit_topk": (PC, "stream_incremental_topk"),
    # --- emission-time kernels over bounded merged state -----------------
    "rel_win_rank": (EK, "stream_incremental_topk"),
    "rel_win_frames": (EK, "stream_incremental_seasonal"),
    "rel_win_lag_lead": (EK, "stream_incremental_seasonal"),
    "rel_win_moving_avg": (EK, "stream_incremental_seasonal"),
    "rel_win_running_sum": (EK, "stream_incremental_seasonal"),
    "rel_win_arg_max": (EK, "stream_incremental_topk"),
    "rel_win_ignore_nulls": (EK, "stream_incremental_seasonal"),
    "rel_win_range_interval": (EK, "stream_incremental_seasonal"),
    "rel_win_distribution_funcs": (EK, "stream_incremental_quantile"),
    "rel_ordered_collect": (EK, "stream_incremental_topk"),
    "rel_percentiles_exact": (EK, "stream_incremental_quantile"),
    "rel_ks_two_sample": (EK, "stream_incremental_mann_whitney"),
    "rel_auc_roc": (EK, "stream_incremental_mann_whitney"),
    "rel_lift_gain": (EK, "stream_incremental_quantile"),
    "rel_kruskal_wallis": (EK, "stream_incremental_mann_whitney"),
    "rel_cusum_drift": (EK, "stream_incremental_changepoint"),
    "rel_permutation_test": (PC, "stream_incremental_bootstrap"),
    "rel_scc_minlabel": (PC, "stream_incremental_shortest_path"),
    "rel_als_rank1": (PC, "stream_incremental_two_hop_recs"),
    "rel_soundex_blocking": (SM, "phonetic-key expression + count top-k"),
    "rel_cv_lambda_select": (AE, "lambda decision table over the CV frame"),
    "rel_hmm_viterbi": (EK, "stream_incremental_seasonal"),
    "rel_cv_ridge": (PC, "stream_incremental_ols"),
    "rel_logistic_irls": (PC, "stream_incremental_naive_bayes"),
    "rel_boosted_stumps": (PC, "stream_incremental_naive_bayes"),
    "rel_gaussian_mixture_em": (PC, "stream_incremental_naive_bayes"),
    "rel_conformal_interval": (EK, "stream_incremental_quantile"),
    "rel_bh_fdr": (AE, "FDR decision table over a test grid"),
    "rel_ams_f2_sketch": (PC, "stream_incremental_cms"),
    "rel_agg_median_argmax": (EK, "stream_incremental_quantile"),
    "rel_robust_stats_mad": (EK, "stream_incremental_quantile"),
    "llm_winsorize_lengths": (EK, "stream_incremental_quantile"),
    "llm_curriculum_deciles": (EK, "stream_incremental_quantile"),
    "rel_skyline_frontier": (EK, "stream_incremental_topk"),
    "rel_ewma_per_user": (EK, "stream_incremental_seasonal"),
    "rel_holt_forecast": (EK, "stream_incremental_seasonal"),
    "rel_holt_winters": (EK, "stream_incremental_seasonal"),
    "rel_ewma_anomaly_flags": (EK, "stream_incremental_seasonal"),
    "rel_decayed_trending": (EK, "stream_incremental_seasonal"),
    "rel_time_weighted_avg": (EK, "stream_incremental_seasonal"),
    "rel_tseries_motif": (EK, "stream_incremental_seasonal"),
    "rel_date_spine_gapfill": (EK, "stream_incremental_seasonal"),
    "rel_clamped_running_balance": (EK, "stream_incremental_markov"),
    "rel_gaps_islands": (EK, "stream_incremental_markov"),
    "rel_session_paths": (EK, "stream_incremental_markov"),
    "rel_seq_pattern_match": (EK, "stream_incremental_markov"),
    "rel_first_touch_attribution": (EK, "stream_incremental_markov"),
    "rel_position_attribution": (EK, "stream_incremental_markov"),
    "rel_max_concurrency": (EK, "stream_incremental_markov"),
    "rel_scd2_order_status": (EK, "stream_incremental_markov"),
    "rel_fifo_matching": (EK, "stream_incremental_markov"),
    "rel_asof_join": (EK, "stream_incremental_markov"),
    "rel_asof_join_forward": (EK, "stream_incremental_markov"),
    # --- ANN / retrieval query-time kernels -------------------------------
    "llm_ann_hnsw_topk": (EK, "stream_incremental_ann_ingest"),
    "llm_ann_ivf_topk": (EK, "stream_incremental_semdedup"),
    "llm_ann_nsw_topk": (EK, "stream_incremental_ann_ingest"),
    "llm_cosine_topk": (EK, "stream_incremental_semdedup"),
    "llm_lsh_topk": (EK, "stream_incremental_semdedup"),
    "llm_lsh_topk_multiprobe": (EK, "stream_incremental_semdedup"),
    "llm_ivfpq_topk": (EK, "stream_incremental_semdedup"),
    "llm_pq_adc_topk": (EK, "stream_incremental_semdedup"),
    "llm_pq_codebook": (EK, "stream_incremental_semdedup"),
    "llm_quantized_topk": (EK, "stream_incremental_semdedup"),
    "llm_mmr_rerank": (EK, "stream_incremental_semdedup"),
    "llm_rag_context_pack": (EK, "stream_incremental_semdedup"),
    "llm_rrf_fusion": (EK, "stream_incremental_semdedup"),
    "llm_hard_negative_mining": (EK, "stream_incremental_semdedup"),
    "llm_bitext_margin_mining": (EK, "stream_incremental_semdedup"),
    "llm_global_shard_plan": (EK, "stream_incremental_token_budget"),
    "llm_sequence_packing": (EK, "stream_incremental_token_budget"),
    # --- audits / evals / diagnostics -------------------------------------
    "llm_text_overlap_eval": (AE, "BLEU/ROUGE corpus eval report"),
    "llm_bcubed_eval": (AE, "B-cubed cluster-quality eval"),
    "llm_cluster_agreement_eval": (AE, "ARI/V-measure cluster agreement"),
    "llm_entropy_rate": (PC, "stream_incremental_heaps"),
    "rel_ips_offline_eval": (AE, "off-policy IPS/SNIPS eval report"),
    "rel_dr_offline_eval": (AE, "doubly-robust off-policy eval report"),
    "llm_shard_mixing_audit": (AE, "source-mix audit of the shard plan"),
    "llm_rouge_l_bounded": (SM, "per-pair bounded LCS kernel"),
    "llm_ann_recall_eval": (AE, "recall eval of ANN queries"),
    "llm_knn_label_eval": (AE, "kNN confusion matrix over the exact ranking"),
    "llm_hnsw_recall_eval": (AE, "recall eval of HNSW"),
    "llm_nsw_recall_eval": (AE, "recall eval of NSW"),
    "llm_pq_recall_eval": (AE, "recall eval of PQ"),
    "llm_sn_dedup_recall_eval": (AE, "recall eval of SN blocking"),
    "llm_matryoshka_recall": (AE, "recall eval of truncated dims"),
    "llm_dedup_pr_eval": (AE, "precision/recall eval of dedup"),
    "llm_blocking_cost_eval": (AE, "blocker decision table"),
    "llm_dsir_width_eval": (AE, "hashing-width stability audit"),
    "llm_dsir_width_overlap": (AE, "width selection-overlap decision curve"),
    "llm_blocking_threshold_sweep": (AE, "blocker recall-vs-J curves"),
    "llm_lsh_sensitivity": (AE, "LSH S-curve audit"),
    "llm_minhash_band_stats": (AE, "band-occupancy audit"),
    "llm_repeated_spans_k_sweep": (AE, "span-length sweep audit"),
    "llm_ndcg_eval": (AE, "ranking quality eval"),
    "llm_retrieval_mrr": (AE, "retrieval MRR eval"),
    "llm_langid_confusion": (AE, "language-ID confusion matrix"),
    "llm_calibration_matrix": (AE, "calibration diagnostic"),
    "llm_temperature_matrix": (AE, "per-source calibration audit"),
    "llm_filter_matrix": (AE, "filter overlap matrix"),
    "llm_filter_agreement": (AE, "filter agreement audit"),
    "llm_dataset_card": (AE, "dataset card report"),
    "llm_dataset_diff": (AE, "dataset diff report"),
    "llm_mixing_divergence": (AE, "mixture divergence audit"),
    "llm_doremi_heldout": (AE, "held-out reweighting eval"),
    "llm_isotonic_apply": (AE, "held-out calibration report"),
    "llm_embedding_drift": (AE, "embedding drift audit"),
    "llm_hubness_audit": (AE, "k-NN hubness audit"),
    "llm_label_separability": (AE, "label separability audit"),
    "llm_image_dct_robustness": (AE, "perturbation robustness eval"),
    "rel_dq_checks": (AE, "data-quality report"),
    "rel_skew_diagnostics": (AE, "key-skew diagnostic"),
    "rel_benford_audit": (AE, "Benford conformance audit"),
    "rel_user_erasure_audit": (AE, "erasure compliance audit"),
    "rel_shortest_path_k_audit": (AE, "iteration-depth audit"),
    "rel_table_profile": (AE, "one-scan column profiler"),
    # --- storage-layout / pagination surfaces -----------------------------
    "rel_zorder_layout": (IO, "Z-order layout maintenance"),
    "rel_merge_upsert": (IO, "lake MERGE maintenance"),
    "rel_keyset_pagination": (IO, "pagination access surface"),
    "rel_limit_offset": (IO, "pagination access surface"),
    # --- monotone insert-only bounds ---------------------------------------
    "noise_grid_bounds": (MS, "min/max bbox bounds"),
}

def coverage_rows() -> list[dict]:
    """One row per registered BATCH query: name, status
    (mirrored | excluded), mirror (name or ''), category ('' when
    mirrored), note. Derived live from the registry so stale catalog
    entries surface immediately."""
    from . import registry

    names = list(registry.all_queries())
    batch = sorted(
        n
        for n in names
        if not n.startswith("stream_") and n not in MIRRORS
    )
    target_mirrors: dict[str, list[str]] = {}
    for m, tgt in MIRRORS.items():
        if tgt is not None:
            target_mirrors.setdefault(tgt, []).append(m)
    rows = []
    for b in batch:
        if b in target_mirrors:
            rows.append(
                {
                    "query": b,
                    "status": "mirrored",
                    "mirror": ", ".join(sorted(target_mirrors[b])),
                    "category": "",
                    "note": "",
                }
            )
        elif b in EXCLUDED:
            cat, note = EXCLUDED[b]
            rows.append(
                {
                    "query": b,
                    "status": "excluded",
                    "mirror": "",
                    "category": cat,
                    "note": note,
                }
            )
        else:
            rows.append(
                {
                    "query": b,
                    "status": "UNCLASSIFIED",
                    "mirror": "",
                    "category": "",
                    "note": "",
                }
            )
    return rows
