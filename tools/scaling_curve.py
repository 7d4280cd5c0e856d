"""Measured scaling curves for the flagship + dedup hot paths.

Builds 1x/2x/4x scaled lakes from a base sf dir and times
``noise_grid_refgeom`` (events), ``llm_minhash_near_dup_pairs``
(documents) and ``llm_semdedup_cells`` (embeddings) at each scale —
turning the 100 TB plan-shape argument into a measured cost curve
(near-linear wall clock as the input doubles twice).

Scaling models (deliberately different per table):
- events: replicas get fresh event_ids (offset) but keep the user_id
  lattice — sources DENSIFY the same geographic region, the radius
  join's linear-in-sources regime.
- documents: replica i suffixes every word with ``_i`` — replicas are
  DISTINCT texts (no cross-replica shingles), the "more unique data"
  growth model; near-dup structure within each replica is preserved.
- embeddings: replicas are IDENTICAL vectors under fresh vec_ids — the
  adversarial case for semantic dedup (every replica is a perfect
  duplicate); bounded subcells must keep the in-cell pair cost linear
  anyway (plans/llm.py semdedup_subcells).

Usage: python tools/scaling_curve.py [base_sf_dir] [reps] [name ...]
Optional trailing names restrict the run to those queries (exact match)
— lakes still build once, so a one-query measurement stays cheap.
Prints one markdown table (for PERF.md) and one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALES = (1, 2, 4)
ID_OFFSET = 10_000_000


def build_lakes(spark, base: str, root: str) -> dict[int, str]:
    from pyspark.sql import functions as F

    dirs = {}
    for m in SCALES:
        out = os.path.join(root, f"x{m}")
        dirs[m] = out
        ev = spark.read.parquet(f"{base}/events.parquet")
        doc = spark.read.parquet(f"{base}/documents.parquet")
        emb = spark.read.parquet(f"{base}/embeddings.parquet")
        li = spark.read.parquet(f"{base}/lineitem.parquet")
        od = spark.read.parquet(f"{base}/orders.parquet")
        evs, docs, embs, lis, ods = [], [], [], [], []
        for i in range(m):
            evs.append(
                ev.withColumn("event_id", F.col("event_id") + F.lit(i * ID_OFFSET))
            )
            d = doc.withColumn("doc_id", F.col("doc_id") + F.lit(i * ID_OFFSET))
            if i:
                d = d.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1_{i}")
                )
            docs.append(d)
            embs.append(
                emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * ID_OFFSET))
            )
            # lineitem replicas keep partkeys but get fresh orderkeys:
            # lots per part DENSIFY — the FIFO hot-part growth model
            lis.append(
                li.withColumn(
                    "l_orderkey", F.col("l_orderkey") + F.lit(i * ID_OFFSET)
                )
            )
            # orders replicas keep the calendar and the price lattice but
            # get fresh orderkeys: the daily series and the distinct-cents
            # spine DENSIFY while day count / spine size stay near-fixed —
            # the growth model the spine-sweep family is designed for
            ods.append(
                od.withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(i * ID_OFFSET)
                )
            )
        for name, parts in (
            ("events", evs),
            ("documents", docs),
            ("embeddings", embs),
            ("lineitem", lis),
            ("orders", ods),
        ):
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            u.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    return dirs


def main() -> int:
    # Positional grammar: [base_sf_dir] [reps] [query_name ...] — but a
    # bare query name must not be swallowed as base_sf_dir (r8 ADVICE), so
    # classify each leading arg: an existing directory is the base, a pure
    # integer is reps, anything else starts the name filter.
    argv = sys.argv[1:]
    base = "/root/testdata/sf0.1"
    reps = 2
    while argv:
        a = argv[0]
        if os.path.isdir(a):
            base = argv.pop(0)
        elif a.isdigit():
            reps = int(argv.pop(0))
        else:
            break

    from air_traffic_data_pipeline_spark.plans import domain, llm, relational
    from air_traffic_data_pipeline_spark.session import get_spark

    def _rel_fifo(spark, sf_dir):
        return relational.fifo_matching(spark, sf_dir)

    spark = get_spark("scaling-curve")
    queries = {
        "noise_grid_refgeom": domain.refgeom_noise_grid,
        "llm_minhash_near_dup_pairs": llm.minhash_near_dup_pairs,
        "llm_semdedup_cells": llm.semdedup_cells,
        # round-7 additions: corpus-internal span dedup (winnow window +
        # (h, gram) count window) and the token-level LM scorer (two
        # word-keyed joins + per-doc fold) — the new heavy paths
        "llm_repeated_spans": llm.repeated_spans,
        "llm_lm_token_logprob": llm.lm_token_logprob,
        # late round-7: the gram-keyed self-join (bounded per gram by
        # |sources|^2) behind the cross-source provenance matrix
        "llm_cross_source_overlap": llm.cross_source_overlap,
        # FIFO interval intersection under lot densification (replicas
        # add lots to the SAME parts — per-part pair counts grow
        # linearly because FIFO intervals are non-overlapping per side)
        "rel_fifo_matching": _rel_fifo,
        # round-8 additions: the NSW graph build under the IDENTICAL-
        # replica embedding model (adversarial for the LSH band join —
        # bucket populations scale with replicas, so candidate volume is
        # the thing to watch; NND rescore and beam stay linear), and the
        # K-sensitivity sweep (3 winnow passes — expect ~3x the
        # repeated_spans curve, still at-most-linear per pass)
        "llm_ann_nsw_topk": llm.ann_nsw_topk,
        "llm_repeated_spans_k_sweep": llm.repeated_spans_k_sweep,
        # late round-8: the two banded-candidate searches under the same
        # IDENTICAL-replica adversarial model — bucket populations scale
        # with replicas, candidate volume is the thing to watch
        "llm_ann_hnsw_topk": llm.ann_hnsw_topk,
        "llm_bitext_banded": llm.bitext_banded_mining,
        # round-9 additions: Bellman-Ford under lot densification (replica
        # orders reuse the SAME part pool, so co-purchase counts and edge
        # multiplicity grow while the node set stays fixed — per-round
        # relax volume is frontier x degree, the thing to watch), and the
        # banded contamination check under identical replicas (bench side
        # FIXED, corpus buckets scale with replicas — candidates must grow
        # linearly, never bench x corpus)
        "rel_shortest_path": relational.shortest_path,
        "llm_semantic_contamination": llm.semantic_contamination,
        # replica docs carry suffixed tokens, so the vocabulary (and the
        # first-occurrence table — the thing to watch) grows with replicas
        "llm_heaps_law_fit": llm.heaps_law_fit,
        # rides the feature-hashing token shuffle; the x8 grid explode is
        # per-DOC and pre-aggregates map-side — expect linear
        "llm_temperature_scaling": llm.temperature_scaling,
        # late round-9 graph family under the same lot-densification
        # model (fixed node set, growing co-purchase counts): the K-audit
        # runs 8 relaxation rounds sharing one pass (expect ~2x the K=4
        # shortest-path curve), LPA and PageRank each ride fixed-round
        # node-keyed joins over the same near-constant edge table — the
        # pair-building self-join is the only input-proportional stage
        "rel_shortest_path_k_audit": relational.shortest_path_k_audit,
        "rel_label_propagation": relational.label_propagation_communities,
        "rel_pagerank": relational.pagerank_copurchase,
        # the peel rounds ride the same near-constant distinct-edge table
        # as LPA (expect flat); only the pair-building stage sees 4x input
        "rel_kcore_decomposition": relational.kcore_decomposition,
        # the centrality composite under the IDENTICAL-replica embedding
        # model — dominated by the NSW graph build (the ann_nsw_topk
        # entry's curve), plus 5 corpus-independent integer rounds
        "llm_graph_centrality_prior": llm.graph_centrality_prior,
        # round-10 additions under the same models: per-node coreness
        # shares the kcore posture (30 bounded peels over the
        # near-constant distinct-edge table — expect flat-ish); two-hop
        # recs cap each node at top-8 edges BEFORE the expansion, so the
        # 2-hop join is |V|*M^2-bounded while the pair-building stage
        # sees 4x input (expect the pagerank-like pair-build curve);
        # sorted-neighborhood dedup rides the distinct-text document
        # model (one partition-local sort + candidate-pruned grams —
        # expect linear)
        "rel_core_numbers": relational.core_numbers_copurchase,
        "rel_two_hop_recs": relational.two_hop_recs,
        "llm_sorted_neighborhood_dup": llm.sorted_neighborhood_dup,
        # round-10 late additions: the exact-Jaccard prefix-filter join
        # under the distinct-text model (shingle vocab grows with
        # replicas; prefixes stay rare so bucket populations — the thing
        # to watch — must not superlinearize); the Poisson bootstrap is
        # a pure constant-fan-out (x64) scan aggregate — expect linear
        # in lineitem rows; Naive Bayes is two vocab-keyed count
        # aggregates + a test-side join — vocab grows with replicas;
        # the JSD matrix's shared-token join is bounded per token by
        # |sources|^2 — expect linear in the token stream
        "llm_prefix_filter_join": llm.prefix_filter_join,
        "rel_poisson_bootstrap_ci": relational.poisson_bootstrap_ci,
        "llm_naive_bayes_langid": llm.naive_bayes_langid,
        "llm_source_jsd_matrix": llm.source_jsd_matrix,
        # round-11 addition: SRP cosine-LSH under the distinct-text model
        # (SRP_DIM bucket vectors see a growing vocabulary; band-bucket
        # populations — the thing to watch — must keep candidates linear)
        "llm_srp_near_dup": llm.srp_near_dup,
        # round-12 additions under the distinct-text model: the threshold
        # sweep runs ONE loosest-threshold truth pass plus the five
        # production candidate generators (each already curved) — expect
        # the sum of its parts, dominated by the all-pairs-sharing-a-
        # shingle truth at J=0.6 (prefix filter prunes less at loose
        # thresholds — candidate volume at 0.6 is the thing to watch);
        # isotonic apply rides the feature-hashing token shuffle twice
        # (fit + held-out halves of one scan) with a 16-row broadcast —
        # expect the temperature_scaling curve
        "llm_blocking_threshold_sweep": llm.blocking_threshold_sweep,
        "llm_isotonic_apply": llm.isotonic_apply,
        # round-12 late addition under the distinct-text model: DSIR sees
        # a growing bigram vocabulary hashed into a FIXED DSIR_B-bucket
        # space — the log-ratio table stays 1024 rows however the corpus
        # grows, so expect linear in the bigram stream (the one shuffle).
        # fs_record_linkage and the jpeg codecs are deliberately absent:
        # customer stays sf0.1-sized in the replica lake and the codec
        # queries cap at 300 docs — their "curves" would re-run identical
        # data.
        "llm_dsir_weights": llm.dsir_weights,
        # round-13 additions. events replicas keep the user lattice, so
        # per-user-day strings DENSIFY — the regex scan is linear in
        # string length and the (user, day) key count is fixed: the
        # collect_list state per key is the thing to watch
        "rel_seq_pattern_match": relational.seq_pattern_match,
        # the KS distinct-value spine is bounded by the 2-dp value
        # domain — expect a linear scan into a near-constant window
        "rel_ks_two_sample": relational.ks_two_sample,
        # fixed (type, weekday) grid, one map-side-combining aggregate
        "rel_bh_fdr": relational.bh_fdr,
        # per-type rank window grows linearly in the calibration split
        "rel_conformal_interval": relational.conformal_interval,
        # QI-domain x band cells fixed; one aggregate feeds every rung
        "rel_privacy_release_gate": relational.privacy_release_gate,
        # distinct-text model: the n-gram vocabulary grows with replicas
        # but the (pair, n, gram) shuffle stays one pass — expect linear
        "llm_text_overlap_eval": llm.text_overlap_eval,
        # constant 576-cell DP per pair, pair count grows — expect linear
        "llm_rouge_l_bounded": llm.rouge_l_bounded,
        # |widths| broadcast-table reweights of ONE bigram scan
        "llm_dsir_width_overlap": llm.dsir_width_overlap,
        # gif_decode deliberately absent: caps at 300 docs (the jpeg rule)
        # round-13 second batch. OPE estimators are cell aggregates over
        # a fixed (weekday, action) grid — expect flat-after-scan
        "rel_ips_offline_eval": relational.ips_offline_eval,
        "rel_dr_offline_eval": relational.dr_offline_eval,
        # the AMS Z_r pass is a 256x map-side explode collapsing to 256
        # rows — linear in events, the thing to watch is the explode
        "rel_ams_f2_sketch": relational.ams_f2_sketch,
        # cluster evals are sample-bounded (DEDUP_EVAL_MAX_ID) on the
        # truth side but the PRED side's banded pipeline sees the full
        # replica corpus — the curve shows the banding stays linear
        "llm_bcubed_eval": llm.bcubed_eval,
        "llm_cluster_agreement_eval": llm.cluster_agreement_eval,
        # rides the two-level prefix sum; shards grow linearly
        "llm_shard_mixing_audit": llm.shard_mixing_audit,
        # round-13 third batch (orders replicas: calendar + price lattice
        # fixed, rows densify). The ROC family's windows run on the
        # distinct-cents spine — near-constant as rows grow, so expect
        # flat-after-scan with the one map-side pass dominating
        "rel_auc_roc": relational.auc_roc,
        "rel_lift_gain": relational.lift_gain,
        # calendar-bounded daily series: the rank window is fixed-size,
        # the daily aggregate is the linear stage
        "rel_kruskal_wallis": relational.kruskal_wallis,
        "rel_cusum_drift": relational.cusum_drift,
        # B-explode over the fixed-size daily frame: flat-after-scan
        "rel_permutation_test": relational.permutation_test,
        # one lineitem pass for the fold moments; CV math on K rows
        "rel_cv_ridge": relational.cv_ridge,
        # IRLS/EM/boosting: one fact pass + fixed-round spine aggregates;
        # the spine is near-constant under the price-lattice model, so
        # the iteration tail must stay flat while the scan goes linear
        "rel_logistic_irls": relational.logistic_irls,
        "rel_boosted_stumps": relational.boosted_stumps,
        "rel_gaussian_mixture_em": relational.gaussian_mixture_em,
        # |Q| capped at KNN_QMAX: the exact kernel is Q-bounded, corpus
        # side streams — expect linear in replicas
        "llm_knn_label_eval": llm.knn_label_eval,
        # ratings densify (fixed customer x part lattice, counts x m):
        # the orders x lineitem join is the linear stage, the 2*T
        # alternations ride the near-constant distinct-(c,p) table
        "rel_als_rank1": relational.als_rank1,
    }
    only = list(argv)
    if only:
        unknown = set(only) - set(queries)
        if unknown:
            raise SystemExit(f"unknown query name(s): {sorted(unknown)}")
        queries = {k: v for k, v in queries.items() if k in only}

    root = tempfile.mkdtemp(prefix="scale_")
    try:
        from air_traffic_data_pipeline_spark.operators import checkpoints

        def _reset():
            # cold caches AND released checkpoints per run: the graph
            # queries pin edge/result RDDs until teardown, and leaked
            # pinned blocks across reps made earlier curves non-monotone
            llm.clear_caches()
            checkpoints.clear_all(spark)

        dirs = build_lakes(spark, base, root)
        # warm codegen/JIT per plan shape on the smallest lake
        for fn in queries.values():
            _reset()
            fn(spark, dirs[1]).count()

        table: dict[str, dict[int, float]] = {q: {} for q in queries}
        rows: dict[str, dict[int, int]] = {q: {} for q in queries}
        for m in SCALES:
            for qname, fn in queries.items():
                best = None
                for _ in range(reps):
                    _reset()
                    t0 = time.time()
                    n = fn(spark, dirs[m]).count()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                table[qname][m] = round(best, 3)
                rows[qname][m] = n

        print("| query | 1x sec | 2x sec | 4x sec | 4x/1x | rows 1x->4x |")
        print("|---|---|---|---|---|---|")
        for q in queries:
            t = table[q]
            ratio = round(t[4] / t[1], 2) if t[1] else float("inf")
            print(
                f"| {q} | {t[1]} | {t[2]} | {t[4]} | {ratio}x"
                f" | {rows[q][1]} -> {rows[q][4]} |"
            )
        print(
            json.dumps(
                {"base": base, "timings": table, "rows": rows, "reps": reps}
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
