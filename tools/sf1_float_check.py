"""sf1 float-discipline spot-check (r6 VERDICT item 6).

Builds a ~sf1 lake (10 replicas of sf0.1 for the three content tables,
other tables copied through) and mirror-checks the most FOLD-HEAVY
queries — the ones whose values are produced by sorted sequential float
folds (PQ/IVF-PQ codebooks + ADC LUTs, TextRank iterations, EWMA
recurrence, time-weighted averages, Zipf OLS, entropy, k-means/PCA
folds) — against the DuckDB oracle at 10x the bench scale. A bitwise OK
at sf1 shows the fold-order discipline is scale-invariant, not a
small-data accident: the folds see 10x longer arrays / more groups and
the partial-aggregation topology underneath them changes completely,
while the committed fold order must not.

Replica models reuse tools/scaling_curve.py's: events densify under
fresh event_ids, documents get distinct word-suffixed texts, embeddings
replicate identically under fresh vec_ids.

Usage: python tools/sf1_float_check.py [base_sf_dir] [multiplier]
Prints a markdown table (for PERF.md) + one JSON line; exits non-zero on
any non-OK row.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FOLD_HEAVY = (
    "llm_pq_codebook",
    "llm_pq_adc_topk",
    "llm_ivfpq_topk",
    "llm_textrank_words",
    "llm_zipf_fit",
    "llm_char_entropy",
    "llm_kmeans_refine",
    "llm_pca_power_iter",
    "rel_ewma_per_user",
    "rel_time_weighted_avg",
    # late round-7 fold-heavy additions: the interpolated-LM per-doc
    # position fold, the feature-hashing dot-product fold, and the
    # mixture-divergence lang-sorted folds
    "llm_lm_interpolated",
    "llm_feature_hashing",
    "llm_mixing_divergence",
    # round-9 fold paths (breadcrumb #5): the temperature fit's integer
    # micro-unit quantization (per-doc double -> BIGINT boundary), the
    # Heaps log-log OLS fold, the Bellman-Ford double-sum path costs
    # (lineitem now densifies 10x below, so the graph genuinely scales),
    # and the integer PageRank fixed point (order-free by construction —
    # the check proves the claim survives a 10x partial-agg topology)
    "llm_temperature_scaling",
    "llm_heaps_law_fit",
    "rel_shortest_path",
    "rel_pagerank",
    # round-10 fold paths: the JSD per-token quantized-ln terms and the
    # NB model-table quantized log-likelihoods both see a 10x vocabulary
    # (distinct-suffixed replicas); the bootstrap's rank tail orders
    # replicate means computed from 10x-denser exact sums; burstiness
    # ranks VMR doubles over the 10x vocab. The orders-based time-series
    # family is deliberately absent — orders stays sf0.1-sized in this
    # lake, so a "check" there would re-run identical data
    "llm_source_jsd_matrix",
    "llm_naive_bayes_langid",
    "rel_poisson_bootstrap_ci",
    "llm_token_burstiness",
    # round-11 fold path: SRP signatures integer-project a 10x vocabulary
    # (distinct-suffixed replicas) and the exact-cosine verification
    # divides sqrt products of 10x-larger integer norms. The sampled
    # trend family (theil_sen/kendall sampled) is orders-based and
    # deliberately absent — orders stays sf0.1-sized in this lake
    "llm_srp_near_dup",
    # round-12 fold paths: isotonic apply's held-out reliability gaps are
    # doubles derived from 1e6-unit BIGINT sums over a 10x corpus with a
    # map fitted on a 10x fit split (the minimax interval table sees
    # denser bins); the threshold sweep's recall/precision divides come
    # from exact counts over 10x-vocabulary candidate sets across four
    # thresholds at once
    "llm_isotonic_apply",
    "llm_blocking_threshold_sweep",
    # round-12 late fold path: DSIR's per-doc weight is a bucket-ascending
    # double fold whose log-ratio table is re-estimated from a 10x bigram
    # stream (fixed 1024-bucket space — denser buckets, same fold shape).
    # fs_record_linkage is customers-based and deliberately absent —
    # customer stays sf0.1-sized in this lake
    "llm_dsir_weights",
    # round-13 fold paths: BH-FDR's Zelen-Severo tails ride decimal sums
    # over a 10x event stream and the step-up selection must not move;
    # KS's integer sup-gap argmax walks a denser distinct-value spine;
    # the conformal order-statistic rank k = ceil(0.9(n+1)) lands on a
    # 10x calibration split; BLEU's smoothed log composite divides 10x
    # clipped counts. seq_pattern/privacy_gate are exact-integer
    # (nothing to drift); rouge_l/gif are bounded kernels (the jpeg rule)
    "rel_bh_fdr",
    "rel_ks_two_sample",
    "rel_conformal_interval",
    "llm_text_overlap_eval",
)

ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def build_sf1(spark, base: str, out: str, m: int) -> None:
    from pyspark.sql import functions as F

    from tools.scaling_curve import ID_OFFSET

    ev = spark.read.parquet(f"{base}/events.parquet")
    doc = spark.read.parquet(f"{base}/documents.parquet")
    emb = spark.read.parquet(f"{base}/embeddings.parquet")
    li = spark.read.parquet(f"{base}/lineitem.parquet")
    evs, docs, embs, lis = [], [], [], []
    for i in range(m):
        evs.append(ev.withColumn("event_id", F.col("event_id") + F.lit(i * ID_OFFSET)))
        d = doc.withColumn("doc_id", F.col("doc_id") + F.lit(i * ID_OFFSET))
        if i:
            d = d.withColumn("text", F.regexp_replace("text", r"(\S+)", f"$1_{i}"))
        docs.append(d)
        embs.append(emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * ID_OFFSET)))
        # lineitem replicas keep partkeys under fresh orderkeys (the
        # scaling_curve lot-densification model) so the co-purchase graph
        # queries see a genuinely 10x lineitem, not a copy-through
        lis.append(li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * ID_OFFSET)))
    from air_traffic_data_pipeline_spark.streaming.staging import _write_single

    for name, parts in (
        ("events", evs),
        ("documents", docs),
        ("embeddings", embs),
        ("lineitem", lis),
    ):
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        # single-file parquet: the DuckDB oracle opens '<dir>/<t>.parquet'
        # as a FILE, not a Spark-style directory
        _write_single(u, f"{out}/{name}.parquet")
    for t in ALL_TABLES:
        if t not in ("events", "documents", "embeddings", "lineitem"):
            src = f"{base}/{t}.parquet"
            dst = f"{out}/{t}.parquet"
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copy(src, dst)


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    m = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from air_traffic_data_pipeline_spark.session import get_spark

    spark = get_spark("sf1-float-check")
    root = tempfile.mkdtemp(prefix="sf1_")
    try:
        build_sf1(spark, base, root, m)
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"), root]
            + list(FOLD_HEAVY),
            capture_output=True,
            text=True,
        )
        sys.stdout.write(proc.stdout[-4000:])
        statuses: dict[str, str] = {}
        for line in proc.stdout.splitlines():
            parts = line.split()
            if len(parts) >= 2 and parts[0] in FOLD_HEAVY:
                statuses[parts[0]] = parts[1]
        print("| query | status at ~sf1 (10x sf0.1) |")
        print("|---|---|")
        for q in FOLD_HEAVY:
            print(f"| {q} | {statuses.get(q, 'MISSING')} |")
        ok = all(statuses.get(q) == "OK" for q in FOLD_HEAVY)
        print(
            json.dumps(
                {"base": base, "multiplier": m, "statuses": statuses, "all_ok": ok}
            )
        )
        return 0 if ok else 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
