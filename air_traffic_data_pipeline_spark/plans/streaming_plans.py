"""Streaming queries exposed through the driver contract.

Each runs a real Structured Streaming query (file source -> memory sink,
drained synchronously) and returns the materialized result; the oracle is
the equivalent batch SQL, which is exactly what stream/batch unification
promises. Session windows additionally exist as a batch gaps-and-islands
operator (``sessionize_events``) so the merge semantics are oracle-checked
too.

``_SPECS`` registers the implementing functions of ``streaming/*.py``
themselves, so the registry's source hash is the hash of the code that
runs. An incremental mirror whose oracle is its batch twin's SQL (one
DataFrame plan serves batch and streaming callers) marks its oracle
``TWIN``; the twin is named once, in ``mirror_coverage.MIRRORS``.
Explicit SQL remains only where it differs from the twin's: the
event-stream queries, the standalone mirrors and the retraction mirrors
(whose oracles restrict the twin to the surviving rows).

Window-start determinism: Spark tumbling windows align to the epoch, so
win_start = epoch_us // size * size — the DuckDB oracle computes the same
integer arithmetic on epoch_ns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..operators.similarity import NSW_NND_ROUNDS, lsh_bucket_sql
from ..operators.sketches import CMS_ROWS_VALUES_SQL, cms_pos_sql
from ..streaming import documents_stream, events_stream, orders_stream
from ..streaming.documents_stream import PRIO_RETRACT_MOD, PRIO_RETRACT_RES
from . import llm, relational
from .mirror_coverage import MIRRORS
from .tables import load

# Oracle marker: "this mirror's oracle is its batch twin's oracle".
TWIN = object()


TUMBLING_SQL = """
SELECT strftime(to_timestamp(CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) * 3600), '%Y-%m-%d %H:%M:%S') AS win_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


SLIDING_SQL = """
WITH w AS (
  SELECT event_id,
         unnest([CAST(epoch_ns(ts) // 3600000000000 AS BIGINT) - 1,
                 CAST(epoch_ns(ts) // 3600000000000 AS BIGINT)]) AS win_hour
  FROM events
)
SELECT strftime(to_timestamp(win_hour * 3600), '%Y-%m-%d %H:%M:%S') AS win_start,
       count(*) AS n
FROM w GROUP BY 1
"""


SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM flagged
)
SELECT user_id,
       strftime(to_timestamp(CAST(min(ts_us) // 1000000 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS sess_start,
       strftime(to_timestamp(CAST((max(ts_us) + 600000000) // 1000000 AS BIGINT)), '%Y-%m-%d %H:%M:%S') AS sess_end,
       count(*) AS n
FROM sess GROUP BY user_id, sess_id
"""


STREAM_DEDUP_SQL = """
SELECT event_type, count(*) AS n_unique_users
FROM (SELECT DISTINCT user_id, event_type FROM events) t
GROUP BY event_type
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a new session starts when
    the gap to the previous event of the same user exceeds 10 minutes.
    Equivalent to streaming session_window merge semantics on closed data —
    and therefore exactly SQL-oracle-checkable."""
    # microseconds: the lake's nanos truncate to us in both engines'
    # timestamp handling, so sessionize in us for cross-engine parity
    gap_us = 600_000_000
    ev = load(spark, sf_dir, "events").withColumn("ts_us", F.expr("ts div 1000"))
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            (F.col("ts_us") - F.lag("ts_us").over(w)) > gap_us, 1
        ).otherwise(F.when(F.lag("ts_us").over(w).isNull(), 1).otherwise(0)),
    )
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = flagged.withColumn("sess_id", F.sum("new_sess").over(wsum))
    return sess.groupBy("user_id", "sess_id").agg(
        F.min("ts_us").alias("sess_start_us"),
        F.max("ts_us").alias("sess_end_us"),
        F.count(F.lit(1)).alias("n_events"),
    )


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 600000000 THEN 1
              ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
sess AS (
  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
  FROM flagged
)
SELECT user_id, sess_id, min(ts_us) AS sess_start_us, max(ts_us) AS sess_end_us,
       count(*) AS n_events
FROM sess GROUP BY user_id, sess_id
"""


# Within the finite replay the 35-day delay exceeds the data span, so the
# watermark-scoped dedup equals global dedup (see watermarked_dedup_count).
DEDUP_WATERMARK_SQL = """
SELECT event_type, count(*) AS n_users
FROM (SELECT DISTINCT user_id, event_type FROM events) t
GROUP BY event_type
"""


# Last-wins keyed by (ts, event_id) — data properties, not arrival order —
# so the multi-batch foreachBatch landing reduces to this batch SQL.
FOREACH_BATCH_SQL = """
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_event_type,
       epoch_us(ts) // 1000000 AS last_ts_sec,
       round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t
WHERE rn = 1
"""


STREAM_STATIC_JOIN_SQL = """
SELECT c.c_nationkey, count(*) AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


STATEFUL_STATS_SQL = """
SELECT user_id, count(*) AS n, max(value) AS max_value, min(value) AS min_value
FROM events GROUP BY 1
"""


# Replays the watermark algebra: batch 1 = newer half by (ts, event_id);
# its max event time minus the 1h delay is the final watermark; batch 2
# (older half) is entirely behind it and dropped; append mode emits only
# windows whose end <= watermark. Microseconds to match Spark's
# timestamp_micros(ts div 1000).
LATE_DROP_SQL = """
WITH ranked AS (
  SELECT *, row_number() OVER (ORDER BY ts, event_id) AS rn,
         count(*) OVER () AS cnt
  FROM events
),
newer AS (SELECT * FROM ranked WHERE rn > cnt // 2),
wm AS (SELECT max(epoch_us(ts)) - 3600000000 AS w FROM newer),
win AS (
  SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS wh, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM newer GROUP BY 1
)
SELECT strftime(to_timestamp(wh * 3600), '%Y-%m-%d %H:%M:%S') AS win_start,
       n, total_value
FROM win, wm
WHERE (wh + 1) * 3600000000 <= w
"""


TWS_STATS_SQL = """
SELECT event_type, count(*) AS n, max(value) AS max_value, min(value) AS min_value
FROM events GROUP BY 1
"""


def _tws_available() -> bool:
    """transformWithState's Python driver worker imports google.protobuf
    (StateMessage proto); this container ships pyspark without protobuf, so
    the operator is registered only where the dependency exists. The
    implementation itself (events_stream.transform_with_state_stats) is
    complete and value-checked wherever protobuf is installed."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _incremental_cms_sql() -> str:
    """One-shot batch CMS over all events — per-batch integer cell partials
    merged by summation are bitwise-identical (operators/sketches.py)."""
    pos = cms_pos_sql("w")
    return f"""
WITH toks AS (SELECT CAST(user_id AS VARCHAR) AS w FROM events),
salted AS (SELECT w, r, {pos} AS pos FROM toks CROSS JOIN {CMS_ROWS_VALUES_SQL}),
cells AS (SELECT r, pos, count(*) AS cnt FROM salted GROUP BY r, pos),
exact AS (
  SELECT w, count(*) AS exact_freq FROM toks
  GROUP BY w ORDER BY exact_freq DESC, w LIMIT 20),
probes AS (SELECT w, exact_freq, r, {pos} AS pos
           FROM exact CROSS JOIN {CMS_ROWS_VALUES_SQL}),
est AS (SELECT w, exact_freq, min(cnt) AS cms_est
        FROM probes JOIN cells USING (r, pos) GROUP BY 1, 2)
SELECT CAST(w AS BIGINT) AS user_id, exact_freq, cms_est,
       cms_est - exact_freq AS overcount
FROM est
"""


INCREMENTAL_TOPK_SQL = """
WITH agg AS (
  SELECT event_type, user_id, sum(CAST(value AS DECIMAL(18,2))) AS v
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, user_id, CAST(v AS DOUBLE) AS total_value,
         row_number() OVER (PARTITION BY event_type ORDER BY v DESC, user_id) AS rank
  FROM agg
)
SELECT event_type, user_id, total_value, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
"""


INCREMENTAL_QUANTILE_SQL = """
WITH hist AS (
  SELECT CAST(floor(value / CAST(5.0 AS DOUBLE)) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT bin, cnt, CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
  FROM hist
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
qs(q) AS (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)), (CAST(0.99 AS DOUBLE))),
tgt AS (
  SELECT q, n AS n_total,
         CAST(ceil(q * CAST(n AS DOUBLE)) AS BIGINT) AS target_rank
  FROM qs CROSS JOIN tot
),
hit AS (
  SELECT q, n_total, target_rank, min(bin) AS bin
  FROM tgt JOIN cum ON cum.cum >= tgt.target_rank
  GROUP BY q, n_total, target_rank
)
SELECT q, n_total, target_rank, bin,
       CAST(bin AS DOUBLE) * CAST(5.0 AS DOUBLE) AS bin_lo
FROM hit
"""


def _markov_retract_oracle_sql() -> str:
    """The retraction-aware Markov mirror (watermark-bounded signed event
    buffer in front of the unchanged ordered freeze kernel — see
    incremental_markov_retract's docstring for why transition counts
    alone cannot absorb a deletion) must reproduce the one-shot
    stationary distribution over the SURVIVING (never-cancelled) events
    bitwise; the batch query's SQL restricted to survivors IS the
    oracle."""
    return relational._markov_sql(
        where=f"WHERE event_id % {relational.RETRACT_MOD} <> {relational.RETRACT_RES}"
    )


def _priority_sample_retract_oracle_sql() -> str:
    """The bounded-top-K retraction mirror (per-source top-(K+B) frontier
    with an explicit erosion budget — see
    incremental_priority_sample_retract for why a K-bounded state cannot
    absorb deletions) must reproduce the one-shot priority sample over
    the SURVIVING documents bitwise; the batch query's SQL restricted to
    survivors IS the oracle."""
    return llm._priority_sample_sql(
        where=f"WHERE doc_id % {PRIO_RETRACT_MOD} <> {PRIO_RETRACT_RES}"
    )


def _near_dup_retract_oracle_sql() -> str:
    """Un-ingestion for the dedup stack: kill EDGES (not sets) so a
    deleted survivor's victims are re-elected — see
    incremental_near_dup_retract. The oracle is the batch survivors SQL
    evaluated over the surviving corpus, expressed by shadowing the
    `documents` view with a survivor-filtered CTE (main.documents is the
    schema-qualified base — DuckDB's sanctioned same-name idiom)."""
    shadow = (
        "WITH documents AS (SELECT * FROM main.documents "
        f"WHERE doc_id % {PRIO_RETRACT_MOD} <> {PRIO_RETRACT_RES}), pairs AS"
    )
    return llm._SURVIVORS_SQL.replace("WITH pairs AS", shadow, 1)


def _ann_ingest_oracle_sql() -> str:
    """The maintained NSW graph must equal the one-shot build on the
    union of all batches — the oracle is the same deterministic graph
    CTE chain the ANN search queries replay, emitting the final
    refined edge list (src, dst, e_sim)."""
    ctes = [llm._NSW_WB_CTE] + llm._nsw_graph_ctes("", "wb")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT src, dst, e_sim FROM e{NSW_NND_ROUNDS}"
    )


def _ann_retract_oracle_sql() -> str:
    """The repaired graph must equal the one-shot NSW build over the
    SURVIVING vectors only — the same deterministic CTE chain with the
    deletion set (vec_id % MOD == RES) filtered out of the member table,
    so a deleted vector's crowding-out is undone (re-election) and its
    own edges are gone."""
    wb = f"""wb AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         {lsh_bucket_sql("(embedding::DOUBLE[])", llm.EMB_DIM)} AS bucket
  FROM embeddings
  WHERE vec_id % {PRIO_RETRACT_MOD} != {PRIO_RETRACT_RES})"""
    ctes = [wb] + llm._nsw_graph_ctes("", "wb")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT src, dst, e_sim FROM e{NSW_NND_ROUNDS}"
    )


_SPECS: list[tuple[str, object, object]] = [
    ("stream_late_data_drop", events_stream.late_data_drop_counts, LATE_DROP_SQL),
    ("stream_tumbling_agg", events_stream.tumbling_counts, TUMBLING_SQL),
    ("stream_sliding_agg", events_stream.sliding_counts, SLIDING_SQL),
    ("stream_session_window", events_stream.session_window_counts, SESSION_WINDOW_SQL),
    ("stream_dedup", events_stream.streaming_dedup_count, STREAM_DEDUP_SQL),
    ("stream_dedup_watermark", events_stream.watermarked_dedup_count, DEDUP_WATERMARK_SQL),
    ("stream_foreach_batch_sink", events_stream.foreach_batch_last_state, FOREACH_BATCH_SQL),
    ("stream_static_join", events_stream.stream_static_join_counts, STREAM_STATIC_JOIN_SQL),
    ("stream_stream_join", events_stream.stream_stream_join_pairs, events_stream.STREAM_STREAM_JOIN_SQL),
    ("stream_stateful_user_stats", events_stream.stateful_user_stats, STATEFUL_STATS_SQL),
    ("stream_sessionize_batch", sessionize_events, SESSIONIZE_SQL),
    ("stream_incremental_cms", events_stream.incremental_cms_user_freq, _incremental_cms_sql()),
    ("stream_incremental_near_dup", documents_stream.incremental_near_dup_survivors, TWIN),
    ("stream_incremental_topk", events_stream.incremental_topk_user_value, INCREMENTAL_TOPK_SQL),
    ("stream_incremental_quantile", events_stream.incremental_quantile_value, INCREMENTAL_QUANTILE_SQL),
    ("stream_incremental_repeated_spans", documents_stream.incremental_repeated_spans, TWIN),
    ("stream_incremental_url_dedup", documents_stream.incremental_url_dedup, TWIN),
    ("stream_incremental_semdedup", documents_stream.incremental_semdedup, TWIN),
    ("stream_incremental_bm25", documents_stream.incremental_bm25, TWIN),
    ("stream_incremental_funnel", events_stream.incremental_funnel, TWIN),
    ("stream_incremental_cross_source", documents_stream.incremental_cross_source, TWIN),
    ("stream_incremental_pref_pairs", documents_stream.incremental_preference_pairs, TWIN),
    ("stream_incremental_rfm", orders_stream.incremental_rfm, TWIN),
    ("stream_incremental_token_budget", documents_stream.incremental_token_budget, TWIN),
    ("stream_incremental_gopher", documents_stream.incremental_gopher, TWIN),
    ("stream_incremental_readability", documents_stream.incremental_readability, TWIN),
    ("stream_incremental_pipeline_v2", documents_stream.incremental_pretrain_pipeline, TWIN),
    ("stream_incremental_doremi", documents_stream.incremental_doremi, TWIN),
    ("stream_incremental_calibration", documents_stream.incremental_calibration, TWIN),
    ("stream_incremental_temperature", documents_stream.incremental_temperature, TWIN),
    ("stream_incremental_kneser_ney", documents_stream.incremental_kneser_ney, TWIN),
    ("stream_incremental_heaps", documents_stream.incremental_heaps, TWIN),
    ("stream_incremental_shortest_path", orders_stream.incremental_shortest_path, TWIN),
    ("stream_incremental_quantile_sketch", orders_stream.incremental_quantile_sketch, TWIN),
    ("stream_incremental_kcore", orders_stream.incremental_kcore, TWIN),
    ("stream_incremental_core_numbers", orders_stream.incremental_core_numbers, TWIN),
    ("stream_incremental_two_hop_recs", orders_stream.incremental_two_hop_recs, TWIN),
    ("stream_incremental_kmv", orders_stream.incremental_kmv, TWIN),
    ("stream_incremental_ols", orders_stream.incremental_ols, TWIN),
    ("stream_incremental_bootstrap", orders_stream.incremental_bootstrap, TWIN),
    ("stream_incremental_naive_bayes", documents_stream.incremental_naive_bayes, TWIN),
    ("stream_incremental_dsir", documents_stream.incremental_dsir, TWIN),
    ("stream_incremental_seasonal", orders_stream.incremental_seasonal, TWIN),
    ("stream_incremental_mann_whitney", orders_stream.incremental_mann_whitney, TWIN),
    ("stream_incremental_changepoint", orders_stream.incremental_changepoint, TWIN),
    ("stream_incremental_spearman", orders_stream.incremental_spearman, TWIN),
    ("stream_incremental_acf", orders_stream.incremental_acf, TWIN),
    ("stream_incremental_theil_sen", orders_stream.incremental_theil_sen, TWIN),
    ("stream_incremental_gini", orders_stream.incremental_gini, TWIN),
    ("stream_incremental_kaplan_meier", orders_stream.incremental_kaplan_meier, TWIN),
    ("stream_incremental_burstiness", documents_stream.incremental_burstiness, TWIN),
    ("stream_incremental_kendall", orders_stream.incremental_kendall, TWIN),
    ("stream_incremental_jsd", documents_stream.incremental_jsd, TWIN),
    ("stream_incremental_label_propagation", orders_stream.incremental_label_propagation, TWIN),
    ("stream_incremental_pagerank", orders_stream.incremental_pagerank, TWIN),
    ("stream_incremental_markov", events_stream.incremental_markov, TWIN),
    ("stream_incremental_markov_retract", events_stream.incremental_markov_retract, _markov_retract_oracle_sql()),
    ("stream_incremental_priority_sample_retract", documents_stream.incremental_priority_sample_retract, _priority_sample_retract_oracle_sql()),
    ("stream_incremental_near_dup_retract", documents_stream.incremental_near_dup_retract, _near_dup_retract_oracle_sql()),
    ("stream_incremental_seasonal_retract", orders_stream.incremental_seasonal_retract, relational._seasonal_retract_sql()),
    ("stream_incremental_srp", documents_stream.incremental_srp_near_dup, TWIN),
    ("stream_incremental_isotonic", documents_stream.incremental_isotonic, TWIN),
    ("stream_incremental_priority_sample", documents_stream.incremental_priority_sample, TWIN),
    ("stream_incremental_theil_sen_sampled", orders_stream.incremental_theil_sen_sampled, TWIN),
    ("stream_incremental_kendall_sampled", orders_stream.incremental_kendall_sampled, TWIN),
    ("stream_incremental_quantile_retract", orders_stream.incremental_quantile_retract, relational._quantile_sketch_retract_sql()),
    ("stream_incremental_rfm_retract", orders_stream.incremental_rfm_retract, relational._rfm_retract_sql()),
    ("stream_incremental_shortest_path_retract", orders_stream.incremental_shortest_path_retract, relational._shortest_path_surviving_sql()),
    ("stream_incremental_ann_ingest", documents_stream.incremental_ann_ingest, _ann_ingest_oracle_sql()),
    ("stream_incremental_ann_retract", documents_stream.incremental_ann_retract, _ann_retract_oracle_sql()),
]

if _tws_available():
    _SPECS.append(
        ("stream_transform_with_state", events_stream.transform_with_state_stats, TWS_STATS_SQL)
    )

# A TWIN whose batch twin has no oracle raises KeyError here, at import,
# instead of silently dropping the mirror's oracle.
_BATCH_ORACLES = {**relational.oracles(), **llm.oracles()}
_ORACLES = {
    name: _BATCH_ORACLES[MIRRORS[name]] if sql is TWIN else sql
    for name, _, sql in _SPECS
}


def queries() -> dict:
    return {name: fn for name, fn, _ in _SPECS}


def oracles() -> dict:
    return dict(_ORACLES)
