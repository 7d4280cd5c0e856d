"""Streaming incremental near-duplicate dedup of a document stream.

The rolling-crawl-ingestion flagship: documents arrive in micro-batches;
each batch is MinHash-banded and checked against the ACCUMULATED corpus
state (signature + shingle-set table landed per batch), verified pairs add
their higher-id member to the kill list, and the batch's own state is
appended. Because the staged batches partition the corpus in doc_id order,
every (doc_a < doc_b) verified pair is found exactly once — in doc_b's
batch — so the union of per-batch kills equals the one-shot batch kill
list and the surviving set is BITWISE identical to
``plans.llm.near_dup_survivors``. That batch query's SQL is this query's
oracle.

At 100 TB: per-batch work is (batch bands) ⋈ (corpus bands) — an
equi-join on the band key, never all-pairs; the corpus state is cell-keyed
parquet appended per batch (swap for a table format in production); the
kill list is digest-sized. Nothing reprocesses old raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .events_stream import Landing, fold_stream
from .staging import Batches, replay

# three doc_id terciles in id order: every a<b pair lands in b's batch
DOC_BATCHES = Batches("documents", None, ("rank", ("doc_id",), 3))


def incremental_near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivors after streaming incremental near-dup dedup — bitwise equal
    to the one-shot ``near_dup_survivors`` (its SQL is the oracle)."""
    from ..plans.llm import _band_rows, band_pairs, doc_tbl_from, verified_pairs
    from ..plans.tables import load

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        # land THIS batch's doc table first, then read both sides back from
        # parquet: the expensive shingle explode + aggregate executes exactly
        # once per batch (the write), instead of once per lazy consumer —
        # the batch sibling of _minhash_doc_tbl's persist (its docstring
        # measures the recompute at ~2x runtime).
        st.land("doc_tbl", doc_tbl_from(batch_df))
        batch_tbl = st.current("doc_tbl")
        all_tbl = st.landed("doc_tbl")
        # candidates: any band shared between an incoming doc (b side) and
        # any earlier-id doc already present (corpus or same batch)
        cand = band_pairs(_band_rows(all_tbl), _band_rows(batch_tbl))
        kills = verified_pairs(all_tbl, batch_tbl, cand).select("doc_b").distinct()
        st.land("kills", kills)

    def finish(st: Landing) -> DataFrame:
        kills = st.landed("kills").select(F.col("doc_b").alias("doc_id")).distinct()
        return (
            load(spark, sf_dir, "documents")
            .join(kills, "doc_id", "left_anti")
            .select("doc_id", "lang", "n_chars")
        )

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def incremental_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental URL-canonicalization dedup — bitwise equal to
    the one-shot ``plans.llm.url_dedup`` (its SQL is the oracle).

    The crawl-frontier shape of the incremental-MV family: every
    micro-batch canonicalizes ONLY its own URLs and lands a per-canonical
    partial (crawl count, max doc_id, that max's raw url); the final
    answer is one re-aggregate over the partials. All three outputs are
    distributive (sum of counts, max of maxes, max_by carried through the
    max), so the merge is exact whatever the arrival order — per-batch
    state is canonical-key-sized and old batches are never re-read beyond
    their partial rows. Idempotent under foreachBatch replay via the
    epoch-scoped overwrite discipline shared with the streams above.
    """
    from ..plans.llm import canonical_url, raw_urls_from

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        partial = (
            raw_urls_from(batch_df)
            .select(
                "doc_id", "url", canonical_url(F.col("url")).alias("canonical_url")
            )
            .groupBy("canonical_url")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.max("doc_id").alias("max_doc"),
                F.max_by("url", "doc_id").alias("url_of_max"),
            )
        )
        st.land("partials", partial)

    def finish(st: Landing) -> DataFrame:
        return (
            st.landed("partials")
            .groupBy("canonical_url")
            .agg(
                F.sum("cnt").cast("bigint").alias("n_crawls"),
                F.max("max_doc").alias("kept_doc_id"),
                F.max_by("url_of_max", "max_doc").alias("kept_url"),
            )
        )

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def incremental_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental BM25 index maintenance — bitwise equal to the
    one-shot ``plans.llm.bm25_topk`` (its SQL is the oracle).

    Micro-batches maintain BM25's sufficient statistics and the
    query-term posting slice: per batch, ONE (n_docs, sum_dl) stats
    partial (distributive int64 sums) and the batch's own
    (doc_id, dl, w, tf) postings for the fixed query terms. A document
    lives in exactly one batch, so postings are append-only facts never
    revisited; the int64 stats merge exactly under any arrival order.
    The final answer derives N and avgdl from the merged partials
    (identical cast-then-divide as the batch query), df from the
    accumulated postings, and ranks through the SHARED
    ``bm25_rank_from`` kernel — formula and fold order cannot drift.

    At 100 TB: per-batch state is query-term-posting sized (|terms| x
    docs-containing, never the token stream); old text is never
    re-tokenized — only its posting rows re-aggregate. Epoch-scoped
    overwrite = replay-idempotent like the sibling streams.
    """
    from ..plans.llm import BM25_MAX_ID, BM25_TERMS, bm25_rank_from

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        docs = (
            batch_df.filter(F.col("doc_id") < BM25_MAX_ID)
            .select("doc_id", F.split(F.col("text"), " ").alias("ws"))
            .select("doc_id", F.size("ws").cast("bigint").alias("dl"), "ws")
        )
        stats = docs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sdl"),
        )
        st.land("stats", stats)
        tf = (
            docs.select("doc_id", "dl", F.explode("ws").alias("w"))
            .filter(F.col("w").isin(*BM25_TERMS))
            .groupBy("doc_id", "dl", "w")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        st.land("postings", tf)

    def finish(st: Landing) -> DataFrame:
        merged = st.landed("stats").agg(
            F.sum("sdl").cast("bigint").alias("sdl"),
            F.sum("n").cast("bigint").alias("n"),
        )
        avgdl = merged.select(
            (F.col("sdl").cast("double") / F.col("n").cast("double")).alias("avgdl"),
            F.col("n").cast("double").alias("n_docs"),
        )
        return bm25_rank_from(st.landed("postings"), avgdl)

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


# vec_id % 3 classes arriving 1, 2, 0: a pair's higher id routinely
# arrives first, so the kill logic must be arrival-order independent
EMB_BATCHES = Batches("embeddings", None, ("mod3", ("vec_id",)))


def incremental_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental SemDeDup — bitwise equal to the one-shot
    ``plans.llm.semdedup_cells`` (its SQL is the oracle) under ANY
    arrival order.

    The quantizer is FROZEN up front — the production SemDeDup posture:
    coarse centroids are trained offline and held fixed while data
    streams in. One setup pass computes the deterministic IVF centroids
    and each cell's subcell arity (ceil(|cell|/TARGET), sized from the
    reference corpus) and checkpoints them once. Each micro-batch then assigns
    ONLY its own vectors to (cell, subcell) with the frozen quantizer
    (identical expressions to the batch query, so assignments are
    bitwise the same), lands them in the accumulated store, and checks
    in-subcell pairs between the store and the batch: every epsilon pair
    contributes its HIGHER vec_id to the kill list whichever side of the
    join it arrived on (greatest(a, b), not "the batch member") — so a
    pair flags in the batch where its SECOND member lands, whatever the
    order. The staged batches deliberately interleave vec_id mod 3 to
    exercise exactly that. Kills are append-only and idempotent under
    foreachBatch replay via the epoch-scoped overwrite discipline.

    At 100 TB: per-batch work is (batch rows) ⋈ (store rows) on the
    (cell, subcell) equi-key with in-subcell population capped at the
    quantizer's TARGET, centroids are a broadcast-sized table held for
    the run, and old vectors are never re-scored — only their stored
    (v, nv, cell, subcell) rows join.
    """
    from pyspark.sql import Window as W

    from ..functions.vectors import dot, norm, to_double
    from ..operators.checkpoints import tracked_local_checkpoint
    from ..operators.similarity import ivf_centroids
    from ..plans.llm import (
        EMB_DIM,
        EMB_NEAR_DUP_THRESHOLD,
        SEMDEDUP_TARGET_CELL,
        _SUBCELL_HASH,
    )
    from ..plans.tables import load

    e = load(spark, sf_dir, "embeddings")

    def _assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
        """Nearest-centroid + frozen-arity subcell assignment — the exact
        expression chain of ``plans.llm._semdedup_cell_rows`` (cell_sim =
        dot/(nv·ncent), ties on label; Knuth multiplicative subcell
        hash), so streamed assignments are bitwise the batch query's."""
        corpus = vecs.select(
            "vec_id", to_double(F.col("embedding")).alias("v")
        ).withColumn("nv0", norm(F.col("v")))
        scored = corpus.crossJoin(F.broadcast(cents)).withColumn(
            "cell_sim",
            dot(F.col("v"), F.col("centroid")) / (F.col("nv0") * F.col("ncent")),
        )
        w = W.partitionBy("vec_id").orderBy(F.col("cell_sim").desc(), F.col("label"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "vec_id", "v", F.col("nv0").alias("nv"), F.col("label").alias("cell")
            )
        )

    # setup pass: train + freeze the quantizer (centroids and subcell arity)
    cents, _ = tracked_local_checkpoint(
        ivf_centroids(e, EMB_DIM).withColumn("ncent", norm(F.col("centroid")))
    )
    t = SEMDEDUP_TARGET_CELL
    sizes, _ = tracked_local_checkpoint(
        _assign(e, cents)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("cell_n"))
        .withColumn("n_sub", F.expr(f"(cell_n + {t - 1}) div {t}"))
        .select("cell", "n_sub")
    )

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        assigned = (
            _assign(batch_df, cents)
            .join(F.broadcast(sizes), "cell")
            .withColumn(
                "subcell", F.expr(_SUBCELL_HASH.format(v="vec_id") + " % n_sub")
            )
            .drop("n_sub")
        )
        st.land("state", assigned)
        a, b = st.landed("state").alias("a"), st.current("state").alias("b")
        cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
        kills = (
            a.join(
                b,
                (F.col("a.cell") == F.col("b.cell"))
                & (F.col("a.subcell") == F.col("b.subcell"))
                & (F.col("a.vec_id") != F.col("b.vec_id")),
            )
            .withColumn("cos_sim", F.round(cos, 6))
            .filter(F.col("cos_sim") >= EMB_NEAR_DUP_THRESHOLD)
            .select(F.greatest(F.col("a.vec_id"), F.col("b.vec_id")).alias("vec_id"))
            .distinct()
        )
        st.land("kills", kills)

    def finish(st: Landing) -> DataFrame:
        kills = st.landed("kills").distinct()
        return e.join(kills, "vec_id", "left_anti").select("vec_id", "label")

    return fold_stream(replay(spark, sf_dir, EMB_BATCHES), on_batch, finish)


def _winnow_store_flags(batch_df: DataFrame, st: Landing) -> None:
    """Land THIS batch's winnow fingerprints in the accumulated ``fp`` store
    and its matched-site ``flags`` for the grams it touched — the ONE home
    of the incremental span-dedup step (shared by the standalone mirror and
    the composed pipeline mirror, which must compute the identical matched
    set). Both sites of a late-arriving repeat flag in the later batch,
    so accumulated flags equal the batch query's matched set under ANY
    arrival order; epoch-scoped overwrite = replay-idempotent."""
    from ..plans.llm import winnow_fp_from

    st.land("fp", winnow_fp_from(batch_df))
    touched = st.landed("fp").join(
        st.current("fp").select("h", "gram").distinct(), ["h", "gram"], "leftsemi"
    )
    repeated = (
        touched.groupBy("h", "gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("h", "gram")
    )
    flags = (
        touched.join(repeated, ["h", "gram"], "leftsemi")
        .select("doc_id", "fp_pos")
        .distinct()
    )
    st.land("flags", flags)


def incremental_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental repeated-span detection — bitwise equal to the
    one-shot ``plans.llm.repeated_spans`` (its SQL is the oracle).

    Each micro-batch winnows ONLY its own documents and lands the selected
    fingerprints in the accumulated store; matched sites for grams touched
    by this batch are emitted from (store ∪ batch) — so when doc_b arrives
    repeating doc_a's span, BOTH sites flag in b's batch, and the union of
    per-batch flags equals the batch query's matched-site set whatever the
    arrival order. The final span merge + accounting runs once on the
    accumulated flags via the shared ``repeated_span_accounting`` kernel.

    At 100 TB: per-batch work is (batch grams) ⋈ (store grams) — a
    (h, gram)-keyed aggregate over a semi-joined slice of the store, never
    a rescan of old text; the store is fingerprint rows (~0.4 per gram),
    and flags are (doc_id, pos) pairs. Idempotent under foreachBatch
    replay via epoch-scoped overwrite like the near-dup stream above.
    """
    from ..plans.llm import repeated_span_accounting
    from ..plans.tables import load

    def finish(st: Landing) -> DataFrame:
        docs = load(spark, sf_dir, "documents").select("doc_id", "text")
        return repeated_span_accounting(st.landed("flags").distinct(), docs)

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), _winnow_store_flags, finish)


def incremental_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental cross-source 13-gram overlap — bitwise equal
    to the one-shot ``plans.llm.cross_source_overlap`` (its SQL is the
    oracle), under ANY arrival order.

    Each micro-batch lands ONLY its own DISTINCT (gram, source) rows; the
    accumulated state is the distinct union of the partials — set union is
    idempotent, commutative, and associative, so the merged frame equals
    the batch query's DISTINCT frame whatever the file source's slicing —
    and the pair matrix runs the SAME shared ``cross_source_matrix`` tail
    on it. Per-batch state is (new grams x sources)-sized; history is
    never re-read beyond the partial rows. Idempotent under foreachBatch
    replay via the epoch-scoped overwrite discipline shared with the
    streams above.
    """
    from ..functions.text import exploded_shingles
    from ..plans.llm import CROSS_SOURCE_K, cross_source_matrix

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        partial = (
            exploded_shingles(
                batch_df.select("text", "source"), "text", CROSS_SOURCE_K, "g"
            )
            .select(F.md5("g").alias("g"), "source")
            .distinct()
        )
        st.land("partials", partial)

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        on_batch,
        lambda st: cross_source_matrix(st.landed("partials").distinct()),
    )


def incremental_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental preference-pair maintenance — bitwise equal
    to the one-shot ``plans.llm.preference_pairs`` (its SQL is the
    oracle), under ANY arrival order.

    The lexicographic-struct-extreme case of the incremental-MV family:
    each micro-batch lands per-source partials (count, max/min of the
    (score, -doc_id) key struct); struct MAX/MIN are associative and
    commutative, and counts are sums, so the merged extremes equal the
    one-shot aggregate whatever the slicing — per-batch state is one row
    per touched source. The final margin/gate projection runs on the
    |sources|-sized merged state. Idempotent under foreachBatch replay
    via the epoch-scoped overwrite discipline shared with the streams
    above.
    """
    from ..functions.text import quality_score

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        key = F.struct(
            quality_score(F.col("text")).alias("score"),
            (-F.col("doc_id")).alias("nid"),
        )
        partial = (
            batch_df.select("source", key.alias("k"))
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.max("k").alias("ch"),
                F.min("k").alias("rj"),
            )
        )
        st.land("partials", partial)

    def finish(st: Landing) -> DataFrame:
        merged = (
            st.landed("partials")
            .groupBy("source")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.max("ch").alias("ch"),
                F.min("rj").alias("rj"),
            )
            .filter(F.col("n_docs") >= 2)
        )
        return merged.select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            (-F.col("ch.nid")).cast("bigint").alias("chosen_doc"),
            F.col("ch.score").alias("chosen_score"),
            (-F.col("rj.nid")).cast("bigint").alias("rejected_doc"),
            F.col("rj.score").alias("rejected_score"),
            F.round(F.col("ch.score") - F.col("rj.score"), 6).alias("margin"),
        ).filter(F.col("margin") > 0)

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def incremental_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental token-budget planner — bitwise equal to the
    one-shot ``plans.llm.token_budget_plan`` (its SQL is the oracle).

    The pure integer-weight case of the incremental-MV family: each
    micro-batch lands per-(source, rate ladder) integer partials (doc
    count, token sum); the merge is a sum of sums, and the allocation
    math (weights, epochs) runs on the merged totals via the shared
    ``token_budget_from_per_source`` kernel. Everything before the final
    double division is integer arithmetic, so arrival order provably
    cannot change the plan — the easiest possible mergeability proof,
    which is exactly why the re-aggregate pattern applies unchanged."""
    from ..plans.llm import mixing_rate_tenths, token_budget_from_per_source

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        partial = (
            batch_df.select(
                "source",
                mixing_rate_tenths().alias("rate_tenths"),
                F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
            )
            .groupBy("source", "rate_tenths")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("n_tokens"),
            )
        )
        st.land("partials", partial)

    def finish(st: Landing) -> DataFrame:
        per = (
            st.landed("partials")
            .groupBy("source", "rate_tenths")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            )
        )
        return token_budget_from_per_source(per)

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def _incremental_stateless(spark: SparkSession, sf_dir: str, score_batch) -> DataFrame:
    """Shared shape for PER-DOC STATELESS streaming mirrors (gopher,
    readability): each micro-batch is scored independently with the batch
    kernel and appended as an epoch-scoped partial; the final answer is
    the plain union of partials — no merge step at all, because stateless
    per-row scoring commutes with any partitioning of the stream. The
    trivial end of the incremental-MV spectrum, included so the streaming
    surface spans the whole range: stateless -> integer re-aggregate
    (token budget) -> distributive state + emission recompute (RFM) ->
    cross-batch store joins (repeated spans / semdedup)."""
    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        lambda b, st: st.land("partials", score_batch(b)),
        lambda st: st.landed("partials"),
    )


def incremental_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Gopher rule audit — bitwise equal to plans.llm.gopher_rules
    (its SQL is the oracle); per-doc stateless, so batch outputs union."""
    from ..plans.llm import gopher_rules_from

    return _incremental_stateless(spark, sf_dir, gopher_rules_from)


def incremental_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming readability scoring — bitwise equal to
    plans.llm.readability_score (its SQL is the oracle)."""
    from ..plans.llm import readability_from

    return _incremental_stateless(spark, sf_dir, readability_from)


def incremental_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental classifier-calibration audit — bitwise equal
    to the one-shot ``plans.llm.classifier_calibration`` (its SQL is the
    oracle).

    Both scorers are per-doc STATELESS (the hashing-trick weights are a
    deterministic constant; the Gopher rules are structural), so each
    micro-batch lands its (doc_id, clf_score, label) rows and the global
    reliability deciles + ECE re-aggregate at emission through the shared
    ``calibration_from`` tail — the diagram is corpus-global (bin means
    and the ECE weights shift with every batch), which is exactly why the
    emission recompute over per-doc partial ROWS (never raw text) is the
    right split. Epoch-scoped overwrite = replay-idempotent."""
    from ..plans.llm import (
        calibration_from,
        feature_hashing_from,
        gopher_rules_from,
    )

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        clf = feature_hashing_from(batch_df).select("doc_id", "clf_score")
        gop = gopher_rules_from(batch_df).select(
            "doc_id", F.col("passes").cast("bigint").alias("label")
        )
        st.land("scored", clf.join(gop, "doc_id"))

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        on_batch,
        lambda st: calibration_from(st.landed("scored")),
    )


def incremental_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental Kneser-Ney LM scoring — bitwise equal to the
    one-shot ``plans.llm.lm_kneser_ney`` (its SQL is the oracle).

    The corpus-global-LM case (the doremi posture): each micro-batch
    lands its positional bigram stream (tokenize once; raw text never
    re-read); because ALL FIVE KN count tables — bigram, context, the two
    continuation-TYPE tables, total bigram types — are integer aggregates
    of the merged stream, per-doc scores are only final when the stream
    drains, so emission re-aggregates and scores through the shared
    ``lm_kn_from_pairs`` kernel; every fold inside it is position-pinned,
    so arrival order cannot move a perplexity."""
    from ..plans.llm import lm_bigram_pairs, lm_kn_from_pairs

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        lambda b, st: st.land("pairs", lm_bigram_pairs(b.select("doc_id", "text"))),
        lambda st: lm_kn_from_pairs(st.landed("pairs")),
    )


def incremental_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental Heaps'-law fit — bitwise equal to the
    one-shot ``plans.llm.heaps_law_fit`` (its SQL is the oracle).

    Each micro-batch lands two partial families: per-doc (doc_id, n_tok)
    token counts (doc ids are unique, so the merge is plain union) and a
    per-batch (w, min doc_id) first-occurrence table — MIN is
    associative/commutative, so merging batch minima by MIN equals the
    corpus minimum under ANY arrival order. Emission pushes the merged
    partials through the shared ``heaps_fit_from`` tail (boundaries come
    from the merged max doc_id, so checkpoints are final only when the
    stream drains — the corpus-global posture). Raw text is tokenized
    once; state is doc-count + vocabulary sized, never re-read."""
    from ..plans.llm import heaps_fit_from

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        b = batch_df.select(
            "doc_id",
            F.filter(F.split("text", " "), lambda x: F.length(x) > 0).alias("ws"),
        )
        st.land("docs", b.select("doc_id", F.size("ws").cast("bigint").alias("n_tok")))
        st.land(
            "first",
            b.select("doc_id", F.explode("ws").alias("w"))
            .groupBy("w")
            .agg(F.min("doc_id").alias("fd")),
        )

    def finish(st: Landing) -> DataFrame:
        first = st.landed("first").groupBy("w").agg(F.min("fd").alias("fd"))
        return heaps_fit_from(st.landed("docs"), first)

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def incremental_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental temperature-scaling fit — bitwise equal to
    the one-shot ``plans.llm.temperature_scaling`` (its SQL is the
    oracle).

    The strongest member of the incremental-MV family: because the batch
    query's per-doc doubles are quantized to fixed-point BIGINT units
    BEFORE aggregation, each micro-batch lands <=80 (t, bin) integer
    partial rows (not per-doc rows) and emission is a sum-of-sums merge
    through the shared ``temperature_finish`` tail — exact integer
    addition is order-free, so arrival order provably cannot move the
    fitted temperature. State is O(|grid| x bins) per batch, independent
    of corpus size; raw text is read once."""
    from ..plans.llm import (
        feature_hashing_from,
        gopher_rules_from,
        temperature_bin_partials,
        temperature_finish,
    )

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        clf = feature_hashing_from(batch_df).select("doc_id", "clf_score")
        gop = gopher_rules_from(batch_df).select(
            "doc_id", F.col("passes").cast("bigint").alias("label")
        )
        st.land("partials", temperature_bin_partials(clf.join(gop, "doc_id")))

    def finish(st: Landing) -> DataFrame:
        merged = (
            st.landed("partials")
            .groupBy("t", "bin")
            .agg(
                F.sum("n_docs").cast("bigint").alias("n_docs"),
                F.sum("p_u").cast("bigint").alias("p_u"),
                F.sum("n_pass").cast("bigint").alias("n_pass"),
                F.sum("nll_u").cast("bigint").alias("nll_u"),
            )
        )
        return temperature_finish(merged)

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def incremental_doremi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental DoReMi domain reweighting — bitwise equal to
    the one-shot ``plans.llm.doremi_weights`` (its SQL is the oracle).

    The corpus-global-LM case of the incremental-MV family, sharing the
    composed pipeline's posture: each micro-batch lands its positional
    bigram stream (tokenize once) plus a (doc_id, source) map; because the
    LM tables are corpus-global, per-doc xent is only final when the
    stream drains, so emission re-aggregates the integer n-gram tables
    from the merged stream and runs the shared ``lm_logprob_from_pairs``
    + ``doremi_from`` kernels — every fold inside them is pinned, so
    arrival order cannot move a weight. State is posting-sized partials;
    raw text is never re-read."""
    from ..plans.llm import doremi_from, lm_bigram_pairs, lm_logprob_from_pairs

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        st.land("pairs", lm_bigram_pairs(batch_df.select("doc_id", "text")))
        st.land("src", batch_df.select("doc_id", "source"))

    def finish(st: Landing) -> DataFrame:
        lm = lm_logprob_from_pairs(st.landed("pairs")).select("doc_id", "xent")
        return doremi_from(lm, st.landed("src"))

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def incremental_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental mirror of the COMPOSED curation stack — bitwise
    equal to the one-shot ``plans.llm.pretrain_pipeline_v2`` (its SQL is the
    oracle): URL dedup -> Gopher gate -> LM cross-entropy gate -> repeated-
    span drop -> survivor-distribution temperature sampling -> release
    accounting, maintained incrementally across micro-batches.

    Each stage lands exactly the partial its standalone mirror established:
    - URL keeps: per-canonical (max doc_id) partials — max of maxes.
    - Gopher passes: stateless per-doc flags, plain union.
    - LM gate: the batch's positional bigram stream (tokenize once — the
      bm25-postings discipline: raw text is never re-tokenized); the global
      bigram/context/V tables re-aggregate from the merged stream at
      emission time, because a corpus-global LM changes with EVERY batch —
      per-doc xent is only final once the stream is drained, so scoring
      runs once, on merged integer tables, through the shared
      ``lm_logprob_from_pairs`` kernel.
    - Repeated spans: winnow fingerprints into the accumulated store,
      matched-site flags emitted per batch (both sites flag in the later
      batch — arrival-order-free, as incremental_repeated_spans proves).
    - Doc meta: (doc_id, lang, n_words) so emission-time accounting never
      re-reads text.
    The composition itself adds NO new merge math: the gates are id-keyed
    semi/anti joins of the merged keep/drop sets, and the release tail is
    the shared ``pretrain_release_accounting`` kernel (counts + int64 sums,
    order-free by construction). Idempotent under foreachBatch replay via
    the epoch-scoped overwrite discipline shared with the sibling streams.

    At 100 TB: per-batch work is the batch's own tokenize/winnow plus
    (batch grams) ⋈ (store grams); state is posting/fingerprint/meta rows,
    never raw text; emission re-aggregates tables that are distinct-gram-
    sized, not corpus-sized."""
    from ..functions.text import word_count
    from ..plans.llm import (
        PIPE2_MAX_REPEATED,
        XENT_MAX,
        canonical_url,
        gopher_rules_from,
        lm_bigram_pairs,
        lm_logprob_from_pairs,
        pretrain_release_accounting,
        raw_urls_from,
        repeated_span_accounting_words,
    )

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        urls = (
            raw_urls_from(batch_df)
            .select("doc_id", canonical_url(F.col("url")).alias("canonical_url"))
            .groupBy("canonical_url")
            .agg(F.max("doc_id").alias("max_doc"))
        )
        st.land("urls", urls)
        gop = (
            gopher_rules_from(batch_df)
            .filter(F.col("passes") == 1)
            .select("doc_id")
        )
        st.land("gopher", gop)
        st.land("pairs", lm_bigram_pairs(batch_df.select("doc_id", "text")))
        # repeated-span store + per-batch matched-site flags — the shared
        # incremental span-dedup step (one home with the standalone mirror)
        _winnow_store_flags(batch_df, st)
        meta = batch_df.select(
            "doc_id", "lang", word_count(F.col("text")).alias("n_words")
        )
        st.land("meta", meta)

    def finish(st: Landing) -> DataFrame:
        url_keep = (
            st.landed("urls")
            .groupBy("canonical_url")
            .agg(F.max("max_doc").alias("doc_id"))
            .select("doc_id")
        )
        ppl = (
            lm_logprob_from_pairs(st.landed("pairs"))
            .filter(F.col("xent") <= XENT_MAX)
            .select("doc_id")
        )
        meta = st.landed("meta")
        heavy = (
            repeated_span_accounting_words(
                st.landed("flags").distinct(),
                meta.select("doc_id", F.col("n_words").alias("doc_words")),
            )
            .filter(F.col("repeated_frac") > PIPE2_MAX_REPEATED)
            .select("doc_id")
        )
        surv = (
            meta.join(url_keep, "doc_id", "leftsemi")
            .join(st.landed("gopher"), "doc_id", "leftsemi")
            .join(ppl, "doc_id", "leftsemi")
            .join(heavy, "doc_id", "left_anti")
        )
        return pretrain_release_accounting(
            surv.select("doc_id", "lang", F.col("n_words").alias("n_tok"))
        )

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def incremental_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-retraining streaming Naive Bayes — bitwise equal to
    the one-shot ``plans.llm.naive_bayes_langid`` (its SQL is the oracle).

    The classifier mirror the counting-model family makes possible: the
    MODEL is integer count tables (per-class token counts, class doc
    counts) and the EVAL side is per-doc token counts — all three are
    distributive, so each micro-batch lands its partials and the model
    retrains exactly at every emission by BIGINT merge. The confusion
    matrix is corpus-global twice over (every batch moves the model AND
    adds held-out docs; a later train batch can flip an earlier doc's
    argmax), so emission reruns the shared model-build + scoring kernel
    over merged partials — over token-count ROWS, never raw text.
    Epoch-scoped overwrite = replay-idempotent."""
    from ..plans.llm import nb_confusion_from_partials, nb_partials

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        cnt, cls, qtok = nb_partials(batch_df.select("doc_id", "lang", "text"))
        st.land("cnt", cnt)
        st.land("cls", cls)
        st.land("qtok", qtok)

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        on_batch,
        lambda st: nb_confusion_from_partials(
            st.landed("cnt"), st.landed("cls"), st.landed("qtok")
        ),
    )


def incremental_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental token burstiness — bitwise equal to the
    one-shot ``plans.llm.token_burstiness`` (its SQL is the oracle).
    A document lives wholly in one micro-batch, so the per-token
    (df, Σc, Σc²) vocab moments and the doc count are plain BIGINT
    partials; the VMR and the top-K cutoff are corpus-global (a later
    batch can evict a token from the top-K), so emission reruns the
    shared merge + rank tail."""
    from ..plans.llm import burstiness_from_partials, burstiness_partials

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        voc, nd = burstiness_partials(batch_df.select("doc_id", "text"))
        st.land("voc", voc)
        st.land("nd", nd)

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        on_batch,
        lambda st: burstiness_from_partials(st.landed("voc"), st.landed("nd")),
    )


def incremental_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental source-pair JSD matrix — bitwise equal to
    the one-shot ``plans.llm.source_jsd_matrix`` (its SQL is the
    oracle). Per-batch (source, token) counts are plain BIGINT partials;
    every distribution, the shared-token set, AND the exact correction
    term move with each batch, so emission reruns the shared
    decomposition over the merged count tables — over COUNT ROWS, never
    raw text (the nb_partials posture)."""
    from ..plans.llm import jsd_from_counts, jsd_token_partial

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        lambda b, st: st.land("counts", jsd_token_partial(b.select("source", "text"))),
        lambda st: jsd_from_counts(st.landed("counts")),
    )


def incremental_srp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental SRP cosine-LSH near-dup — bitwise equal to
    the one-shot ``plans.llm.srp_near_dup`` (its SQL is the oracle),
    completing the every-blocker-has-a-mirror story (minhash has
    incremental_near_dup_survivors; SRP gets the same shape).

    SRP's state story is the friendliest in the blocker family: the
    signature is PER-DOC STATELESS (md5 hyperplane parities of the
    doc's own hashed count vector — no corpus statistics), so each doc
    computes its bands and sparse bucket counts EXACTLY ONCE, in its
    arrival batch. State = the landed (doc_id, band, key) band rows +
    (doc_id, b, c) bucket counts. Per batch, candidates are the
    band-keyed equi-join of the BATCH's band rows against ALL landed
    rows (id-ordered staging makes every a<b pair land in b's batch,
    the minhash mirror's discipline), verified by the exact integer-dot
    cosine against landed bucket counts — new docs only ever join, the
    corpus is never re-paired. Epoch-scoped overwrite keeps every write
    replay-idempotent.

    At 100 TB: per-batch work is batch-sized × bucket-collision-sized;
    state grows linearly in docs (the signature table a production
    deployment materializes anyway)."""
    from ..plans.llm import (
        SRP_COS_MIN,
        _srp_band_rows,
        _srp_bucket_counts,
        band_pairs,
    )

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        st.land("per", _srp_bucket_counts(batch_df.select("doc_id", "text")))
        st.land("bands", _srp_band_rows(st.current("per")))
        bands_b = st.current("bands")
        bands_all = st.landed("bands")
        per_all = st.landed("per")
        cand = band_pairs(bands_all, bands_b)
        ssq = per_all.groupBy("doc_id").agg(
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("ssq")
        )
        pa = per_all.select(
            F.col("doc_id").alias("doc_a"), "b", F.col("c").alias("ca")
        )
        pb = per_all.select(
            F.col("doc_id").alias("doc_b"), "b", F.col("c").alias("cb")
        )
        dots = (
            cand.join(pa, "doc_a")
            .join(pb, ["doc_b", "b"])
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dot"))
        )
        cos = F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("ssq_a").cast("double"))
                * F.sqrt(F.col("ssq_b").cast("double"))
            ),
            6,
        )
        verified = (
            dots.join(
                ssq.select(
                    F.col("doc_id").alias("doc_a"), F.col("ssq").alias("ssq_a")
                ),
                "doc_a",
            )
            .join(
                ssq.select(
                    F.col("doc_id").alias("doc_b"), F.col("ssq").alias("ssq_b")
                ),
                "doc_b",
            )
            .withColumn("cos_sim", cos)
            .filter(F.col("cos_sim") >= F.lit(SRP_COS_MIN))
            .select("doc_a", "doc_b", "cos_sim")
        )
        st.land("pairs", verified)

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        on_batch,
        lambda st: st.landed("pairs").distinct().orderBy("doc_a", "doc_b"),
    )


def incremental_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental isotonic calibration — bitwise equal to the
    one-shot ``plans.llm.isotonic_calibration`` (its SQL is the oracle).
    Both scorers are per-doc stateless, so each micro-batch lands ≤
    ISO_BINS (bin, n, s) INTEGER partial rows (never per-doc rows — the
    temperature mirror's discipline); partials merge by exact addition,
    and emission runs the shared minimax tail over the merged bins-sized
    frame. The fit is corpus-global (pooling can reach across the whole
    score range), which is exactly why emission recomputes over the
    merged BINS, never raw text."""
    from ..plans.llm import (
        feature_hashing_from,
        gopher_rules_from,
        isotonic_bin_partials,
        isotonic_from_bins,
    )

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        clf = feature_hashing_from(batch_df).select("doc_id", "clf_score")
        gop = gopher_rules_from(batch_df).select(
            "doc_id", F.col("passes").cast("bigint").alias("label")
        )
        st.land("bins", isotonic_bin_partials(clf.join(gop, "doc_id")))

    def finish(st: Landing) -> DataFrame:
        merged = (
            st.landed("bins")
            .groupBy("bin")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("s").cast("bigint").alias("s"),
            )
        )
        return isotonic_from_bins(merged)

    return fold_stream(replay(spark, sf_dir, DOC_BATCHES), on_batch, finish)


def incremental_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental weighted priority sample — bitwise equal to
    the one-shot ``plans.llm.priority_sample`` (its SQL is the oracle).

    Priority sampling is MERGEABLE BY CONSTRUCTION: a doc's quantized
    priority w·2^32 // u is intrinsic to the row (no corpus statistics),
    so the global per-source top-K is the top-K of the union of
    per-batch top-Ks — each micro-batch lands at most |sources|·K
    candidate rows (a bounded keyed sketch, the smallest state any exact
    top-K can carry), and emission re-ranks the concatenated candidates.
    A doc outside its batch's top-K can never enter the global top-K,
    so dropping it at batch time is lossless."""
    from pyspark.sql import Window

    from ..plans.llm import PRIO_K, PRIO_SCALE
    from ..plans.relational import _kmv_u32

    def _batch_topk(df: DataFrame) -> DataFrame:
        u = (_kmv_u32(F.col("doc_id").cast("string")) + F.lit(1)).cast("bigint")
        keyed = df.select("doc_id", "source", "n_chars", u.alias("u")).select(
            "*",
            F.expr(f"(n_chars * CAST({PRIO_SCALE} AS BIGINT)) DIV u").alias(
                "priority_q"
            ),
        )
        rn = F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("priority_q").desc(), F.col("doc_id").asc()
            )
        )
        return (
            keyed.select("source", "doc_id", "n_chars", "priority_q", rn.alias("rn"))
            .filter(F.col("rn") <= PRIO_K)
            .drop("rn")
        )

    def finish(st: Landing) -> DataFrame:
        rn = F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("priority_q").desc(), F.col("doc_id").asc()
            )
        ).cast("bigint")
        return (
            st.landed("topk")
            .select("source", "doc_id", "n_chars", "priority_q", rn.alias("rank"))
            .filter(F.col("rank") <= PRIO_K)
            .orderBy("source", "rank")
        )

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        lambda b, st: st.land(
            "topk", _batch_topk(b.select("doc_id", "source", "n_chars"))
        ),
        finish,
    )


# ---------------------------------------------------------------------------
# Retraction-aware priority sample (round 12): the ORDER-STATISTIC
# retraction shape — deletion erodes a bounded top-K frontier, the one
# failure mode signed sums (scalar/keyed/graph/calendar retract mirrors)
# and the watermark buffer (sequence retract mirror) never face.

# documents tombstone set: doc_id % 7 == 3. Deliberately NOT the orders
# RETRACT_MOD discipline (doc_id % 10) — the lake assigns source =
# f"src{doc_id % 20}", so any modulus sharing a factor with 20 deletes
# entire sources (doc_id%10==7 erases src7/src17 wholesale); 7 is coprime
# with 20 and spreads deletions uniformly across sources.
PRIO_RETRACT_MOD = 7
PRIO_RETRACT_RES = 3
# frontier erosion budget B: the state keeps top-(K+B) per source, so it
# survives up to B deletions per source that hit the kept set; the
# (B+1)-th is a DETECTED contract violation (ValueError), mirroring the
# markov-retract watermark discipline.
#
# SIZED, not guessed (tools/prio_erosion_probe.py replays the exact staged
# schedule through priority_retract_update and reports the x distribution):
# measured max erosion per source is 3 at sf0.001/sf0.01 and 10 at sf0.1 —
# the SATURATED regime, where docs-per-source >> K+B and erosion stops
# depending on corpus size: only late-parity tombstones (half the
# schedule's 1/7 deletion set) can erode, so per epoch each kept slot
# erodes w.p. ~1/14 and x ~ sum over the 3 staged epochs of
# Binomial(K+B, 1/14) — mean ~8.6, sd ~2.8 at saturation; the observed
# sf0.1 max of 10 sits on that mean and the 20-source max-tail stays
# under ~15. B = 20 = measured saturated worst case x2 margin; growing
# the BATCH COUNT (not the corpus) is what would require resizing, at
# ~(K+B)/14 per extra mutable epoch.
PRIO_RETRACT_B = 20

# EARLY tombstones exercise the pending-tombstone path, LATE ones the
# frontier-erosion path
PRIO_RETRACT_BATCHES = Batches(
    "documents",
    ("doc_id", "source", "n_chars"),
    ("adversarial", ("doc_id",), 3, PRIO_RETRACT_MOD, PRIO_RETRACT_RES),
)


def priority_retract_update(
    prev_kept: DataFrame | None,
    prev_pend: DataFrame | None,
    prev_x: DataFrame | None,
    batch: DataFrame,
    k_plus_b: int,
) -> tuple:
    """The retraction sampler's per-epoch kernel, module-level so the
    frontier-erosion and pending-tombstone pytests can drive it with a
    tiny K. State: per source the top-(K+B) SURVIVING arrived docs by
    quantized priority (`kept`), the outstanding tombstones whose insert
    has not arrived (`pend`), and the per-source count of deletions that
    hit the kept set (`x` — the erosion tally).

    Why K+B suffices (the invariant the pytest pins): after x deletions
    have hit the kept set, it still contains the top-(K+B−x) of all
    arrived surviving docs — trimming only ever drops rows ranked past
    K+B, a new arrival that belongs to the surviving top-(K+B−x) always
    survives the trim, and a state-hitting deletion shrinks the
    guarantee by exactly one. So the final top-K is exact while x ≤ B.
    A deletion of a NON-kept doc is provably irrelevant: at its trim (or
    cancellation) time ≥ K+B−x survivors outranked it, and at most B−x
    future erosions can remove outrankers, leaving ≥ K — it could never
    re-enter the answer. Deletions of kept docs beyond B are DETECTED
    (caller raises), not silently wrong.

    Tombstone-before-insert parks in `pend` and cancels the insert on
    arrival (no erosion — the doc never occupies state). A tombstone for
    an already-trimmed doc stays in `pend` forever — harmless by the
    irrelevance argument, and bounded by the deletion contract; a real
    deployment ages these out with the same watermark the markov-retract
    buffer uses.

    Returns (kept, pend, x)."""
    from pyspark.sql import Window

    from ..plans.llm import PRIO_SCALE
    from ..plans.relational import _kmv_u32

    s = batch.sparkSession
    if prev_kept is None:
        prev_kept = s.createDataFrame(
            [], "source string, doc_id bigint, n_chars bigint, priority_q bigint"
        )
    if prev_pend is None:
        prev_pend = s.createDataFrame([], "doc_id bigint")
    if prev_x is None:
        prev_x = s.createDataFrame([], "source string, x bigint")
    ins = batch.filter(F.col("sign") == 1).select("doc_id", "source", "n_chars")
    dels = batch.filter(F.col("sign") == -1).select("doc_id", "source")
    dead = dels.select("doc_id").unionByName(prev_pend).distinct()
    ins_live = ins.join(dead, "doc_id", "left_anti")
    u = (_kmv_u32(F.col("doc_id").cast("string")) + F.lit(1)).cast("bigint")
    keyed = ins_live.select("source", "doc_id", "n_chars", u.alias("u")).select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(f"(n_chars * CAST({PRIO_SCALE} AS BIGINT)) DIV u").alias(
            "priority_q"
        ),
    )
    hits = (
        prev_kept.join(dels.select("doc_id"), "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    kept_base = prev_kept.join(dels.select("doc_id"), "doc_id", "left_anti")
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("priority_q").desc(), F.col("doc_id").asc()
        )
    )
    kept = (
        kept_base.unionByName(keyed)
        .select("source", "doc_id", "n_chars", "priority_q", rn.alias("rn"))
        .filter(F.col("rn") <= k_plus_b)
        .drop("rn")
    )
    pend = (
        prev_pend.join(ins.select("doc_id"), "doc_id", "left_anti")
        .unionByName(
            dels.select("doc_id")
            .join(prev_kept.select("doc_id"), "doc_id", "left_anti")
            .join(ins.select("doc_id"), "doc_id", "left_anti")
        )
        .distinct()
    )
    x = (
        prev_x.unionByName(hits)
        .groupBy("source")
        .agg(F.sum("x").cast("bigint").alias("x"))
    )
    return kept, pend, x


def incremental_priority_sample_retract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RETRACTION-AWARE streaming priority sample — bitwise equal to the
    one-shot ``plans.llm.priority_sample`` over the SURVIVING
    (never-deleted) documents (that batch SQL, survivor-filtered, is the
    oracle).

    The new retraction shape this closes (SURVEY round-12): bounded
    top-K state under deletion. The insert-only mirror keeps |sources|·K
    rows because a doc outside the top-K can never ENTER it; a deletion
    breaks exactly that — removing a kept doc must PROMOTE the next
    contender, which a K-bounded state has already discarded. The
    resolution is a per-source ERROR BUDGET: keep top-(K+PRIO_RETRACT_B)
    survivors, absorb up to B kept-set deletions per source (each
    consumes one buffer slot of guarantee — see
    ``priority_retract_update`` for the invariant), detect the (B+1)-th
    as a contract violation instead of emitting a silently-wrong sample.
    Deletions may arrive before their insert (pending-tombstone state)
    or after; both directions are exercised by the staged schedule.

    At 100 TB: state is |sources|·(K+B) rows plus the outstanding
    tombstone set (bounded by the deletion contract) plus |sources|
    erosion counters — independent of corpus size; under
    transformWithState the kept set is a per-source bounded ListState
    and the pending set a MapState with watermark-aged eviction."""
    from pyspark.sql import Window

    from ..plans.llm import PRIO_K

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        kept, pend, x = priority_retract_update(
            st.latest("kept"),
            st.latest("pend"),
            st.latest("x"),
            batch_df.select("doc_id", "source", "n_chars", "sign"),
            PRIO_K + PRIO_RETRACT_B,
        )
        over = x.filter(F.col("x") > PRIO_RETRACT_B).count()
        if over:
            raise ValueError(
                f"priority_retract erosion budget exhausted: {over} "
                f"source(s) exceeded B={PRIO_RETRACT_B} kept-set deletions"
            )
        st.land("kept", kept)
        st.land("pend", pend)
        st.land("x", x)

    def finish(st: Landing) -> DataFrame:
        rank = F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("priority_q").desc(), F.col("doc_id").asc()
            )
        ).cast("bigint")
        return (
            st.latest("kept")
            .select("source", "doc_id", "n_chars", "priority_q", rank.alias("rank"))
            .filter(F.col("rank") <= PRIO_K)
            .orderBy("source", "rank")
        )

    return fold_stream(replay(spark, sf_dir, PRIO_RETRACT_BATCHES), on_batch, finish)


# ---------------------------------------------------------------------------
# Retraction-aware near-dup dedup (round 12): un-ingestion for the dedup
# stack itself — the GDPR-shaped requirement that deleting a document also
# updates DEDUP state, because a deleted survivor's kill decisions must
# not outlive it.

# the priority mirror's source-uniform deletion set: EARLY tombstones
# exercise the never-ingest path, LATE ones the kill-then-void path
ND_RETRACT_BATCHES = Batches(
    "documents",
    ("doc_id", "text", "lang", "n_chars"),
    ("adversarial", ("doc_id",), 3, PRIO_RETRACT_MOD, PRIO_RETRACT_RES),
)

ND_COMPACT_EVERY = 2  # fold the batch-partial prefix every N epochs


def compact_dead_state(
    spark: SparkSession,
    state_dir: str,
    dead: DataFrame,
    epoch: int,
    anti_cols: tuple[str, ...] = ("doc_id",),
) -> None:
    """Tombstone compaction for DEAD-SET state (the anti-join sibling of
    orders_stream.compact_signed_state): fold every landed batch partial
    into one file, PHYSICALLY DROPPING rows whose id in any ``anti_cols``
    column is dead. Soundness needs only monotonicity: docs never
    resurrect, so a dead-keyed row is permanently void (a dead killer's
    edges can never re-arm; a dead doc's signatures can never match a
    future arrival the emission would count) and dropping it can never
    change the merge.

    Crash/replay discipline — STRONGER than the signed compactor's,
    because this state is SET-semantic (rows are facts, duplicates
    collapse under the fold's dropDuplicates and the consumers'
    distinct(), unlike signed sums where a double-counted row is wrong):
    the fold lands under a fresh nonce dir name (``batch={epoch}f<hex>``
    — never a replayable integer epoch, so a foreachBatch replay of the
    compaction epoch can overwrite its own partial without touching the
    fold) BEFORE the source dirs are removed. Every crash point leaves a
    glob whose union is row-equal to the state: old dirs only, old dirs
    plus the fold (duplicates — collapsed at the next fold/consumer), or
    the fold only. A replayed compaction folds the leftover fold together
    with the replayed partial into a new nonce dir and clears the rest.
    After compaction the state is surviving-rows-sized instead of
    sum-of-batch-partials-sized — the measured form of the 'dropped at
    the compaction boundary' claim."""
    import glob
    import os
    import shutil
    import uuid as _uuid

    dirs = sorted(glob.glob(f"{state_dir}/batch=*"))
    if len(dirs) < 2:
        return
    kept = spark.read.parquet(*dirs)
    cols = kept.columns  # using-column joins reorder; restore below
    for c in anti_cols:
        kept = kept.join(
            dead.select(F.col("doc_id").alias(c)), c, "left_anti"
        )
    kept = kept.select(*cols).dropDuplicates()
    tmp = f"{state_dir}.compact_tmp"
    kept.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, f"{state_dir}/batch={epoch}f{_uuid.uuid4().hex[:8]}")
    for d_ in dirs:
        shutil.rmtree(d_, ignore_errors=True)


def incremental_near_dup_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION-AWARE streaming near-dup dedup — bitwise equal to the
    one-shot ``near_dup_survivors`` over the SURVIVING (never-deleted)
    documents (that SQL, survivor-restricted, is the oracle).

    Why deletion is a first-class dedup problem: the min-id survivor rule
    means a deleted SURVIVOR's victims must be RE-ELECTED — doc X killed
    doc Y, X is un-ingested, so Y must come back unless another surviving
    earlier doc also matches it. A kill SET cannot express that; the
    state must keep kill EDGES (doc_a, doc_b), and emission voids every
    edge whose killer is dead. The insert-only mirror's discovery
    invariant survives deletion untouched: a pair of FINALLY-SURVIVING
    docs (a < b) is discovered exactly once, at b's arrival, because a
    surviving killer's signature was necessarily still in state then —
    deletions only ever VOID edges, never create them (a tombstone that
    precedes its insert simply keeps the doc out of the signature state,
    which is also what the survivor-restricted oracle sees).

    Per epoch: cumulative dead set += batch tombstones; batch inserts
    already dead are dropped (never-ingest path); the batch's doc table
    lands; candidates join the batch against ALL landed signatures MINUS
    the dead (a deleted doc stops killing future arrivals immediately);
    verified J >= NEAR_DUP_JACCARD_MIN pairs land as edges. Emission:
    survivors = (documents − dead) anti-join {doc_b of edges whose doc_a
    is not dead}. The resurrection pytest pins a real victim whose only killer
    is deleted.

    At 100 TB: dead set is deletion-contract-sized; dead docs' signature
    rows and edges are anti-joined at use AND physically dropped every
    ND_COMPACT_EVERY epochs by ``compact_dead_state`` (write-new → swap
    → drop, the signed compactor's crash discipline), so state is
    surviving-rows-sized; everything else is the insert-only mirror's
    banded state."""
    from ..plans.llm import _band_rows, band_pairs, doc_tbl_from, verified_pairs
    from ..plans.tables import load

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        prev_dead = st.latest("dead")
        if prev_dead is None:
            prev_dead = spark.createDataFrame([], "doc_id bigint")
        st.land(
            "dead",
            prev_dead.unionByName(
                batch_df.filter(F.col("sign") == -1).select("doc_id")
            ).distinct(),
        )
        dead = st.current("dead")
        ins = (
            batch_df.filter(F.col("sign") == 1)
            .select("doc_id", "text", "lang", "n_chars")
            .join(dead, "doc_id", "left_anti")
        )
        st.land("doc_tbl", doc_tbl_from(ins))
        batch_tbl = st.current("doc_tbl")
        all_tbl = st.landed("doc_tbl").join(dead, "doc_id", "left_anti")
        cand = band_pairs(_band_rows(all_tbl), _band_rows(batch_tbl))
        edges = verified_pairs(all_tbl, batch_tbl, cand).select("doc_a", "doc_b")
        st.land("edges", edges)
        if st.epoch % ND_COMPACT_EVERY == 1:
            compact_dead_state(spark, st.path("doc_tbl"), dead, st.epoch)
            compact_dead_state(
                spark, st.path("edges"), dead, st.epoch, anti_cols=("doc_a", "doc_b")
            )

    def finish(st: Landing) -> DataFrame:
        dead = st.latest("dead")
        docs = load(spark, sf_dir, "documents").join(dead, "doc_id", "left_anti")
        live_kills = (
            st.landed("edges")
            .join(dead.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_anti")
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        return docs.join(live_kills, "doc_id", "left_anti").select(
            "doc_id", "lang", "n_chars"
        )

    return fold_stream(replay(spark, sf_dir, ND_RETRACT_BATCHES), on_batch, finish)


def incremental_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-retraining streaming DSIR — bitwise equal to the
    one-shot ``plans.llm.dsir_weights`` (its SQL is the oracle).

    The importance-resampling mirror the counting-model family makes
    possible: the MODEL is two integer bucket-count tables (target and
    raw hashed-bigram distributions) and the EVAL side is per-doc bucket
    counts — all distributive, so each micro-batch lands its
    ``dsir_feats`` partials and the model re-estimates exactly at every
    emission by BIGINT merge. Every landed doc's weight is corpus-global
    (BOTH distributions move with each batch), so emission reruns the
    shared ``dsir_from_feats`` kernel over merged partials — over COUNT
    ROWS, never raw text (the nb_partials posture). Epoch-scoped
    overwrite = replay-idempotent."""
    from ..plans.llm import dsir_feats, dsir_from_feats

    return fold_stream(
        replay(spark, sf_dir, DOC_BATCHES),
        lambda b, st: st.land(
            "feats", dsir_feats(b.select("doc_id", "source", "text"))
        ),
        lambda st: dsir_from_feats(st.landed("feats")),
    )

def incremental_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental ANN-index (NSW graph) maintenance — bitwise
    equal to the one-shot ``operators.similarity.nsw_edges`` on the union
    of all batches (the DuckDB NSW graph CTE chain is the oracle) under
    ANY arrival order.

    The one large state the streaming surface never maintained (r12
    verdict item 3): the navigable-small-world neighbor graph. The
    "quantizer" is frozen by construction — the LSH probe planes are
    deterministic and stateless (``nsw_prep``), so no setup pass. Each
    micro-batch:

    1. prepares ONLY its own vectors (bucket + norm) and lands them in
       the accumulated vector store;
    2. generates banded candidate pairs by joining the BATCH against the
       store (never store x store): the directed pair (a, b) is created
       exactly once globally, in the batch where its LATER member
       arrives — new->any pairs come from the batch-side probe explode,
       and old->new reverse edges are the mirrored candidates whose
       source is NOT in the batch (an anti-join against the batch ids,
       candidates-sized work);
    3. merges them into the per-src top-``NSW_M_OUT`` forward-edge state
       (degree-capped edge insertion). Top-K is merge-associative —
       topK(all pairs) == topK(topK(prefix) ∪ new pairs) under the
       deterministic (e_sim DESC, dst) order — so the maintained state
       is bitwise the one-shot ``fwd`` table after every batch.

    Emission runs the shared ``nsw_finish`` kernel (symmetrize +
    degree-cap + NN-descent refinement) over the final forward state —
    the same derivation the one-shot build applies to the same ``fwd``.

    At 100 TB: per-batch contact is (batch x store) on the bucket
    equi-key (the minhash banding shape), the forward state is N * M_OUT
    rows of three scalars (compacted every batch, never reread raw
    vectors), and emission's NN-descent is N * M_DEG^2 exact cosines —
    linear in corpus size. Epoch-scoped overwrite = replay-idempotent:
    re-running epoch e rebuilds vecs/batch=e and fwd/epoch=e from the
    same inputs (state chains from the newest epoch BELOW e, never e
    itself)."""
    from ..operators.similarity import (
        banded_pairs_between,
        fwd_top_m,
        nsw_finish,
        nsw_prep,
    )
    from ..plans.llm import EMB_DIM
    from ..plans.tables import load

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        st.land("vecs", nsw_prep(batch_df, EMB_DIM).withColumn("ep", F.lit(st.epoch)))
        store = st.landed("vecs")
        batch_v = store.filter(F.col("ep") == st.epoch)
        # new -> any (both directions of within-batch pairs arise here)
        p_new = banded_pairs_between(batch_v, store)
        # old -> new: mirror the candidates, drop mirrored within-batch
        # pairs (already present both ways in p_new)
        batch_ids = batch_v.select(F.col("vec_id").alias("a_id"))
        p_old = p_new.select(
            F.col("b_id").alias("a_id"),
            F.col("a_id").alias("b_id"),
            "cos_sim",
        ).join(F.broadcast(batch_ids), "a_id", "left_anti")
        directed = p_new.unionByName(p_old).select(
            F.col("a_id").alias("src"),
            F.col("b_id").alias("dst"),
            F.col("cos_sim").alias("e_sim"),
        )
        prev = st.latest("fwd")
        if prev is None:
            prev = spark.createDataFrame([], "src long, dst long, e_sim double")
        st.land("fwd", fwd_top_m(prev.unionByName(directed)))

    def finish(st: Landing) -> DataFrame:
        v = nsw_prep(load(spark, sf_dir, "embeddings"), EMB_DIM)
        return nsw_finish(st.latest("fwd"), v)

    return fold_stream(replay(spark, sf_dir, EMB_BATCHES), on_batch, finish)

# ---------------------------------------------------------------------------
# Retraction-aware ANN-graph maintenance (round 13): vector UN-ingestion
# for the similarity index itself — deleting an embedding must also repair
# the NSW graph, because a deleted vector's edges must not outlive it and
# the neighbors it crowded out of a degree cap must be RE-ELECTED.

ANN_COMPACT_EVERY = 2  # fold the pair/vector state every N epochs


# EARLY tombstones exercise the never-ingest path, LATE ones the
# ingest-then-void path
EMB_RETRACT_BATCHES = Batches(
    "embeddings",
    ("vec_id", "embedding", "label"),
    ("adversarial", ("vec_id",), 3, PRIO_RETRACT_MOD, PRIO_RETRACT_RES),
)


def incremental_ann_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTION-AWARE streaming NSW maintenance — bitwise equal to the
    one-shot ``nsw_edges`` over the SURVIVING (never-deleted) vectors
    (the survivor-restricted graph CTE chain is the oracle).

    Why deletion is a first-class ANN problem: the degree caps mean a
    deleted vector may have CROWDED OUT a true neighbor — dropping its
    rows is not enough, the evicted candidate must be re-elected. A
    capped edge state cannot express that (the evicted candidate is
    gone), so the state keeps the UNCAPPED banded candidate pairs — the
    same volume the one-shot build shuffles anyway, which is the honest
    price of exact un-ingestion (the insert-only mirror keeps only the
    capped top-M_OUT state; this one trades state size for
    retractability). The discovery invariant survives deletion: a pair
    of finally-surviving vectors is discovered exactly once, at the
    later member's arrival, because a surviving earlier member was
    necessarily in the store and not dead then — deletions only VOID
    pairs, never create them.

    Per epoch: cumulative dead set += batch tombstones; batch inserts
    already dead are dropped (never-ingest); the batch's prepared
    vectors land; banded candidates join the batch against the landed
    store MINUS the dead (a deleted vector stops matching immediately);
    the directed pairs land append-only. Every ANN_COMPACT_EVERY epochs
    ``compact_dead_state`` physically drops dead-touching pairs and
    vector rows (set-semantic state: duplicates from a replayed
    compaction epoch collapse under the fold's dropDuplicates and the
    emission's dropDuplicates). Emission: survivor pairs -> fwd_top_m ->
    the shared nsw_finish kernel over the surviving vectors.

    At 100 TB: per-batch contact is (batch x store) on the bucket
    equi-key; the pair state is the banding volume (compacted to
    survivor pairs); the dead set is deletion-contract-sized."""
    from ..operators.similarity import (
        banded_pairs_between,
        fwd_top_m,
        nsw_finish,
        nsw_prep,
    )
    from ..plans.llm import EMB_DIM
    from ..plans.tables import load

    def on_batch(batch_df: DataFrame, st: Landing) -> None:
        st.land("dead", batch_df.filter(F.col("sign") == -1).select("vec_id"))
        dead = st.landed("dead").distinct()
        ins = (
            batch_df.filter(F.col("sign") == 1)
            .select("vec_id", "embedding")
            .join(dead, "vec_id", "left_anti")
        )
        st.land("vecs", nsw_prep(ins, EMB_DIM).withColumn("ep", F.lit(st.epoch)))
        store = st.landed("vecs").join(dead, "vec_id", "left_anti")
        batch_v = store.filter(F.col("ep") == st.epoch)
        p_new = banded_pairs_between(batch_v, store)
        batch_ids = batch_v.select(F.col("vec_id").alias("a_id"))
        p_old = p_new.select(
            F.col("b_id").alias("a_id"),
            F.col("a_id").alias("b_id"),
            "cos_sim",
        ).join(F.broadcast(batch_ids), "a_id", "left_anti")
        directed = p_new.unionByName(p_old).select(
            F.col("a_id").alias("src"),
            F.col("b_id").alias("dst"),
            F.col("cos_sim").alias("e_sim"),
        )
        st.land("pairs", directed)
        if st.epoch % ANN_COMPACT_EVERY == 1:
            dead_dd = dead.select(F.col("vec_id").alias("doc_id"))
            compact_dead_state(
                spark, st.path("pairs"), dead_dd, st.epoch, anti_cols=("src", "dst")
            )
            compact_dead_state(
                spark, st.path("vecs"), dead_dd, st.epoch, anti_cols=("vec_id",)
            )

    def finish(st: Landing) -> DataFrame:
        dead = st.landed("dead").distinct()
        pairs = (
            st.landed("pairs")
            .join(dead.select(F.col("vec_id").alias("src")), "src", "left_anti")
            .join(dead.select(F.col("vec_id").alias("dst")), "dst", "left_anti")
            .select("src", "dst", "e_sim")
            .dropDuplicates()
        )
        surviving = load(spark, sf_dir, "embeddings").join(
            dead, "vec_id", "left_anti"
        )
        v = nsw_prep(surviving, EMB_DIM)
        return nsw_finish(fwd_top_m(pairs), v)

    return fold_stream(replay(spark, sf_dir, EMB_RETRACT_BATCHES), on_batch, finish)
