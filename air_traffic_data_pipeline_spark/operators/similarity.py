"""Similarity-search operators over an embedding column (``array<float>``).

Three tiers, mirroring how ANN is built on top of Spark at scale:

- ``brute_force_topk``: exact cosine top-k. The query side is small and
  broadcast; the corpus side streams. O(|Q| * |C|) — the correctness
  baseline, and the right plan when |Q| is tiny.
- ``lsh_bucket``: random-hyperplane LSH signature (integer planes, so the
  bucket id is bitwise deterministic across engines). Co-bucketing turns the
  all-pairs cosine search into an equi-join on ``bucket`` — the scale path:
  both sides shuffle once on the bucket key, candidates drop from |Q|*|C| to
  co-bucketed pairs, and AQE handles bucket skew.
- ``ivf_assign`` / ``ivf_topk``: IVF-style coarse quantization: centroid =
  per-label mean vector (one distributed agg), vectors assigned to nearest
  centroid, queries probe the closest ``nprobe`` cells.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ..functions.vectors import cosine, dot, norm, to_double

# 8 deterministic integer hyperplanes for d-dim vectors:
# plane[j][d] = ((j*37 + d*17) % 19) - 9  (range -9..9, mean ~0)
N_PLANES = 8


def plane(j: int, dim: int) -> list[float]:
    return [float(((j * 37 + d * 17) % 19) - 9) for d in range(dim)]


def plane_sql(j: int, dim: int) -> str:
    vals = ", ".join(repr(v) for v in plane(j, dim))
    return f"([{vals}]::DOUBLE[])"


def lsh_bucket(vec: Column, dim: int) -> Column:
    """Bucket id in [0, 2^N_PLANES): bit j = (dot(vec, plane_j) >= 0)."""
    bucket = F.lit(0)
    for j in range(N_PLANES):
        p = F.array(*[F.lit(v) for v in plane(j, dim)])
        bit = F.when(dot(vec, p) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("bigint")


def lsh_bucket_sql(vec: str, dim: int) -> str:
    from ..functions.vectors import dot_sql

    terms = []
    for j in range(N_PLANES):
        terms.append(
            f"(CASE WHEN {dot_sql(vec, plane_sql(j, dim))} >= 0 THEN {1 << j} ELSE 0 END)"
        )
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus, window-ranked.

    Expects ``queries(q_id, q_vec)`` / ``corpus(c_id, c_vec)`` with double
    arrays. Deterministic tie-break on corpus id.
    """
    # norms once per vector (not per pair): cos = dot/(nq*nc) is the same
    # arithmetic and fold order as cosine(), so values stay bitwise equal
    # while the per-pair cost drops from three array folds to one
    q = queries.withColumn("__nq", norm(F.col("q_vec")))
    c = corpus.withColumn("__nc", norm(F.col("c_vec")))
    pairs = c.crossJoin(F.broadcast(q)).withColumn(
        "cos_sim",
        F.round(dot(F.col("q_vec"), F.col("c_vec")) / (F.col("__nq") * F.col("__nc")), 6),
    )
    w = W.partitionBy(query_id).orderBy(F.col("cos_sim").desc(), F.col(corpus_id))
    return (
        pairs.filter(F.col(query_id) != F.col(corpus_id))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos_sim", "rank")
    )


def centroid_fold(
    vectors: DataFrame,
    keys: tuple[str, ...],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_count: bool = False,
    already_double: bool = False,
) -> DataFrame:
    """Deterministic per-key mean vector: posexplode + groupBy(keys, pos)
    with the per-dimension mean as a SEQUENTIAL left-fold over members
    sorted by ``id_col`` — the one bitwise-critical centroid kernel,
    shared by ivf_centroids (keys=("label",)), PQ codebook training
    (keys=("sub", "code")) and embedding_drift (keys=("label", "half")).
    Returns keys + ``centroid`` (+ ``n_members``). See ivf_centroids for
    the cost/discipline discussion."""
    vec = F.col(vec_col) if already_double else to_double(F.col(vec_col))
    exploded = vectors.select(
        *keys,
        F.col(id_col).alias("__i"),
        F.posexplode(vec).alias("__pos", "__x"),
    )
    per_dim = exploded.groupBy(*keys, "__pos").agg(
        F.array_sort(F.collect_list(F.struct("__i", "__x"))).alias("__xs")
    )
    m = F.aggregate(
        F.col("__xs"), F.lit(0.0), lambda acc, s: acc + s.getField("__x")
    ) / F.size("__xs")
    per_dim = per_dim.select(
        *keys, "__pos", m.alias("__m"), F.size("__xs").cast("bigint").alias("__cnt")
    )
    out = per_dim.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("__pos", "__m"))).alias("__pm"),
        # cnt is the member count, constant across pos within a key
        F.min("__cnt").alias("n_members"),
    )
    cols = [
        *keys,
        F.transform(F.col("__pm"), lambda s: s.getField("__m")).alias("centroid"),
    ]
    if with_count:
        cols.append(F.col("n_members"))
    return out.select(*cols)


def ivf_centroids(
    vectors: DataFrame, dim: int, id_col: str = "vec_id", with_count: bool = False
) -> DataFrame:
    """Per-label mean vector via posexplode + groupBy — one distributed agg.

    The per-dimension mean is computed as a SEQUENTIAL left-fold over members
    sorted by ``id_col`` (collect_list -> array_sort -> aggregate), not
    ``F.avg``: float addition is order-dependent, and a fixed fold order makes
    the centroid bitwise deterministic across partitionings and engines — the
    DuckDB oracle runs the identical fold (``list(x ORDER BY vec_id)`` +
    ``list_reduce``). Cost: members of one (label, pos) group materialize as
    one array; cell population per label is the IVF design bound (k-means-ish
    balance), so the array stays executor-sized at scale.

    ``with_count=True`` adds an ``n_members`` column carried through the same
    aggregate — callers that also need cluster sizes (k-means refinement)
    get them without a second pass over the input."""
    return centroid_fold(
        vectors, ("label",), id_col=id_col, with_count=with_count
    )


def ivf_topk(
    vectors: DataFrame, queries: DataFrame, dim: int, k: int, nprobe: int = 2
) -> DataFrame:
    """Assign corpus to nearest centroid; queries probe nprobe cells."""
    cents = ivf_centroids(vectors, dim)

    # centroid and vector norms once each (not per pair): identical values
    # (same fold), k fewer norm folds per vector during assignment
    cents_n = cents.withColumn("__ncent", norm(F.col("centroid")))

    def nearest_cells(df: DataFrame, vec_col: str, n: int, out: str) -> DataFrame:
        scored = (
            df.withColumn("__nv", norm(F.col(vec_col)))
            .crossJoin(F.broadcast(cents_n))
            .withColumn(
                "cell_sim",
                dot(F.col(vec_col), F.col("centroid"))
                / (F.col("__nv") * F.col("__ncent")),
            )
        )
        w = W.partitionBy(df.columns[0]).orderBy(
            F.col("cell_sim").desc(), F.col("label")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .select(*df.columns, F.col("label").alias(out))
        )

    corpus = vectors.select(
        F.col("vec_id").alias("c_id"), to_double(F.col("embedding")).alias("c_vec")
    )
    corpus_cells = nearest_cells(corpus, "c_vec", 1, "cell")
    q_cells = nearest_cells(queries.select("q_id", "q_vec"), "q_vec", nprobe, "cell")

    cand = q_cells.join(corpus_cells, "cell").filter(F.col("q_id") != F.col("c_id"))
    scored = cand.withColumn("cos_sim", F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6))
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


# --- graph-based ANN: deterministic NSW-style beam search --------------------
#
# The fourth classic ANN architecture next to LSH / IVF / PQ: a navigable
# small-world graph (Malkov et al.'s NSW, the flat ancestor of HNSW)
# searched by best-first beam expansion. Everything is deterministic so the
# DuckDB oracle can replay it bitwise: the neighbor graph is built from the
# multi-probe LSH candidate pairs (banded equi-join — never all-pairs),
# degree-capped by exact cosine, and symmetrized (the reverse edges are what
# make greedy search navigable); the entry set is a fixed id-stride sample
# scored exactly; search runs a FIXED number of beam rounds (the
# llm_dedup_clusters fixed-round iterative-join idiom) with ties broken on
# the neighbor id.

NSW_M_OUT = 10  # out-degree kept per node before symmetrizing
NSW_M_DEG = 16  # final degree cap after adding reverse edges
NSW_NND_ROUNDS = 1  # NN-descent refinement rounds (two-hop rescoring)
NSW_BEAM = 16  # beam width per query
NSW_ROUNDS = 5  # fixed expansion rounds (graph diameter proxy)
NSW_ENTRY_STRIDE = 16  # entry points: vec_id % STRIDE == 0

# HNSW (hierarchical NSW, Malkov & Yashunin): one coarse upper layer whose
# membership is the deterministic id-stride analogue of HNSW's geometric
# level draw (P(level >= 1) = 1/STRIDE), searched first to find good entry
# points, then descended into the base graph. The payoff the hierarchy buys
# is FEWER base-layer rounds (L0_ROUNDS < NSW_ROUNDS) at equal-or-better
# recall: the upper layer's long-range hops replace the flat graph's early
# wandering rounds.
HNSW_L1_STRIDE = 4  # upper layer: vec_id % STRIDE == 0 (~1/4 of corpus)
HNSW_L1_ROUNDS = 3  # beam rounds on the upper layer
HNSW_L0_ROUNDS = 3  # beam rounds on the base layer after the descent


def banded_pairs(v: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Directed multi-probe banded candidate pairs over a prepared frame
    ``v(vec_id, vec, nv, bucket[, extra...])``: each vector meets vectors
    sharing its bucket or a 1-bit probe neighbor (a SYMMETRIC relation —
    1-bit XOR Hamming), scored by the shared rounded cosine. Returns
    ``(a_id, b_id, cos_sim[, a_<e>, b_<e>])``. The ONE home of the
    probe-explode/bucket-join construction, shared by the NSW graph
    builder and the banded bitext miner — a pair meets through at most
    one bucket (the b side carries exactly one), so no post-join dedup.

    Scale: the only corpus x corpus contact is the bucket equi-join (the
    llm_minhash banding shape — candidate volume is co-bucketed pairs,
    never N^2)."""
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
    )
    src = v.select(
        F.col("vec_id").alias("a_id"),
        F.col("vec").alias("a_vec"),
        F.col("nv").alias("na"),
        *[F.col(e).alias(f"a_{e}") for e in extra],
        F.explode(probes).alias("bucket"),
    )
    dst = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("vec").alias("b_vec"),
        F.col("nv").alias("nb"),
        *[F.col(e).alias(f"b_{e}") for e in extra],
        "bucket",
    )
    # the probe relation is SYMMETRIC (bucket(b) == bucket(a) ^ bit ⟺
    # bucket(a) == bucket(b) ^ bit), so the directed join surfaces every
    # unordered pair in BOTH orientations and the exact 64-dim cosine —
    # the dominant CPU of the whole graph build — was computed twice.
    # Score each unordered pair once (a_id < b_id) and mirror the scored
    # row into both directions with one explode: identical output multiset
    # (dot and the rounded cosine are symmetric), half the dots.
    cand = src.join(dst, "bucket").filter(F.col("a_id") < F.col("b_id"))
    scored = cand.select(
        "a_id",
        "b_id",
        F.round(
            dot(F.col("a_vec"), F.col("b_vec")) / (F.col("na") * F.col("nb")), 6
        ).alias("cos_sim"),
        *[f"a_{e}" for e in extra],
        *[f"b_{e}" for e in extra],
    )
    fwd = F.struct(
        F.col("a_id"),
        F.col("b_id"),
        F.col("cos_sim"),
        *[F.col(f"a_{e}") for e in extra],
        *[F.col(f"b_{e}") for e in extra],
    )
    rev = F.struct(
        F.col("b_id").alias("a_id"),
        F.col("a_id").alias("b_id"),
        F.col("cos_sim"),
        *[F.col(f"b_{e}").alias(f"a_{e}") for e in extra],
        *[F.col(f"a_{e}").alias(f"b_{e}") for e in extra],
    )
    cols = (
        ["a_id", "b_id", "cos_sim"]
        + [f"a_{e}" for e in extra]
        + [f"b_{e}" for e in extra]
    )
    return scored.select(F.explode(F.array(fwd, rev)).alias("p")).select(
        *[F.col(f"p.{c}").alias(c) for c in cols]
    )


def nsw_prep(vectors: DataFrame, dim: int) -> DataFrame:
    """Prepare ``(vec_id, vec, bucket, nv)`` for the NSW builder — the
    stateless "quantizer" (deterministic LSH planes + norm) shared by the
    one-shot build and the streaming incremental ingest mirror, so both
    assign bitwise-identical buckets."""
    return (
        vectors.select(
            F.col("vec_id"), to_double(F.col("embedding")).alias("vec")
        )
        .withColumn("bucket", lsh_bucket(F.col("vec"), dim))
        .withColumn("nv", norm(F.col("vec")))
    )


def banded_pairs_between(src_v: DataFrame, dst_v: DataFrame) -> DataFrame:
    """``banded_pairs`` generalized to two frames: directed candidate
    pairs (a in ``src_v``, b in ``dst_v``) meeting through the multi-probe
    bucket relation, scored by the shared rounded cosine. The probe set
    explodes on the SRC side only and the dst side carries exactly one
    bucket, so a given (a, b) meets through at most one probe — no
    post-join dedup. This is how the streaming ANN-ingest mirror contacts
    only (batch x store) per micro-batch instead of (store x store)."""
    src = src_v.select(
        F.col("vec_id").alias("a_id"),
        F.col("vec").alias("a_vec"),
        F.col("nv").alias("na"),
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << j))
                    for j in range(N_PLANES)
                ],
            )
        ).alias("bucket"),
    )
    dst = dst_v.select(
        F.col("vec_id").alias("b_id"),
        F.col("vec").alias("b_vec"),
        F.col("nv").alias("nb"),
        "bucket",
    )
    cand = src.join(dst, "bucket").filter(F.col("a_id") != F.col("b_id"))
    return cand.select(
        "a_id",
        "b_id",
        F.round(
            dot(F.col("a_vec"), F.col("b_vec")) / (F.col("na") * F.col("nb")), 6
        ).alias("cos_sim"),
    )


def fwd_top_m(pairs: DataFrame) -> DataFrame:
    """Top-``NSW_M_OUT`` directed edges per src over candidate pairs
    ``(src, dst, e_sim)`` — deterministic (e_sim DESC, dst) cap. Top-K is
    merge-associative, so the incremental mirror maintains this exact
    state per micro-batch: topK(all) == topK(topK(prefix) ∪ new)."""
    w_out = W.partitionBy("src").orderBy(F.col("e_sim").desc(), F.col("dst"))
    return (
        pairs.withColumn("rn", F.row_number().over(w_out))
        .filter(F.col("rn") <= NSW_M_OUT)
        .select("src", "dst", "e_sim")
    )


def nsw_edges(vectors: DataFrame, dim: int) -> DataFrame:
    """Bounded neighbor lists (src, dst, e_sim): multi-probe LSH candidate
    pairs (``banded_pairs``) -> exact-cosine top-``NSW_M_OUT`` per src ->
    symmetrize -> re-cap at ``NSW_M_DEG``. The edge list leaves as
    N * M_DEG rows of three scalars.
    """
    v = nsw_prep(vectors, dim)
    scored = banded_pairs(v).select(
        F.col("a_id").alias("src"),
        F.col("b_id").alias("dst"),
        F.col("cos_sim").alias("e_sim"),
    )
    return nsw_finish(fwd_top_m(scored), v)


def nsw_finish(fwd: DataFrame, v: DataFrame) -> DataFrame:
    """Symmetrize + degree-cap + NN-descent refinement over the forward
    top-``NSW_M_OUT`` edge state and prepared vectors ``v`` — the
    emission-time derivation shared by the one-shot build and the
    streaming ingest mirror (whose per-batch state is exactly ``fwd``)."""
    # symmetrize: cosine is symmetric and rounded identically both ways, so
    # distinct() collapses a pair kept in both directions. Both directions
    # derive from ONE explode pass over e (same edge multiset as the classic
    # two-leg union, but the possibly-expensive upstream — the banded
    # multi-probe build, or the NN-descent rescore — is evaluated once
    # instead of once per leg; the sym_pair_edges idiom, guide §2.4).
    def _sym_cap(e: DataFrame) -> DataFrame:
        both = F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst"), F.col("e_sim")),
                F.struct(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("e_sim"),
                ),
            )
        ).alias("b")
        sym = e.select(both).select("b.src", "b.dst", "b.e_sim").distinct()
        w_deg = W.partitionBy("src").orderBy(F.col("e_sim").desc(), F.col("dst"))
        return (
            sym.withColumn("rn", F.row_number().over(w_deg))
            .filter(F.col("rn") <= NSW_M_DEG)
            .select("src", "dst", "e_sim")
        )

    from .checkpoints import tracked_local_checkpoint

    edges = _sym_cap(fwd)
    # NN-descent refinement (Dong et al.): a neighbor's neighbor is a good
    # neighbor candidate — rescore the two-hop pairs exactly and re-cap.
    # Recovers true neighbors the LSH banding never co-bucketed. Cost per
    # round: N * M_DEG^2 exact cosines — linear in corpus size.
    vv = v.select("vec_id", "vec", "nv")
    for _ in range(NSW_NND_ROUNDS):
        # each round consumes `edges` three times (both sides of the
        # two-hop self-join + the union leg) — materialize the N*M_DEG-row
        # list once per round so the upstream build (the banded multi-probe
        # join, the heavy subplan) never re-executes
        edges, _ = tracked_local_checkpoint(edges)
        two_hop = (
            edges.alias("a")
            .join(edges.alias("b"), F.col("a.dst") == F.col("b.src"))
            .filter(F.col("a.src") != F.col("b.dst"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
            .distinct()
        )
        rescored = (
            two_hop.join(
                vv.select(
                    F.col("vec_id").alias("src"),
                    F.col("vec").alias("s_vec"),
                    F.col("nv").alias("ns"),
                ),
                "src",
            )
            .join(
                vv.select(
                    F.col("vec_id").alias("dst"),
                    F.col("vec").alias("d_vec"),
                    F.col("nv").alias("nd"),
                ),
                "dst",
            )
            .select(
                "src",
                "dst",
                F.round(
                    dot(F.col("s_vec"), F.col("d_vec"))
                    / (F.col("ns") * F.col("nd")),
                    6,
                ).alias("e_sim"),
            )
        )
        edges = _sym_cap(edges.unionByName(rescored))
    return edges


def _w_beam() -> W:
    # built lazily: constructing the window spec at import time needs an
    # active session under pyspark 4
    return W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))


def _top_beam(scored: DataFrame) -> DataFrame:
    return (
        scored.withColumn("rn", F.row_number().over(_w_beam()))
        .filter(F.col("rn") <= NSW_BEAM)
        .select("q_id", "c_id", "cos_sim")
    )


def _entry_beam(corpus: DataFrame, q: DataFrame, stride: int) -> DataFrame:
    """Exact-scored seed beam over the id-stride entry sample, unioned
    with the global min id — a 1-row broadcast that guarantees a
    non-empty entry set on corpora whose id range contains no stride
    multiple (review finding: an all-odd-id lake would otherwise return
    zero rows from every search while flat brute force still answers).
    On any lake containing id 0 the fallback is a no-op (0 % stride == 0),
    so verified outputs are unchanged."""
    min_id = corpus.agg(F.min("c_id").alias("__min_id"))
    entries = (
        corpus.crossJoin(F.broadcast(min_id))
        .filter((F.col("c_id") % stride == 0) | (F.col("c_id") == F.col("__min_id")))
        .drop("__min_id")
    )
    return _top_beam(
        entries.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            F.round(
                dot(F.col("q_vec"), F.col("c_vec")) / (F.col("nq") * F.col("nc")),
                6,
            ).alias("cos_sim"),
        )
    )


def _beam_rounds(
    beam: DataFrame, edges: DataFrame, corpus: DataFrame, q: DataFrame, rounds: int
) -> DataFrame:
    """``rounds`` rounds of expand-neighbors -> rescore -> keep
    top-``NSW_BEAM`` (monotone: the beam is unioned with its expansion,
    so a round can only improve it). Shared by the flat NSW search and
    both HNSW phases — the edge list is the only thing that differs."""
    from .checkpoints import tracked_local_checkpoint

    for _ in range(rounds):
        neighbors = (
            beam.join(edges, beam["c_id"] == edges["src"])
            .filter(F.col("dst") != F.col("q_id"))
            .select("q_id", F.col("dst").alias("c_id"))
            .distinct()
        )
        rescored = (
            neighbors.join(corpus, "c_id")
            .join(q, "q_id")
            .select(
                "q_id",
                "c_id",
                F.round(
                    dot(F.col("q_vec"), F.col("c_vec"))
                    / (F.col("nq") * F.col("nc")),
                    6,
                ).alias("cos_sim"),
            )
        )
        # identical (q, c) rows carry identical rounded sims -> distinct
        beam = _top_beam(beam.unionByName(rescored).distinct())
        # the beam feeds the NEXT round twice (expansion + union): without a
        # lineage cut the logical plan doubles per round (2^ROUNDS replays
        # of the whole graph build) — checkpoint the Q*BEAM-row frame
        beam, _ = tracked_local_checkpoint(beam)
    return beam


def _search_frames(
    vectors: DataFrame, queries: DataFrame
) -> tuple[DataFrame, DataFrame]:
    corpus = vectors.select(
        F.col("vec_id").alias("c_id"), to_double(F.col("embedding")).alias("c_vec")
    ).withColumn("nc", norm(F.col("c_vec")))
    q = queries.withColumn("nq", norm(F.col("q_vec")))
    return corpus, q


def nsw_beam_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int,
    edges: DataFrame | None = None,
) -> DataFrame:
    """NSW beam search: seed each query's beam with the exact-scored entry
    sample, then ``NSW_ROUNDS`` rounds of ``_beam_rounds`` expansion.
    Returns the final top-k with ranks, brute_force_topk-shaped.
    ``edges`` accepts a prebuilt (already materialized) graph so an eval
    comparing several searches builds the heavy subplan once.

    Scale: each round touches beam x degree rows per query (query-
    proportional, corpus-independent); the corpus contributes only via
    the edge list and the id-keyed vector lookups."""
    from .checkpoints import tracked_local_checkpoint

    corpus, q = _search_frames(vectors, queries)
    if edges is None:
        # the edge list feeds every beam round and its own build is the
        # heavy subplan (banded join + NN-descent) — materialize it ONCE
        edges, _ = tracked_local_checkpoint(nsw_edges(vectors, dim))
    beam = _entry_beam(corpus, q, NSW_ENTRY_STRIDE)
    beam = _beam_rounds(beam, edges, corpus, q, NSW_ROUNDS)
    return (
        beam.withColumn("rank", F.row_number().over(_w_beam()).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


def hnsw_beam_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int,
    base_edges: DataFrame | None = None,
) -> DataFrame:
    """Hierarchical NSW (Malkov & Yashunin's HNSW, deterministic variant):
    level assignment is the id-stride rule ``vec_id % HNSW_L1_STRIDE == 0``
    (the fixed-probability geometric level draw, made replayable), the
    upper layer is a full NSW graph over that subsample, and search
    descends — seed on the upper layer's own (sparser) entry stride, run
    ``HNSW_L1_ROUNDS`` beam rounds on the upper graph, then use the
    resulting beam as the base layer's entry points for ``HNSW_L0_ROUNDS``
    rounds (fewer than flat NSW needs, because the upper layer already
    navigated to the right neighborhood).

    Scale: the upper graph build is the same banded-join shape over N/STRIDE
    vectors; search cost per query is beam x degree x (L1+L0) rounds —
    corpus-independent. At 100 TB add layers by nesting strides
    (%4, %16, %64, ...); two levels suffice at test scale."""
    from .checkpoints import tracked_local_checkpoint

    corpus, q = _search_frames(vectors, queries)
    if base_edges is None:
        base_edges, _ = tracked_local_checkpoint(nsw_edges(vectors, dim))
    upper = vectors.filter(F.col("vec_id") % HNSW_L1_STRIDE == 0)
    upper_edges, _ = tracked_local_checkpoint(nsw_edges(upper, dim))
    # upper-layer entries: the stride-of-strides sample (every entry is an
    # upper-layer member by construction)
    beam = _entry_beam(corpus, q, HNSW_L1_STRIDE * NSW_ENTRY_STRIDE)
    beam = _beam_rounds(beam, upper_edges, corpus, q, HNSW_L1_ROUNDS)
    beam = _beam_rounds(beam, base_edges, corpus, q, HNSW_L0_ROUNDS)
    return (
        beam.withColumn("rank", F.row_number().over(_w_beam()).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cos_sim", "rank")
    )
