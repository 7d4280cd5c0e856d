"""LLM-training-data operators (BASELINE.json north_star): deduplication
(exact, fingerprint, MinHash+LSH, SimHash, n-gram Jaccard), similarity search
(brute-force cosine, LSH-bucketed, IVF), text analysis (language ID, quality,
token counts), multimodal column plumbing.

Determinism strategy: all hashing is md5 (identical hex in both engines);
vector folds are sequential double left-folds (see functions/vectors.py);
similarity outputs are rounded to 6 dp.

Scale notes per operator live in the docstrings — the common theme: turn
all-pairs problems into equi-joins on a derived key (band hash / LSH bucket /
fingerprint), which shuffle-partition and AQE-balance instead of exploding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W, functions as F

from ..functions.text import (
    LANG_ORDER,
    LANG_STOPWORDS,
    fingerprint,
    fingerprint_sql,
    quality_score,
    quality_score_sql,
    regex_token_count,
    regex_token_count_sql,
    rolling_hash,
    rolling_hash_sql,
    exploded_shingles,
    shingles_sql,
    stopword_count,
    stopword_count_sql,
    word_count,
)
from ..functions.vectors import cosine, cosine_sql, dot, dot_sql, norm, norm_sql, to_double
from ..operators.similarity import (
    HNSW_L0_ROUNDS,
    HNSW_L1_ROUNDS,
    HNSW_L1_STRIDE,
    N_PLANES,
    NSW_BEAM,
    NSW_ENTRY_STRIDE,
    NSW_M_DEG,
    NSW_M_OUT,
    NSW_NND_ROUNDS,
    NSW_ROUNDS,
    brute_force_topk,
    centroid_fold,
    hnsw_beam_topk,
    ivf_topk,
    lsh_bucket,
    lsh_bucket_sql,
    nsw_beam_topk,
)
from .sqlutil import dlit
from .tables import _fingerprint, fan_out, load

EMB_DIM = 64


def _emb_ok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings lake restricted to well-formed fixed-width vectors.

    Single source of the ragged-row guard every vector consumer applies:
    a malformed (empty or ragged) embedding would fold to NULL sims that
    silently sort last / vanish from posexplode aggregates while the
    oracle's count(*) still saw it — so both engines exclude it up front
    (oracles mirror with ``len(embedding) = EMB_DIM``).
    """
    return load(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == EMB_DIM
    )

MINHASH_K = 8
MINHASH_BANDS = 4  # 4 bands x 2 rows


# --- exact dedup / fingerprinting -----------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); survivor = min doc_id.

    At scale: map-side partial agg on the 128-bit hash — shuffles only
    distinct hashes, never full text.
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("h", F.md5("text"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS h, min(doc_id) AS survivor_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprint dedup (lower/strip-punct/collapse-ws)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("fp", fingerprint(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_FP_SQL = f"""
SELECT {fingerprint_sql('text')} AS fp, min(doc_id) AS survivor_id, count(*) AS n_copies
FROM documents GROUP BY 1
"""


# --- text analysis ---------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("wc", word_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum("wc").alias("total_words"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


TEXT_STATS_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
       CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_words,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY lang
"""


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        word_count(F.col("text")).alias("ws_tokens"),
        regex_token_count(F.col("text")).alias("re_tokens"),
    )


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       {regex_token_count_sql('text')} AS re_tokens
FROM documents WHERE doc_id < 200
"""


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language guess; deterministic argmax with fixed
    precedence. Accuracy on this synthetic corpus is incidental — the
    operator shape (per-language score -> argmax) is the deliverable."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        *[
            stopword_count(F.col("text"), LANG_STOPWORDS[lg]).alias(f"s_{lg}")
            for lg in LANG_ORDER
        ],
    )
    best = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_ORDER])
    guess = F.when(F.lit(False), "x")
    for lg in LANG_ORDER:
        guess = guess.when(F.col(f"s_{lg}") == best, F.lit(lg))
    return scored.select(
        "doc_id",
        "lang",
        guess.alias("guess"),
        (guess == F.col("lang")).alias("correct"),
    )


def _lang_id_sql() -> str:
    scores = ", ".join(
        f"{stopword_count_sql('text', LANG_STOPWORDS[lg])} AS s_{lg}" for lg in LANG_ORDER
    )
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in LANG_ORDER) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{lg} = {best} THEN '{lg}'" for lg in LANG_ORDER
    ) + " END"
    return f"""
WITH scored AS (SELECT doc_id, lang, {scores} FROM documents)
SELECT doc_id, lang, {case} AS guess, ({case} = lang) AS correct
FROM scored
"""


def quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


QUALITY_SQL = f"SELECT doc_id, {quality_score_sql('text')} AS quality FROM documents"


# --- MinHash + LSH near-dedup ----------------------------------------------


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, shingle) rows. Used four times by the near-dup
    pipeline — deliberately NOT cached: Catalyst's ReusedExchange already
    shares the distinct's shuffle output across the self-join branches, and
    an explicit cache() was measured slower (it blocks exchange reuse and
    adds a materialization barrier)."""
    d = fan_out(load(spark, sf_dir, "documents"))
    return exploded_shingles(d.select("doc_id", "text")).distinct()


_SHINGLE_ROWS_SQL = f"""
SELECT DISTINCT doc_id, unnest({shingles_sql('text')}) AS s FROM documents
"""


def _chunk_cols() -> list:
    """The k minhash functions as 8-hex-char (32-bit) chunks of ONE
    sha2-256 digest: h_j = substr(sha256(s), 8j+1, 8). A 256-bit digest
    yields eight independent uniform 32-bit hash values, so the per-shingle
    hash cost is a single digest (r3 measured ~30% faster on the signature
    aggregate than the previous two salted md5s — PERF.md, adopted r4 with
    the affected queries force-rechecked). min() over the fixed-width hex
    chunks is min over uniform 32-bit values lexicographically, exactly
    what MinHash needs. DuckDB's sha256() emits identical lowercase hex."""
    return [F.sha2(F.col("s"), 256).alias("_m0")]


def _chunk_aggs() -> list:
    return [
        F.min(F.substring(F.col("_m0"), 8 * i + 1, 8)).alias(f"h{i}")
        for i in range(MINHASH_K)
    ]


_CHUNK_MINS_SQL = ", ".join(
    f"min(substr(sha256(s), {8 * i + 1}, 8)) AS h{i}" for i in range(MINHASH_K)
)


def _minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_rows(spark, sf_dir)
    sh = sh.select("doc_id", "s", *_chunk_cols())
    return sh.groupBy("doc_id").agg(*_chunk_aggs())


_MINHASH_SIG_SQL = f"""
SELECT doc_id, {_CHUNK_MINS_SQL}
FROM ({_SHINGLE_ROWS_SQL}) t GROUP BY doc_id
"""


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature per document: shingle -> k sha256 lanes -> min.

    At scale the explode+groupBy is one shuffle on doc_id; signatures are
    k*32 bytes/doc regardless of document size.
    """
    return _minhash_sig(spark, sf_dir)


# (app, sf_dir, tag) -> (fingerprint of the lake's documents files,
# persisted table): the per-lake intermediates that several queries or
# branches re-read (minhash doc table, contamination shingles, LM bigram
# counts). Persisting inside each query on every call would accumulate
# executor memory/disk over a long-lived session; one persisted copy per
# lake content is reused by every caller. Keyed on applicationId so a
# DataFrame bound to a stopped SparkContext never reaches a fresh session,
# and on the files like ``tables._SCHEMAS`` so a lake rewritten in place is
# read afresh. Dropped by clear_caches().
_PERSISTED: dict[tuple[str, str, str], tuple[tuple | None, DataFrame]] = {}


def _persisted(spark: SparkSession, sf_dir: str, tag: str, build) -> DataFrame:
    """``build()`` persisted MEMORY_AND_DISK, reused while the lake's
    documents files are unchanged. A rewrite unpersists the superseded
    table and builds a new one; a lake that cannot be fingerprinted
    (remote) gets a table for this call only, released by the next call
    or clear_caches()."""
    from pyspark import StorageLevel

    key = (spark.sparkContext.applicationId, sf_dir, tag)
    fp = _fingerprint(spark, f"{sf_dir}/documents.parquet")
    seen, df = _PERSISTED.get(key, (None, None))
    if df is not None:
        if fp is not None and fp == seen:
            return df
        df.unpersist()
    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED[key] = (fp, df)
    return df


def _minhash_doc_tbl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc: (doc_id, sh_arr, h0..h{k-1}), persisted MEMORY_AND_DISK.

    Explode WITHOUT a pre-distinct: min() is duplicate-insensitive and
    collect_set dedups inside the same aggregation, so one shuffle on
    doc_id replaces the distinct's shuffle + the groupBy's.

    ``sh_arr`` holds 64-bit shingle ids (first 16 hex chars of the already
    computed sha256 lane digest), not the shingle strings: the per-doc arrays
    and the verify intersect shrink to fixed 16-char elements at zero extra
    hashing cost, and |intersection| / |union| over the hashed sets equals
    the string-set Jaccard (64-bit space, ~1e-15 collision odds per pair —
    and the DuckDB oracle computes distinct-string counts independently, so
    a collision would surface as a hash mismatch, not hide).
    """
    return _persisted(
        spark,
        sf_dir,
        "doc_tbl",
        lambda: doc_tbl_from(fan_out(load(spark, sf_dir, "documents"))),
    )


def doc_tbl_from(d: DataFrame) -> DataFrame:
    """The signature+shingle-set aggregate over any (doc_id, text) frame —
    shared by the cached batch table above and the streaming incremental
    dedup (streaming/documents_stream.py), which must produce
    bitwise-identical rows per doc for its batch-equivalence oracle."""
    sh_rows = exploded_shingles(d.select("doc_id", "text"))
    sh_rows = sh_rows.select("doc_id", "s", *_chunk_cols())
    return sh_rows.groupBy("doc_id").agg(
        F.collect_set(F.substring(F.col("_m0"), 1, 16)).alias("sh_arr"),
        *_chunk_aggs(),
    )


def _band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, key) rows from a signature table with h0..h{k-1}.
    Band key = plain concat of the two 32-bit chunks (already uniform hex;
    re-hashing with md5 would cost k/2 digests per doc for nothing)."""
    return sig.selectExpr(
        "doc_id",
        f"stack({MINHASH_BANDS}, "
        + ", ".join(
            f"{b}, concat(h{2 * b}, h{2 * b + 1})" for b in range(MINHASH_BANDS)
        )
        + ") AS (band, key)",
    )


# --- near-duplicate pair builders -------------------------------------------
# The dedup family builds its pairs through these four: band_pairs (every
# band-key blocker's candidates), verified_pairs (the shingle-array Jaccard
# verify), token_overlap (every exact shared-token count) and jaccard6 (the
# rounded ratio they report).

NEAR_DUP_JACCARD_MIN = 0.2  # minhash verify threshold (batch and streaming)


def band_pairs(
    a: DataFrame, b: DataFrame | None = None, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) of (doc_id, band, key) rows
    that share a band key — an equi-join on (band, key), never all-pairs.
    ``b=None`` pairs ``a`` with itself; otherwise doc_a comes from ``a``
    and doc_b from ``b``. Each ``carry`` column c of the band rows rides
    along as c_a / c_b."""
    return (
        a.alias("a").join(
            (a if b is None else b).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )


def jaccard6(
    n_common: str | Column = "n_common",
    n_a: str | Column = "n_a",
    n_b: str | Column = "n_b",
) -> Column:
    """n_common / (n_a + n_b - n_common) in doubles, rounded to 6 dp."""
    n_common, n_a, n_b = (
        F.col(c) if isinstance(c, str) else c for c in (n_common, n_a, n_b)
    )
    return F.round(
        n_common.cast("double") / (n_a + n_b - n_common).cast("double"), 6
    )


def verified_pairs(a_tbl: DataFrame, b_tbl: DataFrame, cand: DataFrame) -> DataFrame:
    """Candidate pairs verified by exact shingle Jaccard >= NEAR_DUP_JACCARD_MIN,
    from the per-doc ``sh_arr`` arrays of two doc tables (doc_a's from
    ``a_tbl``, doc_b's from ``b_tbl``): (doc_a, doc_b, n_common, n_a, n_b,
    jaccard). array_intersect on the joined arrays — no shuffle on the raw
    shingles and no (doc_a, doc_b) re-aggregation. No broadcast hint on
    cand: with a high duplicate rate the band-candidate set is
    corpus-order, so an unconditional broadcast would OOM the executors at
    100 TB; AQE sees the runtime size and still picks a broadcast join
    when it is small (verified in the plan test)."""
    a_side = a_tbl.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("arr_a"))
    b_side = b_tbl.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("arr_b"))
    n_a, n_b = F.size("arr_a"), F.size("arr_b")
    return (
        a_side.join(cand, "doc_a")
        .join(b_side, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("arr_a", "arr_b")).cast("long"))
        .withColumn("jaccard", jaccard6("n_common", n_a, n_b))
        .filter(F.col("jaccard") >= NEAR_DUP_JACCARD_MIN)
        .select("doc_a", "doc_b", "n_common", n_a.alias("n_a"), n_b.alias("n_b"), "jaccard")
    )


def token_overlap(rows: DataFrame, cand: DataFrame | None = None) -> DataFrame:
    """Exact shared-token counts (doc_a, doc_b, n_common, n_a, n_b) over a
    distinct (doc_id, token) frame, n_a / n_b being each doc's token
    count. Without ``cand``: every pair (doc_a < doc_b) sharing a token,
    by a token-keyed self-join (the bounded-sample exact kernel). With
    ``cand`` (doc_a, doc_b): only those pairs, joined against the rows of
    candidate docs alone (semi-join pruning). Either way a pair that
    shares no token is absent. The per-doc counts read the unpruned rows,
    so a blocker that already aggregated them (the prefix filter's sizes)
    shares that aggregate."""
    tok = rows.columns[1]
    counts = rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    if cand is not None:
        ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        rows = rows.join(ids, "doc_id", "left_semi")
        common = cand.join(
            rows.select(F.col("doc_id").alias("doc_a"), tok), "doc_a"
        ).join(
            rows.select(F.col("doc_id").alias("_doc_b"), F.col(tok).alias("_tok_b")),
            (F.col("_doc_b") == F.col("doc_b")) & (F.col("_tok_b") == F.col(tok)),
        )
    else:
        common = (
            rows.select(F.col("doc_id").alias("doc_a"), tok)
            .join(rows.select(F.col("doc_id").alias("doc_b"), tok), tok)
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
    return (
        common.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


def char5_grams(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, g) character-5-gram rows of a (doc_id, text) frame
    (a text shorter than 5 chars is its own single gram)."""
    return d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("text") - 4, F.lit(1))),
                lambda i: F.substring(F.col("text"), i, 5),
            )
        ).alias("g"),
    ).distinct()


def minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash->LSH->verify near-dup pipeline.

    Bands of 2 hashes -> band key; candidate pairs share >=1 band
    (equi-join on (band_idx, key) — the scale path: never all-pairs);
    verified with exact shingle Jaccard, kept at >= 0.2.

    One combined groupBy(doc_id) produces BOTH the minhash signature and
    the doc's shingle array; the table is persisted (MEMORY_AND_DISK, cached
    once per sf_dir — see _minhash_doc_tbl) so the expensive
    explode+aggregate subtree executes exactly once — measured: without the
    persist, Catalyst's ReusedExchange covers the band self-join but NOT the
    two verify branches, recomputing the subtree and roughly doubling
    runtime. The persisted table is one row per doc (signature + shingle
    array), i.e. ~corpus-sized: at 100 TB keep MEMORY_AND_DISK (spills,
    never OOMs) or swap for a checkpoint.
    """
    doc_tbl = _minhash_doc_tbl(spark, sf_dir)
    cand = band_pairs(_band_rows(doc_tbl))
    return verified_pairs(doc_tbl, doc_tbl, cand).select("doc_a", "doc_b", "jaccard")


_MINHASH_PAIRS_SQL = f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS key FROM sig"
      for b in range(MINHASH_BANDS)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sh AS ({_SHINGLE_ROWS_SQL}),
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN counts na ON na.doc_id = doc_a
JOIN counts nb ON nb.doc_id = doc_b
WHERE round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) >= CAST(0.2 AS DOUBLE)
"""


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 64
SIMHASH_LANES = 4  # 4 independent 16-bit lanes = the 4 LSH band keys
_LANE_BITS = SIMHASH_BITS // SIMHASH_LANES  # 16

# shared md5-lane integer hashing (functions/hashes.py) — local aliases keep
# the many call sites below unchanged
from ..functions.hashes import (  # noqa: E402
    HEXDIGITS as _HEXDIGITS,
    hex4_to_int as _hex4_to_int,
    hex4_to_int_sql as _hex4_to_int_sql,
)


def _pack_lanes(sh3: Column, sh2: Column, sh1: Column, sh0: Column) -> Column:
    """Pack four 16-bit lanes into ONE signed 64-bit value (two's complement:
    lane 3 carries the sign bit, so map it into [-32768, 32767] before the
    shift — -32768 * 2^48 is exactly BIGINT min, no overflow under ANSI)."""
    sh3s = F.when(sh3 < 32768, sh3).otherwise(sh3 - 65536)
    return (
        sh3s * F.lit(1 << 48).cast("bigint")
        + sh2 * F.lit(1 << 32).cast("bigint")
        + sh1 * F.lit(1 << 16).cast("bigint")
        + sh0
    ).cast("bigint")


def _simhash_lanes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash over word tokens as four 16-bit lanes sh0..sh3 plus the
    packed 64-bit value. One md5 per token supplies all 64 bit-hashes (hex
    chars [0:4) [4:8) [8:12) [12:16) -> lanes); per-bit majority vote via
    sum((hv >> b) & 1) against count(*) — integer shift/mask only, all inside
    whole-stage codegen. Explode + one groupBy: a single shuffle on doc_id
    with map-side partial sums, 65 agg columns. Scale: O(tokens) rows
    shuffled once, no data-dependent blowup."""
    d = fan_out(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tok = tok.select("doc_id", F.md5(F.col("w")).alias("h"))
    tok = tok.select(
        "doc_id",
        *[
            _hex4_to_int(F.col("h"), 4 * lane).alias(f"hv{lane}")
            for lane in range(SIMHASH_LANES)
        ],
    )
    bit_sums = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(
                F.shiftright(F.col(f"hv{lane}"), b).bitwiseAND(F.lit(1))
            ).alias(f"b{lane}_{b}")
            for lane in range(SIMHASH_LANES)
            for b in range(_LANE_BITS)
        ],
    )
    # bit set iff set-count >= unset-count  <=>  2*sum >= n_tok (old +-1 vote)
    lanes = [
        sum(
            (
                F.when(2 * F.col(f"b{lane}_{b}") >= F.col("n_tok"), F.lit(1 << b))
                .otherwise(F.lit(0))
                for b in range(_LANE_BITS)
            ),
            start=F.lit(0),
        ).cast("bigint").alias(f"sh{lane}")
        for lane in range(SIMHASH_LANES)
    ]
    lanes_df = bit_sums.select("doc_id", *lanes)
    return lanes_df.select(
        "doc_id",
        *[f"sh{lane}" for lane in range(SIMHASH_LANES)],
        _pack_lanes(
            F.col("sh3"), F.col("sh2"), F.col("sh1"), F.col("sh0")
        ).alias("simhash"),
    )


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document, packed into one signed bigint."""
    return _simhash_lanes(spark, sf_dir).select("doc_id", "simhash")


_SIMHASH_LANES_SQL = f"""
WITH tok AS (
  SELECT doc_id, md5(w) AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
),
hv AS (
  SELECT doc_id,
         {", ".join(_hex4_to_int_sql("h", 4 * lane) + f" AS hv{lane}" for lane in range(SIMHASH_LANES))}
  FROM tok
),
bit_sums AS (
  SELECT doc_id, count(*) AS n_tok,
         {", ".join(
             f"sum((hv{lane} >> {b}) & 1) AS b{lane}_{b}"
             for lane in range(SIMHASH_LANES)
             for b in range(_LANE_BITS)
         )}
  FROM hv GROUP BY doc_id
),
lanes AS (
  SELECT doc_id,
         {", ".join(
             "CAST("
             + " + ".join(
                 f"(CASE WHEN 2 * b{lane}_{b} >= n_tok THEN {1 << b} ELSE 0 END)"
                 for b in range(_LANE_BITS)
             )
             + f" AS BIGINT) AS sh{lane}"
             for lane in range(SIMHASH_LANES)
         )}
  FROM bit_sums
)
SELECT doc_id, sh0, sh1, sh2, sh3,
       CAST((CASE WHEN sh3 < 32768 THEN sh3 ELSE sh3 - 65536 END) * CAST({1 << 48} AS BIGINT)
            + sh2 * CAST({1 << 32} AS BIGINT) + sh1 * CAST({1 << 16} AS BIGINT) + sh0 AS BIGINT) AS simhash
FROM lanes
"""

_SIMHASH_SQL = f"SELECT doc_id, simhash FROM ({_SIMHASH_LANES_SQL})"


SIMHASH_HAM_MAX = 4


def _simhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash CANDIDATE set (doc_a < doc_b, with both packed hashes
    simhash_a / simhash_b for downstream hamming verification) — the
    share-a-16-bit-lane blocking stage alone, shared by the production
    near-dup path and the blocking-cost eval."""
    sh = _simhash_lanes(spark, sf_dir)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.col(f"sh{band}").alias("key"),
                    )
                    for band in range(SIMHASH_LANES)
                ]
            )
        ).alias("nb"),
    ).select("doc_id", "simhash", "nb.band", "nb.key")
    return band_pairs(bands, carry=("simhash",))


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit simhash into its four 16-bit
    lanes; by pigeonhole any pair within hamming distance 3 shares >= 1 exact
    lane (guaranteed recall), and <= {SIMHASH_HAM_MAX} is a documented recall
    heuristic beyond that. Candidates = share-a-lane, an equi-join on
    (band, 16-bit key): 65,536 buckets per band, so candidate volume stays
    ~N * collision-rate instead of the N^2/16 the old 4-bit nibble banding
    degenerated to — this is the 100 TB shape. Verified with exact
    popcount(xor) on the packed 64-bit values. The oracle runs the identical
    prefilter+verify, making the approximation value-checked."""
    cand = _simhash_candidate_pairs(spark, sf_dir)
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).cast("bigint")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


_SIMHASH_NEAR_DUP_SQL = f"""
WITH sh AS ({_SIMHASH_LANES_SQL}),
bands AS (
  SELECT doc_id, simhash, band,
         CASE band WHEN 0 THEN sh0 WHEN 1 THEN sh1 WHEN 2 THEN sh2 ELSE sh3 END AS key
  FROM sh, (SELECT unnest([0,1,2,3]) AS band) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_HAM_MAX}
"""


# --- SRP cosine blocking (Charikar 2002 random-hyperplane LSH) -------------

SRP_DIM = 1024  # hashed token-count vector width for the SRP blocker —
# wider than feature_hashing's FH_DIM=16 on purpose: a classifier only
# needs fixed width, but DIRECTION resolution is what separates documents
# in cosine space (at 16 buckets the common-token mass makes every doc
# point the same way and SRP degenerates toward all-pairs; measured 88k
# candidates at DIM=16 vs 2.2k at DIM=1024 on the sf0.001 lake)
SRP_BITS = 64  # hyperplanes = signature bits
SRP_BAND_BITS = 16  # 4 bands x 16 bits -> 65,536 buckets per band
SRP_COS_MIN = 0.95  # exact-cosine verification threshold (measured gap:
# true near-dups sit >= 0.99, the collision tail tops out ~0.93)


def _srp_bucket_counts(d: DataFrame) -> DataFrame:
    """Sparse (doc_id, bucket, count) hashed token-count rows — the
    SRP_DIM-wide analogue of feature_hashing's dense vector. One
    map-side-combining aggregate over the token explode."""
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    return (
        toks.select(
            "doc_id", (_hex4_to_int(F.md5(F.col("w"))) % SRP_DIM).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def _srp_sign_table(spark: SparkSession) -> DataFrame:
    """The SRP_DIM x SRP_BITS hyperplane SIGN TABLE as a broadcastable
    frame (b, sgn[SRP_BITS]): sgn[p] = 1 - 2·parity(md5(b:p)) — the same
    deterministic ±1 the per-row definition uses, but evaluated ONCE per
    (bucket, plane) combination (SRP_DIM·SRP_BITS = 65,536 md5 calls
    total) instead of once per (doc, bucket, plane) row. ~0.5 MB framed —
    broadcastable at any corpus scale."""
    # one selectExpr parse instead of SRP_BITS nested Column builders: the
    # per-plane expression tree is identical (same md5/conv/% ops, so the
    # ±1 values are bitwise unchanged), but constructing it through ~10
    # py4j round-trips per plane cost ~0.5 s of driver time per query
    # construction — inside the bench's timed region
    terms = ",".join(
        "CAST(1 - 2 * (CAST(conv(substr(md5("
        f"concat_ws(':', CAST(id AS INT), {p})), 1, 4), 16, 10) AS INT)"
        " % 2) AS BIGINT)"
        for p in range(SRP_BITS)
    )
    return spark.range(SRP_DIM).selectExpr(
        "CAST(id AS INT) AS b", f"array({terms}) AS sgn"
    )


def _srp_doc_stats(per: DataFrame) -> DataFrame:
    """One row per doc: the SRP_BITS exact integer projections s0..s63
    plus the squared norm — ONE broadcast join against the sign table and
    ONE groupBy(doc_id) replace the former |per|·SRP_BITS plane explode
    (which also cost two more shuffles, keyed (doc_id, p) then (doc_id,
    band)). s_p = Σ_b c·sgn(b, p) is the identical order-free BIGINT sum,
    so signatures stay bitwise equal; the squared norm rides the same
    aggregate so the verify stage shares this subtree (exchange-reused)
    instead of re-aggregating ``per``."""
    signs = _srp_sign_table(per.sparkSession)
    j = per.join(F.broadcast(signs), "b")
    # F.expr strings (one parse each) instead of per-plane Column builders
    # — the same sum(c * sgn[p]) aggregates, ~2 s less driver-side
    # construction per query build
    aggs = [
        F.expr(f"CAST(sum(c * sgn[{p}]) AS BIGINT) AS s{p}")
        for p in range(SRP_BITS)
    ]
    aggs.append(F.expr("CAST(sum(c * c) AS BIGINT) AS ssq"))
    return j.groupBy("doc_id").agg(*aggs)


def _srp_band_rows(per: DataFrame, stats: DataFrame | None = None) -> DataFrame:
    """SRP signature as (doc_id, band, key) rows: each of SRP_BITS
    deterministic +-1 hyperplanes (sign = md5-parity of (bucket, plane))
    projects the exact integer count vector; bit p is sign(s_p); bits
    pack into SRP_BITS/SRP_BAND_BITS band keys. All integer arithmetic —
    the signature is bitwise reproducible in any engine. Band keys are
    packed from the per-doc projection row (no per-plane shuffle).

    ``stats`` accepts a prebuilt (possibly materialized) ``_srp_doc_stats``
    frame so a caller that also needs the norms builds the doc-stats
    aggregate ONCE instead of relying on physical-plan exchange reuse to
    dedupe two identically-constructed subplans."""
    stats = _srp_doc_stats(per) if stats is None else stats
    n_bands = SRP_BITS // SRP_BAND_BITS
    # single-parse SQL text for the bit packing (same CASE/multiply/add
    # tree per bit — exact integer arithmetic, values unchanged) instead
    # of SRP_BITS nested Column builders of py4j driver time per build
    def key_sql(band: int) -> str:
        terms = []
        for j in range(SRP_BAND_BITS):
            p = band * SRP_BAND_BITS + j
            terms.append(
                f"CAST(CASE WHEN s{p} >= 0 THEN 1 ELSE 0 END AS BIGINT)"
                f" * CAST({1 << j} AS BIGINT)"
            )
        return "CAST(0 AS BIGINT) + " + " + ".join(terms)

    structs = ",".join(
        f"named_struct('band', CAST({band} AS BIGINT), 'key', {key_sql(band)})"
        for band in range(n_bands)
    )
    return stats.select(
        "doc_id", F.expr(f"explode(array({structs}))").alias("bk")
    ).select("doc_id", "bk.band", "bk.key")


def _srp_candidate_pairs(per: DataFrame, stats: DataFrame | None = None) -> DataFrame:
    """The SRP CANDIDATE set (doc_a < doc_b): pairs sharing any band key —
    the blocking stage alone, shared by the production near-dup path and
    the blocking-cost eval. ``stats`` threads a prebuilt doc-stats frame
    through to the band derivation (see ``_srp_band_rows``)."""
    return band_pairs(_srp_band_rows(per, stats))


def srp_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via signed-random-projection LSH
    (Charikar 2002) over deterministic hashed token-count vectors — the
    cosine-space member of the blocking family (minhash=Jaccard,
    simhash=Hamming, prefix-filter=exact Jaccard, SN=sort-prefix):
    P[bit agrees] = 1 − θ/π, so near-parallel vectors share whole
    SRP_BAND_BITS-bit bands and land in the same 65,536-way bucket.
    Candidates verify with the EXACT cosine over the integer count
    vectors (one shared-bucket join, BIGINT dot product, one sqrt per
    side), kept at cos ≥ SRP_COS_MIN.

    In production the hashed count vector is a stand-in for any dense
    embedding column: the banding/verify plan is identical, only the
    projection input changes (model embeddings arrive pre-computed; this
    container has no model, so the in-engine featurizer keeps the whole
    path honest and oracle-checkable end to end).

    Scale: signatures cost |tokens|·SRP_BITS hashed rows collapsing
    map-side to |docs|·SRP_BITS; candidates are band-bucket equi-joins
    (never all-pairs); verification touches candidate docs' buckets only
    via semi-join-sized joins."""
    from ..operators.checkpoints import tracked_local_checkpoint

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # `per` feeds FOUR consumers — the sign-table doc-stats aggregate and
    # both legs (pa/pb) of the exact-dot verify join — so the token-explode
    # + groupBy build is materialized ONCE (sparse |docs|·avg-distinct-bucket
    # rows of three ints; bounded at any corpus scale by |tokens| collapsing
    # map-side). Without the barrier the verify legs re-ran the tokenize +
    # count build per consumer (guide §5: materialize reused intermediates).
    per, _ = tracked_local_checkpoint(_srp_bucket_counts(d))
    # doc-stats (the 64 BIGINT projections + ssq) feeds the band keys AND
    # both ssq legs of the cosine: build it once and materialize the
    # |docs|-row frame instead of relying on ReuseExchange to match two
    # separately-constructed identical subplans (ADVICE r13).
    stats, _ = tracked_local_checkpoint(_srp_doc_stats(per))
    cand = _srp_candidate_pairs(per, stats)
    ssq = stats.select("doc_id", "ssq")
    pa = per.select(F.col("doc_id").alias("doc_a"), "b", F.col("c").alias("ca"))
    pb = per.select(F.col("doc_id").alias("doc_b"), "b", F.col("c").alias("cb"))
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
    return (
        dots.join(
            ssq.select(F.col("doc_id").alias("doc_a"), F.col("ssq").alias("ssq_a")),
            "doc_a",
        )
        .join(
            ssq.select(F.col("doc_id").alias("doc_b"), F.col("ssq").alias("ssq_b")),
            "doc_b",
        )
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= F.lit(SRP_COS_MIN))
        .select("doc_a", "doc_b", "cos_sim")
        .orderBy("doc_a", "doc_b")
    )


def _srp_cand_ctes() -> str:
    """The SRP candidate chain as CTE text (names prefixed srp_/per to
    stay collision-free inside larger oracle queries) — shared by the
    standalone near-dup oracle and the blocking-cost audit."""
    return f"""per AS (
  SELECT doc_id, {_hex4_to_int_sql("md5(w)")} % {SRP_DIM} AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
  GROUP BY 1, 2),
srp_proj AS (
  SELECT doc_id, p,
         CAST(sum(c * (1 - 2 * ({_hex4_to_int_sql("md5(b || ':' || p)")} % 2))) AS BIGINT) AS s
  FROM per CROSS JOIN (SELECT unnest(generate_series(0, {SRP_BITS - 1})) AS p) ps
  GROUP BY 1, 2),
srp_bands AS (
  SELECT doc_id, p // {SRP_BAND_BITS} AS band,
         CAST(sum((CASE WHEN s >= 0 THEN 1 ELSE 0 END)
                  * (CAST(1 AS BIGINT) << (p % {SRP_BAND_BITS}))) AS BIGINT) AS key
  FROM srp_proj GROUP BY 1, 2),
srp_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM srp_bands a JOIN srp_bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)"""


_SRP_NEAR_DUP_SQL = f"""
WITH {_srp_cand_ctes()},
ssq AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS ssq FROM per GROUP BY 1),
dots AS (
  SELECT c.doc_a, c.doc_b, CAST(sum(pa.c * pb.c) AS BIGINT) AS dot
  FROM srp_cand c
  JOIN per pa ON pa.doc_id = c.doc_a
  JOIN per pb ON pb.doc_id = c.doc_b AND pb.b = pa.b
  GROUP BY 1, 2)
SELECT d.doc_a, d.doc_b,
       round(CAST(dot AS DOUBLE)
             / (sqrt(CAST(sa.ssq AS DOUBLE)) * sqrt(CAST(sb.ssq AS DOUBLE))),
             6) AS cos_sim
FROM dots d
JOIN ssq sa ON sa.doc_id = d.doc_a
JOIN ssq sb ON sb.doc_id = d.doc_b
WHERE round(CAST(dot AS DOUBLE)
            / (sqrt(CAST(sa.ssq AS DOUBLE)) * sqrt(CAST(sb.ssq AS DOUBLE))),
            6) >= {dlit(SRP_COS_MIN)}
ORDER BY doc_a, doc_b
"""


# --- Hamming key join (pigeonhole-banded exact ER matching) ----------------

HAM_KEY_LEN = 24  # normalized fixed-length entity key (the SN key, padded)
HAM_MAX = 2  # match threshold: keys within hamming distance 2
HAM_BANDS = HAM_MAX + 1  # pigeonhole: ≤2 mismatches cannot touch all 3 bands
HAM_BAND_LEN = HAM_KEY_LEN // HAM_BANDS


def hamming_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Hamming-distance entity-key join with GUARANTEED recall —
    the classic dirty-ER primitive (typo-tolerant key matching) done
    with the prefix-filter discipline: keys are the sorted-neighborhood
    normalization (lowercased alphanumerics) cut/padded to a fixed
    HAM_KEY_LEN chars; two keys MATCH when ≤ HAM_MAX positions differ.
    Blocking is the pigeonhole band split (the PassJoin/simhash-lane
    argument applied to raw characters): split every key into
    HAM_MAX + 1 equal bands — ≤ HAM_MAX substitutions cannot touch all
    of them, so any true match shares at least one band VERBATIM, and
    the band equi-join is recall-complete by theorem. Verification
    counts mismatched positions with a static unrolled character
    comparison (24 substring equalities — whole-stage-codegen'd, no
    UDF).

    Like llm_prefix_filter_join, the ORACLE is deliberately the
    all-pairs semantics: a driver hash-match is a recall-1.0 proof on
    data, not a spot check.

    Scale: band keys are 8-char substrings — the same
    65k+-bucket-cardinality class as the simhash lanes, the least-skewed
    blocking keys available from raw text; the verify join touches only
    band-sharing pairs; the hamming expression is 24 byte compares."""
    norm = F.rpad(
        F.substring(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""),
            1,
            HAM_KEY_LEN,
        ),
        HAM_KEY_LEN,
        "#",
    )
    d = load(spark, sf_dir, "documents").select("doc_id", norm.alias("k"))
    bands = d.select(
        "doc_id",
        "k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring(
                            F.col("k"), b * HAM_BAND_LEN + 1, HAM_BAND_LEN
                        ).alias("key"),
                    )
                    for b in range(HAM_BANDS)
                ]
            )
        ).alias("nb"),
    ).select("doc_id", "k", "nb.band", "nb.key")
    cand = band_pairs(bands, carry=("k",))
    ham = sum(
        (
            F.when(
                F.substring(F.col("k_a"), i, 1) != F.substring(F.col("k_b"), i, 1),
                1,
            ).otherwise(0)
            for i in range(1, HAM_KEY_LEN + 1)
        ),
        start=F.lit(0),
    ).cast("bigint")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def _hamming_key_sql() -> str:
    ham = " + ".join(
        f"(CASE WHEN substr(ka, {i}, 1) != substr(kb, {i}, 1) THEN 1 ELSE 0 END)"
        for i in range(1, HAM_KEY_LEN + 1)
    )
    # the oracle is the ALL-PAIRS semantics: matching it bitwise proves
    # the pigeonhole blocking missed nothing on this data
    return f"""
WITH keyed AS (
  SELECT doc_id,
         rpad(substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                     1, {HAM_KEY_LEN}), {HAM_KEY_LEN}, '#') AS k
  FROM documents),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.k AS ka, b.k AS kb
  FROM keyed a JOIN keyed b ON a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
FROM pairs
WHERE {ham} <= {HAM_MAX}
ORDER BY doc_a, doc_b
"""


def near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: corpus minus the higher-id member of every verified
    minhash near-dup pair (greedy keep-lowest-id survivor policy) — the
    query a training-data pipeline actually ships. Anti-join on the kill
    list; no broadcast hint — at a high duplicate rate the kill list is
    corpus-proportional, so an unconditional broadcast would OOM at 100 TB.
    AQE sees the runtime size and still broadcasts when it is small.
    """
    d = load(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(spark, sf_dir)
    kills = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        d.join(kills, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


_SURVIVORS_SQL = f"""
WITH pairs AS ({_MINHASH_PAIRS_SQL}),
kills AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d ANTI JOIN kills k ON d.doc_id = k.doc_id
"""


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-5-gram Jaccard for all pairs in a small id range —
    the exact-verification kernel the LSH pipelines approximate."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    return token_overlap(char5_grams(d)).select(
        "doc_a", "doc_b", jaccard6().alias("jaccard")
    )


_NGRAM_JACCARD_SQL = """
WITH grams AS (
  SELECT DISTINCT doc_id,
         unnest([substr(text, i, 5) for i in generate_series(1, greatest(length(text) - 4, 1))]) AS g
  FROM documents WHERE doc_id < 40
),
counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / CAST(na.n + nb.n - n_common AS DOUBLE), 6) AS jaccard
FROM common JOIN counts na ON na.doc_id = doc_a JOIN counts nb ON nb.doc_id = doc_b
"""


SN_KEY_CHARS = 24  # normalized sort-key length
SN_BLOCK_CHARS = 2  # sort-prefix block: the window is partition-local
SN_WINDOW = 3  # each doc meets the next SN_WINDOW-1 docs in sort order
SN_JACCARD_MIN = 0.4  # char-5-gram verification threshold


def _sn_candidate_pairs(
    spark: SparkSession, sf_dir: str, docs: DataFrame | None = None
) -> DataFrame:
    """The sorted-neighborhood CANDIDATE set (doc_a < doc_b) — the
    blocking stage alone, shared by the production dedup path and the
    blocking-cost eval. Callers that already hold the (doc_id, text)
    frame pass it via `docs` so the corpus is scanned once."""
    from pyspark.sql import Window

    d = (
        docs.select("doc_id", "text")
        if docs is not None
        else load(spark, sf_dir, "documents").select("doc_id", "text")
    )
    k = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""),
        1,
        SN_KEY_CHARS,
    )
    keyed = d.select(
        "doc_id", k.alias("k"), F.substring(k, 1, SN_BLOCK_CHARS).alias("blk")
    )
    w = Window.partitionBy("blk").orderBy("k", "doc_id")
    legs = []
    for j in range(1, SN_WINDOW):
        legs.append(
            keyed.select(
                "doc_id", F.lead("doc_id", j).over(w).alias("nbr")
            ).filter(F.col("nbr").isNotNull())
        )
    cand = legs[0]
    for leg in legs[1:]:
        cand = cand.unionByName(leg)
    return cand.select(
        F.least("doc_id", "nbr").alias("doc_a"),
        F.greatest("doc_id", "nbr").alias("doc_b"),
    )


def sorted_neighborhood_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernandez & Stolfo 1995) — the
    classic entity-resolution strategy missing from the minhash/simhash/
    winnow family: normalize a sort key (lowercased alphanumerics, first
    SN_KEY_CHARS chars), sort, and compare each doc only to its next
    SN_WINDOW-1 neighbors in sort order; candidates verify by exact
    char-5-gram Jaccard >= SN_JACCARD_MIN. Near-identical texts share
    normalized prefixes, so they land adjacent — O(n·w) candidate pairs
    from one sort instead of O(n²) comparisons, and unlike LSH the
    recall story is human-auditable (sort the file, look at neighbors).

    Scale: the sort is PARTITION-LOCAL by design — the window runs inside
    SN_BLOCK_CHARS sort-prefix blocks (a real deployment range-partitions
    by the same prefix), so no global-order window ever materializes one
    partition (the llm_global_shard_plan discipline). Pairs crossing a
    block boundary differ in their first two normalized chars and are by
    definition not prefix-adjacent — the documented, bounded recall trade
    every blocking strategy makes. Gram verification (token_overlap) joins
    the 5-grams of CANDIDATE docs only (semi-join pruning), gram-keyed,
    and the jaccard is one divide of exact integer counts."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    cand = _sn_candidate_pairs(spark, sf_dir, docs=d)
    return (
        token_overlap(char5_grams(d), cand)
        .select("doc_a", "doc_b", jaccard6().alias("jaccard"))
        .filter(F.col("jaccard") >= SN_JACCARD_MIN)
        .orderBy("doc_a", "doc_b")
    )


_SORTED_NEIGHBORHOOD_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, {SN_KEY_CHARS}) AS k
  FROM documents),
blocked AS (
  SELECT doc_id, k, substr(k, 1, {SN_BLOCK_CHARS}) AS blk FROM keyed),
cand0 AS (
  SELECT doc_id,
         lead(doc_id, 1) OVER (PARTITION BY blk ORDER BY k, doc_id) AS n1,
         lead(doc_id, 2) OVER (PARTITION BY blk ORDER BY k, doc_id) AS n2
  FROM blocked),
cand AS (
  SELECT least(doc_id, n1) AS doc_a, greatest(doc_id, n1) AS doc_b
  FROM cand0 WHERE n1 IS NOT NULL
  UNION ALL
  SELECT least(doc_id, n2), greatest(doc_id, n2)
  FROM cand0 WHERE n2 IS NOT NULL),
grams AS (
  SELECT DISTINCT doc_id,
         unnest([substr(text, i, 5)
                 for i in generate_series(1, greatest(length(text) - 4, 1))]) AS g
  FROM documents
  WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand)),
counts AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE)
             / CAST(na.n + nb.n - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN counts na ON na.doc_id = doc_a
JOIN counts nb ON nb.doc_id = doc_b
WHERE round(CAST(n_common AS DOUBLE)
            / CAST(na.n + nb.n - n_common AS DOUBLE), 6)
      >= CAST({SN_JACCARD_MIN} AS DOUBLE)
ORDER BY doc_a, doc_b
"""


SN_EVAL_MAX_ID = 200  # exact all-pairs ground truth runs on this sample


def sn_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of sorted-neighborhood BLOCKING against exact all-pairs
    char-5-gram Jaccard ground truth on a bounded doc sample — the
    dedup_pr_eval discipline applied to the new rung: since the SN
    pipeline verifies candidates with the SAME metric and threshold as
    the ground truth, precision is 1.0 by construction and the number
    this eval exists for is RECALL — qualifying pairs the sort order
    never placed within the window (different prefixes, cross-block
    adjacency). One row: exact counts + NULL-guarded rounded ratios.

    Scale: ground truth is the O(N²) gram kernel, so it runs on the
    SN_EVAL_MAX_ID sample exactly like dedup_pr_eval; the predicted side
    reuses the production blocking path unchanged."""
    lim = SN_EVAL_MAX_ID
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < lim)
        .select("doc_id", "text")
    )
    truth = (
        token_overlap(char5_grams(d))
        .filter(jaccard6() >= SN_JACCARD_MIN)
        .select("doc_a", "doc_b")
    )
    return _pr_row(truth, sorted_neighborhood_dup(spark, sf_dir), lim)


def _pr_row(truth: DataFrame, pairs: DataFrame, lim: int) -> DataFrame:
    """One row scoring predicted ``pairs`` (restricted to doc ids < lim)
    against ``truth``: n_truth, n_pred, n_tp and the NULL-guarded rounded
    precision and recall."""
    pred = pairs.filter((F.col("doc_a") < lim) & (F.col("doc_b") < lim)).select(
        "doc_a", "doc_b"
    )
    tp = truth.join(pred, ["doc_a", "doc_b"]).select("doc_a")
    stats = (
        truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
        .crossJoin(pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_pred")))
        .crossJoin(tp.agg(F.count(F.lit(1)).cast("bigint").alias("n_tp")))
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.round(F.col(num).cast("double") / F.col(den).cast("double"), 6),
    )
    return stats.select(
        "n_truth",
        "n_pred",
        "n_tp",
        ratio("n_tp", "n_pred").alias("precision"),
        ratio("n_tp", "n_truth").alias("recall"),
    )


_SN_RECALL_EVAL_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id,
         unnest([substr(text, i, 5)
                 for i in generate_series(1, greatest(length(text) - 4, 1))]) AS g
  FROM documents WHERE doc_id < {SN_EVAL_MAX_ID}
),
counts AS (SELECT doc_id, count(*) AS n_sh FROM grams GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT doc_a, doc_b FROM common
  JOIN counts na ON na.doc_id = doc_a
  JOIN counts nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE)
              / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6)
        >= CAST({SN_JACCARD_MIN} AS DOUBLE)),
pred AS (
  SELECT doc_a, doc_b FROM ({_SORTED_NEIGHBORHOOD_SQL}) p
  WHERE doc_a < {SN_EVAL_MAX_ID} AND doc_b < {SN_EVAL_MAX_ID}),
tp AS (SELECT t.doc_a FROM truth t JOIN pred p
       ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b),
s AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         (SELECT CAST(count(*) AS BIGINT) FROM pred) AS n_pred,
         (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_tp)
SELECT n_truth, n_pred, n_tp,
       CASE WHEN n_pred > 0
            THEN round(CAST(n_tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END
         AS precision,
       CASE WHEN n_truth > 0
            THEN round(CAST(n_tp AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) END
         AS recall
FROM s
"""


PF_T_NUM, PF_T_DEN = 4, 5  # exact Jaccard threshold t = 4/5 on shingle sets


def _pf_candidate_pairs(
    sh: DataFrame,
    sz: DataFrame,
    positional: bool = True,
    t_num: int = PF_T_NUM,
    t_den: int = PF_T_DEN,
) -> DataFrame:
    """The prefix-filter CANDIDATE set (doc_a < doc_b, length-filtered,
    distinct) over a (doc_id, s) shingle frame — the recall-complete
    blocking stage alone, shared by the production join and the
    blocking-cost eval.

    ``positional=True`` (the default, PPJoin — Xiao et al. 2008, the
    published successor to All-Pairs) additionally applies the
    POSITIONAL filter, generalized to every shared prefix token rather
    than only the first match: a token s at 1-indexed rarest-first
    ranks (pa, pb) bounds the overlap by
        common ≤ min(pa, pb) − 1 + 1 + min(sz_a − pa, sz_b − pb)
    (shared tokens ordered before s number at most min(pa,pb)−1; after
    s at most min of the suffix lengths), so the pair survives only if
    the MINIMUM such bound still reaches the required overlap
    α = ceil(t/(1+t)·(sz_a+sz_b)), i.e. (NUM+DEN)·ub ≥ NUM·(sz_a+sz_b)
    in exact integers. J ≥ t implies common ≥ α ≤ ub, so no true pair
    is ever pruned — the recall-1.0 theorem (and the all-pairs oracle
    hash) is untouched; only never-qualifying candidates drop. The
    per-pair MIN rides the same groupBy that deduplicated multi-token
    meetings, so the filter costs no extra shuffle. PPJoin+'s recursive
    binary-search SUFFIX filter is deliberately absent: it needs
    per-pair token-array recursion (control flow, not relational
    algebra); the positional filter is where the relational formulation
    stops, and the measured candidate cut is recorded in the pytest."""
    from pyspark.sql import Window

    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dfreq, "s")
        .join(sz, "doc_id")
        .select(
            "doc_id",
            "s",
            "sz",
            F.row_number()
            .over(Window.partitionBy("doc_id").orderBy("df", "s"))
            .alias("rn"),
        )
    )
    # prefix length p = sz - ceil(t*sz) + 1, all-integer ceil division
    ceil_t_sz = F.floor(
        (F.lit(t_num) * F.col("sz") + F.lit(t_den - 1)) / F.lit(t_den)
    )
    prefix = ranked.filter(F.col("rn") <= F.col("sz") - ceil_t_sz + 1)
    a = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "s",
        F.col("sz").alias("sz_a"),
        F.col("rn").alias("rn_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "s",
        F.col("sz").alias("sz_b"),
        F.col("rn").alias("rn_b"),
    )
    met = (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: J >= t implies t*max(sz) <= min(sz)
        .filter(
            F.lit(t_den) * F.least("sz_a", "sz_b")
            >= F.lit(t_num) * F.greatest("sz_a", "sz_b")
        )
    )
    if not positional:
        return met.select("doc_a", "doc_b").distinct()
    ub = F.least("rn_a", "rn_b") + F.least(
        F.col("sz_a") - F.col("rn_a"), F.col("sz_b") - F.col("rn_b")
    )
    return (
        met.groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.min(ub).alias("ub"))
        .filter(
            F.lit(t_num + t_den) * F.col("ub")
            >= F.lit(t_num) * (F.col("sz_a") + F.col("sz_b"))
        )
        .select("doc_a", "doc_b")
    )


def prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (Chaudhuri et
    al. 2006; Bayardo et al. 2007 "All-Pairs") — the missing rung between
    the approximate blockers (minhash/LSH, simhash, sorted-neighborhood)
    and the bounded-sample exact kernels (llm_ngram_jaccard): guaranteed
    recall 1.0 over the WHOLE corpus without an all-pairs join. Order the
    corpus shingle vocabulary rarest-first (doc frequency, then shingle);
    each doc's PREFIX is its first |s| - ceil(t·|s|) + 1 shingles in that
    order. Theorem: two sets with J ≥ t must share a prefix token — if
    they shared none, even perfect overlap of the remaining suffixes
    leaves the intersection below t·union. So the candidate set = pairs
    meeting in ≥1 prefix-shingle bucket is recall-complete, and prefixes
    are RARE tokens by construction, so buckets stay small where a raw
    inverted index would explode on common shingles.

    Every comparison is integer: prefix length via ceil-division in
    BIGINTs, the threshold predicate as PF_T_DEN·common ≥
    PF_T_NUM·(|a|+|b|-common) — no doubles until the reported jaccard.
    Because the filter is exact, the ORACLE is the straightforward
    all-pairs semantics: a driver hash-match is a recall-1.0 proof on
    real data, not a spot check.

    Scale: df table is one map-side-combining count; the per-doc rank
    window partitions by doc_id (bounded by max doc length, not corpus
    size); the candidate join is equi on prefix shingles (the classic
    skew win: the rarest tokens are the least skewed); verification
    explodes shingles for candidate docs only (semi-join pruned). The
    length filter PF_T_DEN·|b| ≥ PF_T_NUM·|a| (implied by J ≥ t) prunes
    candidates before gram counting."""
    sh = _shingle_rows(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    scored = token_overlap(sh, _pf_candidate_pairs(sh, sz)).filter(
        F.lit(PF_T_DEN) * F.col("n_common")
        >= F.lit(PF_T_NUM) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        "n_common",
        F.col("n_a").alias("sz_a"),
        F.col("n_b").alias("sz_b"),
        jaccard6().alias("jaccard"),
    ).orderBy("doc_a", "doc_b")


def exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the EXACT prefix-filter pairs — the
    guarantee composition the approximate stack can't offer: the edge
    set is recall-complete at J ≥ PF_T_NUM/PF_T_DEN (prefix theorem), so
    every component here is EXACTLY a maximal transitive near-dup group
    at that threshold — no dup survives because LSH banding or a sort
    window happened to miss its edge. The cluster id is the min member
    id; unclustered docs are absent (join survivor logic handles them,
    as cluster_best_survivor does for the minhash clusters).

    Scale: the component iteration runs on the near-dup pair set (tiny
    vs the corpus — 25 pairs at sf0.01); O(diameter) min-label rounds
    (operators/components.py), each a pair-keyed join."""
    from ..operators.components import connected_components

    pairs = prefix_filter_join(spark, sf_dir)
    return connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).orderBy("doc_id")


# The oracle is deliberately the ALL-PAIRS exact semantics: matching it
# bitwise is the recall-1.0 guarantee demonstrated on data.
_PREFIX_FILTER_SQL = f"""
WITH sh AS ({_SHINGLE_ROWS_SQL}),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b,
       round(CAST(n_common AS DOUBLE)
             / CAST(sa.sz + sb.sz - n_common AS DOUBLE), 6) AS jaccard
FROM common
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE {PF_T_DEN} * n_common >= {PF_T_NUM} * (sa.sz + sb.sz - n_common)
ORDER BY doc_a, doc_b
"""


_EXACT_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_PREFIX_FILTER_SQL}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
ORDER BY doc_id
"""


def blocking_cost_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-to-head cost/recall audit of the FIVE blocking strategies
    the dedup family ships (minhash-LSH banding, prefix filtering,
    sorted-neighborhood, simhash lane-sharing, SRP cosine-LSH) against
    the exact all-pairs baseline — the completeness critic for the
    near-dup stack: one row per strategy with the candidate volume it
    generates, how many of its candidates are TRUE pairs under ONE
    common ground truth (exact word-3-gram shingle Jaccard ≥
    PF_T_NUM/PF_T_DEN), and its recall. The numbers a user needs to
    pick a blocker: prefix_filter is recall-1.0 by theorem, LSH trades
    recall for the cheapest candidates, SN's sort window is the
    narrowest and misses non-prefix-similar pairs, simhash/srp_cosine
    block in Hamming/cosine space so their recall against a JACCARD
    truth quantifies exactly how much metric mismatch costs.

    All candidate generators are the PRODUCTION code paths
    (band_pairs over _band_rows/_pf_candidate_pairs/_sn_candidate_pairs/
    _simhash_candidate_pairs/_srp_candidate_pairs — not
    re-implementations), so the audit measures what actually ships.
    Verified counts are candidate ∩ truth (the common metric makes
    per-candidate re-verification redundant).

    Scale: each strategy's candidate set is the same bounded structure
    its production query builds; truth reuses the recall-complete
    prefix-filter join; the final frame is 6 rows."""
    from ..operators.checkpoints import tracked_local_checkpoint

    sh = _shingle_rows(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    # the exact-truth pair set is consumed by every strategy's semi-join
    # plus two scalar counts; its build (the exact shingle self-join) is
    # the most expensive subtree here — materialize the few-hundred-row
    # result once
    truth, _ = tracked_local_checkpoint(
        prefix_filter_join(spark, sf_dir).select("doc_a", "doc_b"),
    )
    n_docs = sz.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    strategies = [
        ("minhash_lsh", band_pairs(_band_rows(_minhash_doc_tbl(spark, sf_dir)))),
        ("prefix_filter", _pf_candidate_pairs(sh, sz)),
        ("sorted_neighborhood", _sn_candidate_pairs(spark, sf_dir)),
        (
            "simhash",
            _simhash_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        ),
        (
            "srp_cosine",
            _srp_candidate_pairs(
                _srp_bucket_counts(
                    load(spark, sf_dir, "documents").select("doc_id", "text")
                )
            ),
        ),
    ]
    rows = None
    for name, cand in strategies:
        # each candidate set is consumed twice (volume count + truth
        # semi-join); the sets are pair-sized but their builds are the
        # production blocker subtrees — materialize each once
        cand, _ = tracked_local_checkpoint(cand)
        r = (
            cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
            .crossJoin(
                cand.join(truth, ["doc_a", "doc_b"], "left_semi").agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_verified")
                )
            )
            .select(F.lit(name).alias("strategy"), "n_candidates", "n_verified")
        )
        rows = r if rows is None else rows.unionByName(r)
    # n·(n−1)/2 via DECIMAL — a BIGINT square overflows past ~3e9 docs
    half_pairs = F.expr(
        "CAST((CAST(nd AS DECIMAL(38,0)) * (nd - 1)) / 2 AS DECIMAL(38,0))"
    )
    all_pairs_row = n_docs.crossJoin(n_truth).select(
        F.lit("all_pairs").alias("strategy"),
        half_pairs.cast("bigint").alias("n_candidates"),
        F.col("nt").alias("n_verified"),
    )
    out = all_pairs_row.unionByName(rows)
    return (
        out.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "strategy",
            "n_candidates",
            "n_verified",
            F.col("nt").alias("n_truth"),
            F.when(
                F.col("nt") > 0,
                F.round(
                    F.col("n_verified").cast("double") / F.col("nt").cast("double"),
                    6,
                ),
            ).alias("recall"),
            F.round(
                F.col("n_candidates").cast("double")
                / (
                    F.col("nd").cast("double")
                    * (F.col("nd").cast("double") - F.lit(1.0))
                    / F.lit(2.0)
                ),
                6,
            ).alias("candidate_frac"),
        )
        .orderBy("strategy")
    )


def _blocking_cost_sql() -> str:
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS key FROM sig"
        for b in range(MINHASH_BANDS)
    )
    sn_leads = ", ".join(
        f"lead(doc_id, {j}) OVER (PARTITION BY blk ORDER BY k, doc_id) AS n{j}"
        for j in range(1, SN_WINDOW)
    )
    sn_cand_union = " UNION ALL ".join(
        f"SELECT least(doc_id, n{j}) AS doc_a, greatest(doc_id, n{j}) AS doc_b "
        f"FROM sn0 WHERE n{j} IS NOT NULL"
        for j in range(1, SN_WINDOW)
    )
    return f"""
WITH sh AS ({_SHINGLE_ROWS_SQL}),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM sz),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT doc_a, doc_b FROM common
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE {PF_T_DEN} * n_common >= {PF_T_NUM} * (sa.sz + sb.sz - n_common)),
nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM truth),
sig AS ({_MINHASH_SIG_SQL}),
bands AS ({bands_union}),
mh_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
pfranked AS (
  SELECT sh.doc_id, sh.s, sz.sz,
         row_number() OVER (PARTITION BY sh.doc_id ORDER BY df, sh.s) AS rn
  FROM sh JOIN dfreq USING (s) JOIN sz ON sz.doc_id = sh.doc_id),
pfprefix AS (
  SELECT doc_id, s, sz, rn FROM pfranked
  WHERE rn <= sz - ({PF_T_NUM} * sz + {PF_T_DEN - 1}) // {PF_T_DEN} + 1),
pf_met AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sz_a, b.sz AS sz_b,
         least(a.rn, b.rn) + least(a.sz - a.rn, b.sz - b.rn) AS ub
  FROM pfprefix a JOIN pfprefix b ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE {PF_T_DEN} * least(a.sz, b.sz) >= {PF_T_NUM} * greatest(a.sz, b.sz)),
pf_cand AS (
  SELECT doc_a, doc_b FROM pf_met
  GROUP BY doc_a, doc_b, sz_a, sz_b
  HAVING {PF_T_NUM + PF_T_DEN} * min(ub) >= {PF_T_NUM} * (sz_a + sz_b)),
snk AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, {SN_KEY_CHARS}) AS k
  FROM documents),
snb AS (SELECT doc_id, k, substr(k, 1, {SN_BLOCK_CHARS}) AS blk FROM snk),
sn0 AS (SELECT doc_id, {sn_leads} FROM snb),
sn_cand AS ({sn_cand_union}),
siml AS ({_SIMHASH_LANES_SQL}),
sim_bands AS (
  SELECT doc_id,
         CASE band WHEN 0 THEN sh0 WHEN 1 THEN sh1 WHEN 2 THEN sh2 ELSE sh3 END AS key,
         band
  FROM siml, (SELECT unnest([0,1,2,3]) AS band) bb),
sim_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sim_bands a JOIN sim_bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
{_srp_cand_ctes()},
rows_ AS (
  SELECT 'all_pairs' AS strategy,
         -- HUGEINT route mirrors the Spark side's DECIMAL(38,0): a BIGINT
         -- square overflows past ~3e9 docs at the 100TB design point
         CAST(CAST(nd AS HUGEINT) * (nd - 1) // 2 AS BIGINT) AS n_candidates,
         (SELECT nt FROM nt) AS n_verified
  FROM nd
  UNION ALL
  SELECT 'minhash_lsh',
         (SELECT CAST(count(*) AS BIGINT) FROM mh_cand),
         (SELECT CAST(count(*) AS BIGINT) FROM mh_cand c
          JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
  UNION ALL
  SELECT 'prefix_filter',
         (SELECT CAST(count(*) AS BIGINT) FROM pf_cand),
         (SELECT CAST(count(*) AS BIGINT) FROM pf_cand c
          JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
  UNION ALL
  SELECT 'sorted_neighborhood',
         (SELECT CAST(count(*) AS BIGINT) FROM sn_cand),
         (SELECT CAST(count(*) AS BIGINT) FROM sn_cand c
          JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
  UNION ALL
  SELECT 'simhash',
         (SELECT CAST(count(*) AS BIGINT) FROM sim_cand),
         (SELECT CAST(count(*) AS BIGINT) FROM sim_cand c
          JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
  UNION ALL
  SELECT 'srp_cosine',
         (SELECT CAST(count(*) AS BIGINT) FROM srp_cand),
         (SELECT CAST(count(*) AS BIGINT) FROM srp_cand c
          JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b))
SELECT strategy, n_candidates, n_verified,
       (SELECT nt FROM nt) AS n_truth,
       CASE WHEN (SELECT nt FROM nt) > 0
            THEN round(CAST(n_verified AS DOUBLE)
                       / CAST((SELECT nt FROM nt) AS DOUBLE), 6) END AS recall,
       round(CAST(n_candidates AS DOUBLE)
             / ((SELECT CAST(nd AS DOUBLE) FROM nd)
                * ((SELECT CAST(nd AS DOUBLE) FROM nd) - 1.0) / 2.0), 6)
         AS candidate_frac
FROM rows_ ORDER BY strategy
"""


BT_THRESHOLDS = [(3, 5), (7, 10), (4, 5), (9, 10)]  # J in {.6, .7, .8, .9}


def blocking_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-threshold curves for the five blocking strategies —
    the decision table a user TUNING a 100 TB dedup actually reads
    (llm_blocking_cost_eval fixes J = PF_T_NUM/PF_T_DEN; this sweeps
    J ∈ {0.6, 0.7, 0.8, 0.9}): one row per (strategy, threshold) with
    the strategy's candidate volume, how many candidates are true pairs
    at that threshold, recall, and precision. The fixed-configuration
    blockers (minhash-LSH bands, sorted-neighborhood window, simhash
    lanes, SRP bands) keep ONE candidate set across thresholds — the
    sweep shows how their recall degrades as the truth loosens (looser
    J admits less-similar true pairs the bucketing no longer catches)
    while precision rises; prefix_filter re-derives its prefix length
    per threshold and stays recall-1.0 at every J by theorem.

    ONE ground-truth pass: the prefix filter at the LOOSEST threshold
    is recall-complete for every tighter one, so truth for all four
    thresholds is a single verified-Jaccard frame (exact integer
    predicate per threshold) — no per-threshold corpus rescan. Each
    fixed blocker likewise costs one candidate build + one left join
    against that frame with four conditional sums.

    All candidate generators are the PRODUCTION code paths, as in
    llm_blocking_cost_eval. Scale: everything is the bounded structure
    its production query builds; the output is 20 rows."""
    from ..operators.checkpoints import tracked_local_checkpoint

    sh = _shingle_rows(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    lo_num, lo_den = BT_THRESHOLDS[0]
    # checkpointed: feeds the truth verification AND doubles as the
    # loosest threshold's own prefix_filter candidate row below
    cand0, _ = tracked_local_checkpoint(
        _pf_candidate_pairs(sh, sz, t_num=lo_num, t_den=lo_den)
    )
    scored, _ = tracked_local_checkpoint(token_overlap(sh, cand0))

    def ok(n: int, d: int):
        # exact-integer J >= n/d on (possibly null) joined score columns;
        # a candidate absent from `scored` shares no shingle -> not true
        return F.lit(d) * F.col("n_common") >= F.lit(n) * (
            F.col("n_a") + F.col("n_b") - F.col("n_common")
        )

    truth, _ = tracked_local_checkpoint(
        scored.agg(
            *[
                F.sum(F.when(ok(n, d), 1).otherwise(0))
                .cast("bigint")
                .alias(f"nt_{n}_{d}")
                for n, d in BT_THRESHOLDS
            ]
        ),
    )
    truth = F.broadcast(truth)
    fixed = [
        ("minhash_lsh", band_pairs(_band_rows(_minhash_doc_tbl(spark, sf_dir)))),
        ("sorted_neighborhood", _sn_candidate_pairs(spark, sf_dir)),
        (
            "simhash",
            _simhash_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b"),
        ),
        (
            "srp_cosine",
            _srp_candidate_pairs(
                _srp_bucket_counts(
                    load(spark, sf_dir, "documents").select("doc_id", "text")
                )
            ),
        ),
    ]
    rows = None
    for name, cand in fixed:
        # ONE candidate build + ONE left join per blocker: the 1-row
        # wide aggregate is checkpointed so the four threshold branches
        # below read it instead of re-executing the join per row
        wide, _ = tracked_local_checkpoint(
            cand.join(scored, ["doc_a", "doc_b"], "left").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                *[
                    F.sum(F.when(ok(n, d), 1).otherwise(0))
                    .cast("bigint")
                    .alias(f"nv_{n}_{d}")
                    for n, d in BT_THRESHOLDS
                ],
            ),
        )
        for n, d in BT_THRESHOLDS:
            r = wide.crossJoin(truth).select(
                F.lit(name).alias("strategy"),
                F.lit(n / d).alias("threshold"),
                "n_candidates",
                F.col(f"nv_{n}_{d}").alias("n_verified"),
                F.col(f"nt_{n}_{d}").alias("n_truth"),
            )
            rows = r if rows is None else rows.unionByName(r)
    for n, d in BT_THRESHOLDS:
        # the loosest threshold's candidate set IS cand0 (the truth pass
        # already built it) — reuse instead of re-running the prefix join
        cand = (
            cand0
            if (n, d) == (lo_num, lo_den)
            else _pf_candidate_pairs(sh, sz, t_num=n, t_den=d)
        )
        r = (
            cand.join(scored, ["doc_a", "doc_b"], "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                F.sum(F.when(ok(n, d), 1).otherwise(0))
                .cast("bigint")
                .alias("n_verified"),
            )
            .crossJoin(truth)
            .select(
                F.lit("prefix_filter").alias("strategy"),
                F.lit(n / d).alias("threshold"),
                "n_candidates",
                "n_verified",
                F.col(f"nt_{n}_{d}").alias("n_truth"),
            )
        )
        rows = rows.unionByName(r)
    return rows.select(
        "strategy",
        "threshold",
        "n_candidates",
        "n_verified",
        "n_truth",
        F.when(
            F.col("n_truth") > 0,
            F.round(
                F.col("n_verified").cast("double")
                / F.col("n_truth").cast("double"),
                6,
            ),
        ).alias("recall"),
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                F.col("n_verified").cast("double")
                / F.col("n_candidates").cast("double"),
                6,
            ),
        ).alias("precision"),
    ).orderBy("strategy", "threshold")


def _blocking_threshold_sweep_sql() -> str:
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS key FROM sig"
        for b in range(MINHASH_BANDS)
    )
    sn_leads = ", ".join(
        f"lead(doc_id, {j}) OVER (PARTITION BY blk ORDER BY k, doc_id) AS n{j}"
        for j in range(1, SN_WINDOW)
    )
    sn_cand_union = " UNION ALL ".join(
        f"SELECT least(doc_id, n{j}) AS doc_a, greatest(doc_id, n{j}) AS doc_b "
        f"FROM sn0 WHERE n{j} IS NOT NULL"
        for j in range(1, SN_WINDOW)
    )
    pf_ctes, nt_ctes = [], []
    for n, d in BT_THRESHOLDS:
        tag = f"t{n}_{d}"
        pf_ctes.append(
            f"""pfprefix_{tag} AS (
  SELECT doc_id, s, sz, rn FROM pfranked
  WHERE rn <= sz - ({n} * sz + {d - 1}) // {d} + 1),
pf_met_{tag} AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sz_a, b.sz AS sz_b,
         least(a.rn, b.rn) + least(a.sz - a.rn, b.sz - b.rn) AS ub
  FROM pfprefix_{tag} a JOIN pfprefix_{tag} b
    ON a.s = b.s AND a.doc_id < b.doc_id
  WHERE {d} * least(a.sz, b.sz) >= {n} * greatest(a.sz, b.sz)),
pf_cand_{tag} AS (
  SELECT doc_a, doc_b FROM pf_met_{tag}
  GROUP BY doc_a, doc_b, sz_a, sz_b
  HAVING {n + d} * min(ub) >= {n} * (sz_a + sz_b))"""
        )
        nt_ctes.append(
            f"""nt_{tag} AS (
  SELECT CAST(count(*) AS BIGINT) AS nt FROM scored
  WHERE {d} * n_common >= {n} * (sz_a + sz_b - n_common))"""
        )
    strat_rows = []
    for name, cand in (
        ("minhash_lsh", "mh_cand"),
        ("sorted_neighborhood", "sn_cand"),
        ("simhash", "sim_cand"),
        ("srp_cosine", "srp_cand"),
    ):
        for n, d in BT_THRESHOLDS:
            tag = f"t{n}_{d}"
            strat_rows.append(
                f"""SELECT '{name}' AS strategy, CAST({n / d!r} AS DOUBLE) AS threshold,
  (SELECT CAST(count(*) AS BIGINT) FROM {cand}) AS n_candidates,
  (SELECT CAST(count(*) AS BIGINT) FROM {cand} c
   JOIN scored s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
   WHERE {d} * s.n_common >= {n} * (s.sz_a + s.sz_b - s.n_common)) AS n_verified,
  (SELECT nt FROM nt_{tag}) AS n_truth"""
            )
    for n, d in BT_THRESHOLDS:
        tag = f"t{n}_{d}"
        strat_rows.append(
            f"""SELECT 'prefix_filter', CAST({n / d!r} AS DOUBLE),
  (SELECT CAST(count(*) AS BIGINT) FROM pf_cand_{tag}),
  (SELECT CAST(count(*) AS BIGINT) FROM pf_cand_{tag} c
   JOIN scored s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
   WHERE {d} * s.n_common >= {n} * (s.sz_a + s.sz_b - s.n_common)),
  (SELECT nt FROM nt_{tag})"""
        )
    rows_union = "\n  UNION ALL\n".join(strat_rows)
    pf_ctes_sql = ",\n".join(pf_ctes)
    nt_ctes_sql = ",\n".join(nt_ctes)
    return f"""
WITH sh AS ({_SHINGLE_ROWS_SQL}),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
scored AS MATERIALIZED (
  SELECT doc_a, doc_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b
  FROM common
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b),
sig AS ({_MINHASH_SIG_SQL}),
bands AS ({bands_union}),
mh_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
snk AS (
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, {SN_KEY_CHARS}) AS k
  FROM documents),
snb AS (SELECT doc_id, k, substr(k, 1, {SN_BLOCK_CHARS}) AS blk FROM snk),
sn0 AS (SELECT doc_id, {sn_leads} FROM snb),
sn_cand AS ({sn_cand_union}),
siml AS ({_SIMHASH_LANES_SQL}),
sim_bands AS (
  SELECT doc_id,
         CASE band WHEN 0 THEN sh0 WHEN 1 THEN sh1 WHEN 2 THEN sh2 ELSE sh3 END AS key,
         band
  FROM siml, (SELECT unnest([0,1,2,3]) AS band) bb),
sim_cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sim_bands a JOIN sim_bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
{_srp_cand_ctes()},
dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
pfranked AS (
  SELECT sh.doc_id, sh.s, sz.sz,
         row_number() OVER (PARTITION BY sh.doc_id ORDER BY df, sh.s) AS rn
  FROM sh JOIN dfreq USING (s) JOIN sz ON sz.doc_id = sh.doc_id),
{pf_ctes_sql},
{nt_ctes_sql},
rows_ AS (
  {rows_union})
SELECT strategy, threshold, n_candidates, n_verified, n_truth,
       CASE WHEN n_truth > 0
            THEN round(CAST(n_verified AS DOUBLE) / CAST(n_truth AS DOUBLE), 6)
       END AS recall,
       CASE WHEN n_candidates > 0
            THEN round(CAST(n_verified AS DOUBLE)
                       / CAST(n_candidates AS DOUBLE), 6)
       END AS precision
FROM rows_ ORDER BY strategy, threshold
"""


JSD_MU = 1_000_000_000  # per-token term quantization: micro-nats x 1e3


def source_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-source unigram
    distributions — the corpus-redundancy map ("which sources say the
    same things?") that sits beside llm_mixing_divergence (mixture vs
    target) and llm_cross_source_overlap (exact n-gram sharing): JSD is
    symmetric, bounded by ln 2, and zero iff the distributions agree.

    The decomposition that keeps it one INNER join: tokens present in
    only one source contribute exactly p·ln2, so
    JSD = ½·Σ_shared [p·ln(2p/(p+q)) + q·ln(2q/(p+q))]
        + ½·ln2·(2 − P_shared − Q_shared),
    where P_shared = (Σ_shared c₁)/T₁ is EXACT (integer count ratios) —
    no full-outer join, no per-pair vocab materialization beyond the
    overlap.

    Determinism: each shared-token term is quantized ONCE to JSD_MU
    units (the micro-unit discipline), so the per-pair fold is an exact
    BIGINT sum under any shuffle order; the correction is a single
    double expression of exact integers.

    Scale: token tables are one map-side-combining count; the shared
    join is gram-keyed with per-token fan-out ≤ C(|sources|,2); the
    output is |sources|²/2 rows."""
    d = fan_out(load(spark, sf_dir, "documents"))
    return jsd_from_counts(jsd_token_partial(d))


def jsd_token_partial(d: DataFrame) -> DataFrame:
    """Per-(source, token) BIGINT counts over any (source, text) frame —
    a whole corpus or one micro-batch; merges by addition (totals derive
    from the merged table), shared with the streaming JSD mirror."""
    return (
        d.select("source", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )


def jsd_from_counts(cnt: DataFrame) -> DataFrame:
    """Merge (sum) the count partials and run the shared-token JSD
    decomposition — the tail shared by the batch query and the
    streaming mirror."""
    import math

    cnt = cnt.groupBy("source", "tok").agg(F.sum("c").cast("bigint").alias("c"))
    tot = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("t"))
    a = cnt.join(tot, "source").select(
        F.col("source").alias("source_a"),
        "tok",
        F.col("c").alias("c1"),
        F.col("t").alias("t1"),
    )
    b = cnt.join(tot, "source").select(
        F.col("source").alias("source_b"),
        "tok",
        F.col("c").alias("c2"),
        F.col("t").alias("t2"),
    )
    shared = a.join(b, "tok").filter(F.col("source_a") < F.col("source_b"))
    p = F.col("c1").cast("double") / F.col("t1").cast("double")
    q = F.col("c2").cast("double") / F.col("t2").cast("double")
    term = F.lit(0.5) * (
        p * F.log(F.lit(2.0) * p / (p + q)) + q * F.log(F.lit(2.0) * q / (p + q))
    )
    per_pair = shared.groupBy("source_a", "source_b", "t1", "t2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        F.sum(F.round(term * F.lit(float(JSD_MU))).cast("bigint"))
        .cast("bigint")
        .alias("s_micro"),
        F.sum("c1").cast("bigint").alias("sb1"),
        F.sum("c2").cast("bigint").alias("sb2"),
    )
    ln2 = F.lit(math.log(2.0))
    corr = (
        F.lit(0.5)
        * ln2
        * (
            F.lit(2.0)
            - F.col("sb1").cast("double") / F.col("t1").cast("double")
            - F.col("sb2").cast("double") / F.col("t2").cast("double")
        )
    )
    jsd = F.col("s_micro").cast("double") / F.lit(float(JSD_MU)) + corr
    return per_pair.select(
        "source_a",
        "source_b",
        "n_shared",
        F.round(jsd, 6).alias("jsd_nats"),
        F.round(jsd / ln2, 6).alias("jsd_normalized"),
    ).orderBy("source_a", "source_b")


_JSD_SQL = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
cnt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2),
tot AS (SELECT source, CAST(count(*) AS BIGINT) AS t FROM tok GROUP BY 1),
a AS (SELECT cnt.source AS source_a, tok, c AS c1, t AS t1
      FROM cnt JOIN tot USING (source)),
b AS (SELECT cnt.source AS source_b, tok, c AS c2, t AS t2
      FROM cnt JOIN tot USING (source)),
shared AS (
  SELECT source_a, source_b, t1, t2, c1, c2,
         CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) AS p,
         CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE) AS q
  FROM a JOIN b USING (tok) WHERE source_a < source_b),
per_pair AS (
  SELECT source_a, source_b, t1, t2,
         CAST(count(*) AS BIGINT) AS n_shared,
         CAST(sum(CAST(round({JSD_MU}.0 * 0.5
                             * (p * ln(2.0 * p / (p + q))
                                + q * ln(2.0 * q / (p + q)))) AS BIGINT))
              AS BIGINT) AS s_micro,
         CAST(sum(c1) AS BIGINT) AS sb1,
         CAST(sum(c2) AS BIGINT) AS sb2
  FROM shared GROUP BY 1, 2, 3, 4)
SELECT source_a, source_b, n_shared,
       round(CAST(s_micro AS DOUBLE) / {JSD_MU}.0
             + 0.5 * ln(2.0) * (2.0 - CAST(sb1 AS DOUBLE) / CAST(t1 AS DOUBLE)
                                - CAST(sb2 AS DOUBLE) / CAST(t2 AS DOUBLE)), 6)
         AS jsd_nats,
       round((CAST(s_micro AS DOUBLE) / {JSD_MU}.0
              + 0.5 * ln(2.0) * (2.0 - CAST(sb1 AS DOUBLE) / CAST(t1 AS DOUBLE)
                                 - CAST(sb2 AS DOUBLE) / CAST(t2 AS DOUBLE)))
             / ln(2.0), 6) AS jsd_normalized
FROM per_pair ORDER BY source_a, source_b
"""


BURST_MIN_DF = 5  # tokens must appear in >= this many docs to rank
BURST_TOP_K = 20


def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness — the variance-to-mean ratio of per-document
    counts (Church & Gale 1995): VMR ≈ 1 for Poisson-scattered function
    words, ≫ 1 for bursty content words that pile up in few documents.
    The corpus statistic behind stopword-vs-topic-word separation and
    tf normalization choices; ranks the BURST_TOP_K burstiest tokens
    with df ≥ BURST_MIN_DF.

    Exactness: zeros count — a token absent from a doc contributes 0 to
    the mean and variance, so moments are over ALL N docs: mean = Σc/N,
    E[x²] = Σc²/N with Σc, Σc² exact BIGINTs from one aggregate (docs
    without the token contribute nothing to either sum, so no
    vocab×docs materialization); VMR = (Σc² − (Σc)²/N)/Σc — one fixed
    double DAG per token. Ties break on token text.

    Scale: per-(doc, token) counts with map-side combine, one reduce to
    the vocab dimension, TakeOrdered top-K (per-partition top-K +
    merge, no global sort)."""
    d = fan_out(load(spark, sf_dir, "documents"))
    voc, n_docs = burstiness_partials(d)
    return burstiness_from_partials(voc, n_docs)


def burstiness_partials(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(vocab-moment, doc-count) partials over any (doc_id, text) frame —
    a doc lives wholly in one micro-batch, so per-batch (tok, df, Σc,
    Σc²) rows and the doc count merge by plain BIGINT addition; shared
    with the streaming mirror."""
    n_docs = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    per = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    voc = per.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("scc"),
    )
    return voc, n_docs


def burstiness_from_partials(voc: DataFrame, n_docs: DataFrame) -> DataFrame:
    """Merge (sum) the distributive vocab moments and take the VMR
    top-K — the tail shared by the batch query and the streaming
    mirror."""
    voc = voc.groupBy("tok").agg(
        F.sum("df").cast("bigint").alias("df"),
        F.sum("sc").cast("bigint").alias("sc"),
        F.sum("scc").cast("bigint").alias("scc"),
    )
    n_docs = n_docs.agg(F.sum("n").cast("bigint").alias("n"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    vmr = (dd("scc") - dd("sc") * dd("sc") / dd("n")) / dd("sc")
    return (
        voc.crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") >= BURST_MIN_DF)
        .select(
            "tok",
            "df",
            F.col("sc").alias("total_count"),
            F.round(vmr, 6).alias("vmr"),
        )
        .orderBy(F.desc("vmr"), "tok")
        .limit(BURST_TOP_K)
    )


_BURSTINESS_SQL = f"""
WITH d AS (SELECT doc_id, text FROM documents),
n_docs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
per AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d)
  GROUP BY 1, 2),
voc AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS sc,
         CAST(sum(c * c) AS BIGINT) AS scc
  FROM per GROUP BY tok)
SELECT tok, df, sc AS total_count,
       round((CAST(scc AS DOUBLE)
              - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(sc AS DOUBLE), 6) AS vmr
FROM voc CROSS JOIN n_docs
WHERE df >= {BURST_MIN_DF}
ORDER BY vmr DESC, tok LIMIT {BURST_TOP_K}
"""


NB_TEST_MOD = 5  # doc_id % 5 == 0 -> held-out eval split (same gate as
# llm_train_val_split's deterministic-id discipline)
NB_MU = 1_000_000  # log-likelihood quantization: micro-units per nat


def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier TRAINED IN-ENGINE
    (McCallum & Nigam 1998) — the classic counting classifier that needs
    no gradient loop: training is two integer aggregates (per-class
    token counts + class priors), the model is a table, scoring is a
    join + weighted sum. Train on doc_id % NB_TEST_MOD != 0 against the
    lake's lang labels, score the held-out split, emit the confusion
    matrix (true × predicted, with the exact summed decision margin) —
    the supervised counterpart to the stopword-heuristic llm_lang_id.

    Determinism discipline: every Laplace-smoothed log-likelihood is
    quantized ONCE in the model table — round(NB_MU · ln((c+1)/(total_c
    + V))) as BIGINT — so per-document scores are exact integer
    weighted sums (order-free at any parallelism), argmax ties break on
    class name, and the margin (best − runner-up) is an exact integer.
    The only doubles are inside the |V|·|C|-row model build.

    Scale: the model is |vocab|·|classes| rows built by one map-side-
    combining aggregate over the train corpus; the class table (|C|
    rows) broadcasts; scoring joins test tokens to the model gram-keyed
    and reduces per (doc, class) with map-side combine. Nothing is
    iterative; at 100 TB the model build is the one wide pass.

    Honest finding: this synthetic lake's lang labels are only weakly
    text-correlated (the documents share one technical vocabulary), so
    held-out accuracy lands barely above the majority-class baseline
    (43% vs 41% at sf0.01) — the confusion matrix reports it as-is,
    exactly like rel_ols_regression reports its R²≈0.001 lake."""
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    cnt, cls, qtok = nb_partials(d)
    return nb_confusion_from_partials(cnt, cls, qtok)


def nb_partials(d: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three distributive NB partials over a (doc_id, lang, text)
    frame — a whole corpus or one micro-batch: per-class token counts,
    per-class doc counts, held-out per-doc token counts. All plain
    integer counts, so per-batch partials merge by addition; the split
    gate (doc_id % NB_TEST_MOD) is a pure row function, batch-blind."""
    train = d.filter(F.pmod(F.col("doc_id"), F.lit(NB_TEST_MOD)) != 0)
    test = d.filter(F.pmod(F.col("doc_id"), F.lit(NB_TEST_MOD)) == 0)
    ttok = train.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    cnt = ttok.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cls = train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    qtok = (
        test.select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(F.split(F.col("text"), " ")).alias("tok"),
        )
        .groupBy("doc_id", "true_lang", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tc"))
    )
    return cnt, cls, qtok


def nb_confusion_from_partials(
    cnt: DataFrame, cls: DataFrame, qtok: DataFrame
) -> DataFrame:
    """Model build + held-out scoring + confusion matrix from MERGED NB
    partials — shared by the batch query and the continuously-retraining
    streaming mirror. Totals and vocabulary size derive from the merged
    token-count table (tot = Σc per class, V = distinct tokens), so the
    kernel needs nothing beyond the three partials."""
    cnt = cnt.groupBy("lang", "tok").agg(F.sum("c").cast("bigint").alias("c"))
    cls = cls.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs")
    )
    qtok = qtok.groupBy("doc_id", "true_lang", "tok").agg(
        F.sum("tc").cast("bigint").alias("tc")
    )
    tot = cnt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("total_c"))
    v = cnt.select("tok").distinct().agg(F.count(F.lit(1)).alias("v"))
    ntr = cls.agg(F.sum("n_docs").cast("bigint").alias("n_train"))
    mu = F.lit(float(NB_MU))
    llog = lambda num, den: F.round(mu * F.log(num / den)).cast(  # noqa: E731
        "bigint"
    )
    ctab = (
        cls.crossJoin(F.broadcast(ntr))
        .join(tot, "lang")
        .crossJoin(F.broadcast(v))
        .select(
            F.col("lang").alias("c_lang"),
            llog(
                F.col("n_docs").cast("double"), F.col("n_train").cast("double")
            ).alias("prior_llog"),
            llog(
                F.lit(1.0), (F.col("total_c") + F.col("v")).cast("double")
            ).alias("defl"),
        )
    )
    model = (
        cnt.join(tot, "lang")
        .crossJoin(F.broadcast(v))
        .select(
            F.col("lang").alias("m_lang"),
            "tok",
            llog(
                (F.col("c") + 1).cast("double"),
                (F.col("total_c") + F.col("v")).cast("double"),
            ).alias("llog"),
        )
    )
    scored = (
        qtok.crossJoin(F.broadcast(ctab))
        .join(
            model,
            (F.col("m_lang") == F.col("c_lang")) & (model["tok"] == qtok["tok"]),
            "left",
        )
        .groupBy("doc_id", "true_lang", "c_lang", "prior_llog")
        .agg(
            F.sum(
                F.col("tc") * F.coalesce(F.col("llog"), F.col("defl"))
            ).alias("s")
        )
        .select(
            "doc_id",
            "true_lang",
            "c_lang",
            (F.col("prior_llog") + F.col("s")).alias("score"),
        )
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id").orderBy(F.desc("score"), "c_lang")
    ranked = scored.select(
        "true_lang",
        "c_lang",
        "score",
        F.row_number().over(win).alias("rn"),
        F.lead("score").over(win).alias("nxt"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("c_lang").alias("pred_lang"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("score") - F.col("nxt")).cast("bigint").alias(
                "sum_margin_micro"
            ),
        )
        .orderBy("true_lang", "pred_lang")
    )


_NB_LANGID_SQL = f"""
WITH train AS (SELECT doc_id, lang, text FROM documents
               WHERE doc_id % {NB_TEST_MOD} <> 0),
test AS (SELECT doc_id, lang AS true_lang, text FROM documents
         WHERE doc_id % {NB_TEST_MOD} = 0),
ttok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM train),
cnt AS (SELECT lang, tok, count(*) AS c FROM ttok GROUP BY 1, 2),
tot AS (SELECT lang, count(*) AS total_c FROM ttok GROUP BY 1),
v AS (SELECT count(DISTINCT tok) AS v FROM ttok),
cls AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY 1),
ntr AS (SELECT count(*) AS n_train FROM train),
ctab AS (
  SELECT cls.lang AS c_lang,
         CAST(round({NB_MU}.0 * ln(CAST(n_docs AS DOUBLE)
                                   / CAST(n_train AS DOUBLE))) AS BIGINT)
           AS prior_llog,
         CAST(round({NB_MU}.0 * ln(CAST(1.0 AS DOUBLE)
                                   / CAST(total_c + v AS DOUBLE))) AS BIGINT)
           AS defl
  FROM cls CROSS JOIN ntr JOIN tot ON tot.lang = cls.lang CROSS JOIN v),
model AS (
  SELECT cnt.lang AS m_lang, tok,
         CAST(round({NB_MU}.0 * ln(CAST(c + 1 AS DOUBLE)
                                   / CAST(total_c + v AS DOUBLE))) AS BIGINT)
           AS llog
  FROM cnt JOIN tot ON tot.lang = cnt.lang CROSS JOIN v),
qtok AS (
  SELECT doc_id, true_lang, tok, CAST(count(*) AS BIGINT) AS tc
  FROM (SELECT doc_id, true_lang, unnest(string_split(text, ' ')) AS tok
        FROM test) GROUP BY 1, 2, 3),
scored AS (
  SELECT q.doc_id, q.true_lang, ct.c_lang,
         ct.prior_llog + sum(q.tc * coalesce(m.llog, ct.defl)) AS score
  FROM qtok q CROSS JOIN ctab ct
  LEFT JOIN model m ON m.m_lang = ct.c_lang AND m.tok = q.tok
  GROUP BY 1, 2, 3, ct.prior_llog),
ranked AS (
  SELECT true_lang, c_lang, score,
         row_number() OVER win AS rn, lead(score) OVER win AS nxt
  FROM scored
  WINDOW win AS (PARTITION BY doc_id ORDER BY score DESC, c_lang))
SELECT true_lang, c_lang AS pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(score - nxt) AS BIGINT) AS sum_margin_micro
FROM ranked WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- embedding similarity --------------------------------------------------


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = fan_out(load(spark, sf_dir, "embeddings"))
    return e.select(
        F.col("vec_id").alias("c_id"), to_double(F.col("embedding")).alias("c_vec")
    )


def _queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
    return e.select(
        F.col("vec_id").alias("q_id"), to_double(F.col("embedding")).alias("q_vec")
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for 10 query vectors."""
    return brute_force_topk(_queries(spark, sf_dir), _corpus(spark, sf_dir), 5)


_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings),
pairs AS (
  SELECT q_id, c_id, round({cosine_sql('q_vec', 'c_vec')}, 6) AS cos_sim
  FROM c CROSS JOIN q WHERE q_id != c_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
  FROM pairs
)
SELECT q_id, c_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 5
"""


SEP_MAX_ID = 64  # bounded exact-kernel sample (the n-gram Jaccard convention)


def label_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label separability of the embedding space — mean pairwise cosine
    WITHIN labels vs ACROSS labels on a bounded sample: the alignment
    check run before trusting labels for semantic dedup, stratified
    sampling, or nearest-centroid routing (if intra ~= inter, the labels
    carry no geometry and label-conditioned ops are noise).

    Determinism: each pair cosine is the shared zip_with/list fold
    rounded 6 dp; the per-group mean folds the pair values in
    (a_id, b_id) order, so both engines add identical doubles
    identically. Scale: the exact kernel is deliberately bounded to
    SEP_MAX_ID vectors (the fuzzy-match convention); at 100 TB the same
    two numbers come from a label-stratified sample, not the full
    corpus."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < SEP_MAX_ID)
    s = e.select("vec_id", "label", to_double(F.col("embedding")).alias("vec"))
    a = s.select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("vec").alias("a_vec"),
    )
    b = s.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("b_label"),
        F.col("vec").alias("b_vec"),
    )
    pairs = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id")).select(
        "a_id",
        "b_id",
        (F.col("a_label") == F.col("b_label")).cast("int").alias("same_label"),
        F.round(cosine(F.col("a_vec"), F.col("b_vec")), 6).alias("cos_sim"),
    )
    per = pairs.groupBy("same_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sort_array(
            F.collect_list(F.struct("a_id", "b_id", "cos_sim"))
        ).alias("xs"),
    )
    total = F.aggregate(
        F.col("xs"), F.lit(0.0), lambda acc, x: acc + x["cos_sim"]
    )
    return per.select(
        "same_label",
        "n_pairs",
        F.round(total / F.col("n_pairs").cast("double"), 6).alias("mean_cos"),
    )


_SEPARABILITY_SQL = f"""
WITH s AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS vec
  FROM embeddings WHERE vec_id < {SEP_MAX_ID}),
pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         CAST(CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS INTEGER)
           AS same_label,
         round({cosine_sql('a.vec', 'b.vec')}, 6) AS cos_sim
  FROM s a JOIN s b ON a.vec_id < b.vec_id),
per AS (
  SELECT same_label, CAST(count(*) AS BIGINT) AS n_pairs,
         list_reduce(list_prepend({dlit(0.0)},
           list(cos_sim ORDER BY a_id, b_id)), (acc, x) -> acc + x) AS s
  FROM pairs GROUP BY 1)
SELECT same_label, n_pairs,
       round(s / CAST(n_pairs AS DOUBLE), 6) AS mean_cos
FROM per
"""


def hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the embedding space — the k-occurrence
    distribution N_k (how often each corpus vector appears in the query
    set's exact top-k): a histogram over (k_occurrences -> n_vectors,
    fraction), including the 0 row (anti-hubs never retrieved). A skewed
    N_k is the standard symptom of hub-dominated high-dimensional
    retrieval (Radovanović et al.) and decides whether to re-normalize /
    whiten before shipping an ANN index.

    Determinism: exact integer counts end to end; the fraction is one
    double division. Scale: reuses the cosine_topk plan (its cost
    dominates); the reverse counts are a query-set-sized broadcast joined
    to the corpus ids, then a histogram-sized aggregate."""
    topk = cosine_topk(spark, sf_dir).select("c_id")
    per = topk.groupBy("c_id").agg(F.count(F.lit(1)).alias("k_occ"))
    corpus = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("c_id")
    )
    j = corpus.join(F.broadcast(per), "c_id", "left").select(
        F.coalesce(F.col("k_occ"), F.lit(0)).cast("bigint").alias("k_occurrences")
    )
    tot = corpus.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        j.crossJoin(F.broadcast(tot))
        .groupBy("k_occurrences", "n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .select(
            "k_occurrences",
            "n_vectors",
            F.round(
                F.col("n_vectors").cast("double") / F.col("n").cast("double"), 6
            ).alias("frac"),
        )
    )


_HUBNESS_SQL = f"""
WITH topk AS (SELECT c_id FROM ({_COSINE_TOPK_SQL}) t),
per AS (SELECT c_id, count(*) AS k_occ FROM topk GROUP BY 1),
corpus AS (SELECT vec_id AS c_id FROM embeddings),
j AS (
  SELECT CAST(coalesce(p.k_occ, 0) AS BIGINT) AS k_occurrences
  FROM corpus c LEFT JOIN per p ON c.c_id = p.c_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM corpus)
SELECT k_occurrences, CAST(count(*) AS BIGINT) AS n_vectors,
       round(CAST(count(*) AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac
FROM j, tot
GROUP BY k_occurrences, n
"""


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    v = to_double(F.col("embedding"))
    return e.select(
        "vec_id",
        "label",
        F.round(norm(v), 6).alias("l2_norm"),
        F.size(F.col("embedding")).cast("bigint").alias("dim"),
    )


_EMB_NORMS_SQL = f"""
SELECT vec_id, label,
       round({norm_sql("(embedding::DOUBLE[])")}, 6) AS l2_norm,
       CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings
"""


def lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram (deterministic integer planes)."""
    e = fan_out(load(spark, sf_dir, "embeddings"))
    v = to_double(F.col("embedding"))
    return (
        e.withColumn("bucket", lsh_bucket(v, EMB_DIM))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec_id"))
    )


_LSH_BUCKETS_SQL = f"""
SELECT {lsh_bucket_sql("(embedding::DOUBLE[])", EMB_DIM)} AS bucket,
       count(*) AS n, min(vec_id) AS min_vec_id
FROM embeddings GROUP BY 1
"""


def lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: candidates restricted to the query's LSH bucket
    (equi-join on bucket), then exact cosine rerank."""
    e = fan_out(load(spark, sf_dir, "embeddings"))
    v = to_double(F.col("embedding"))
    # norm once per vector; cos = dot/(nq*nc) keeps bitwise-equal values
    # (same arithmetic and fold order as cosine()) at one fold per pair
    with_bucket = (
        e.select("vec_id", v.alias("vec"))
        .withColumn("bucket", lsh_bucket(F.col("vec"), EMB_DIM))
        .withColumn("nv", norm(F.col("vec")))
    )
    q = with_bucket.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("vec").alias("q_vec"),
        F.col("nv").alias("nq"), "bucket",
    )
    c = with_bucket.select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"),
        F.col("nv").alias("nc"), "bucket",
    )
    cand = q.join(c, "bucket").filter(F.col("q_id") != F.col("c_id"))
    scored = cand.withColumn(
        "cos_sim",
        F.round(dot(F.col("q_vec"), F.col("c_vec")) / (F.col("nq") * F.col("nc")), 6),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


_LSH_TOPK_SQL = f"""
WITH wb AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         {lsh_bucket_sql("(embedding::DOUBLE[])", EMB_DIM)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, vec AS q_vec, bucket FROM wb WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, vec AS c_vec, bucket FROM wb),
cand AS (
  SELECT q_id, c_id, round({cosine_sql('q_vec', 'c_vec')}, 6) AS cos_sim
  FROM q JOIN c USING (bucket) WHERE q_id != c_id
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank FROM cand)
SELECT q_id, c_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN: per-label centroids (deterministic sorted
    fold, see ``ivf_centroids``), corpus assigned to its nearest cell, queries
    probe the 2 nearest cells, exact cosine rerank within candidates. Fully
    value-checked against the identical DuckDB pipeline."""
    e = load(spark, sf_dir, "embeddings")
    return ivf_topk(e, _queries(spark, sf_dir), EMB_DIM, k=3, nprobe=2)


_IVF_TOPK_SQL = f"""
WITH ex AS (
  SELECT label, vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
cent AS (
  SELECT label, pos,
         list_reduce(list(x ORDER BY vec_id), (acc, y) -> acc + y) / count(*) AS m
  FROM ex GROUP BY label, pos
),
cents AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id < 10),
c_cells AS (
  SELECT c_id, c_vec, cell FROM (
    SELECT c.c_id, c.c_vec, cents.label AS cell,
           row_number() OVER (PARTITION BY c.c_id
                              ORDER BY {cosine_sql('c_vec', 'centroid')} DESC, cents.label) AS rn
    FROM c CROSS JOIN cents) t WHERE rn = 1
),
q_cells AS (
  SELECT q_id, q_vec, cell FROM (
    SELECT q.q_id, q.q_vec, cents.label AS cell,
           row_number() OVER (PARTITION BY q.q_id
                              ORDER BY {cosine_sql('q_vec', 'centroid')} DESC, cents.label) AS rn
    FROM q CROSS JOIN cents) t WHERE rn <= 2
),
cand AS (
  SELECT q_id, c_id, round({cosine_sql('q_vec', 'c_vec')}, 6) AS cos_sim
  FROM q_cells JOIN c_cells USING (cell) WHERE q_id != c_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank
  FROM cand
)
SELECT q_id, c_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3
"""


def rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via Rabin-Karp rolling hash over the full
    text (pure int64 fold, engine-exact), grouped into dedup form. At scale:
    the per-doc hash is 8 bytes; the groupBy shuffles only (hash, doc_id).
    """
    d = fan_out(load(spark, sf_dir, "documents"))
    return (
        d.withColumn("fp", rolling_hash(F.col("text")))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("survivor_id"), F.count(F.lit(1)).alias("n_copies"))
    )


_ROLLING_FP_SQL = f"""
SELECT {rolling_hash_sql('text')} AS fp, min(doc_id) AS survivor_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""

EMB_NEAR_DUP_THRESHOLD = 0.3


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-prefiltered.

    Candidates = same random-hyperplane LSH bucket (equi-join — the scale
    path: one shuffle on bucket, never all-pairs), verified with exact
    cosine >= threshold. The oracle runs the identical bucket prefilter, so
    the approximation itself is value-checked.
    """
    e = fan_out(load(spark, sf_dir, "embeddings"))
    v = to_double(F.col("embedding"))
    wb = (
        e.select("vec_id", v.alias("vec"))
        .withColumn("bucket", lsh_bucket(F.col("vec"), EMB_DIM))
        .withColumn("nv", norm(F.col("vec")))
    )
    a = wb.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"),
        F.col("nv").alias("na"), "bucket",
    )
    b = wb.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"),
        F.col("nv").alias("nb"), "bucket",
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= EMB_NEAR_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cos_sim")
    )


_EMB_NEAR_DUP_SQL = f"""
WITH wb AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         {lsh_bucket_sql("(embedding::DOUBLE[])", EMB_DIM)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({cosine_sql('a.vec', 'b.vec')}, 6) AS cos_sim
FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round({cosine_sql('a.vec', 'b.vec')}, 6) >= CAST({EMB_NEAR_DUP_THRESHOLD} AS DOUBLE)
"""


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: embedding-cosine near-dup
    PAIRS (LSH-prefiltered, exact-verified) -> transitive CLUSTERS
    (connected components) -> one survivor per semantic cluster (min
    vec_id), emitted with its cluster size. The embedding-space sibling of
    ``cluster_survivors``: near-identical *meaning*, not near-identical
    bytes. Scale path: bucket equi-join for candidates, Pregel-style label
    propagation (O(diameter) shuffle rounds), anti-join kill list."""
    from ..operators.components import connected_components

    e = load(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup(spark, sf_dir)
    cc = connected_components(pairs, src="vec_a", dst="vec_b")
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    survivors = (
        cc.filter(F.col("node") == F.col("comp"))
        .join(sizes, "comp")
        .select(F.col("node").alias("vec_id"), "cluster_size")
    )
    return (
        e.join(cc.select(F.col("node").alias("vec_id")), "vec_id", "left_anti")
        .select("vec_id", F.lit(1).cast("bigint").alias("cluster_size"))
        .unionByName(survivors.select("vec_id", F.col("cluster_size").cast("bigint")))
        .join(e.select("vec_id", "label"), "vec_id")
    )


_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE pairs AS ({_EMB_NEAR_DUP_SQL}),
und AS (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
reach AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
cc AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a),
sizes AS (SELECT comp, count(*) AS cluster_size FROM cc GROUP BY comp),
survivors AS (
  SELECT cc.node AS vec_id, CAST(sizes.cluster_size AS BIGINT) AS cluster_size
  FROM cc JOIN sizes USING (comp) WHERE cc.node = cc.comp
),
keep AS (
  SELECT e.vec_id, CAST(1 AS BIGINT) AS cluster_size
  FROM embeddings e ANTI JOIN cc ON e.vec_id = cc.node
  UNION ALL
  SELECT vec_id, cluster_size FROM survivors
)
SELECT k.vec_id, k.cluster_size, e.label
FROM keep k JOIN embeddings e ON k.vec_id = e.vec_id
"""


# --- multimodal column plumbing -------------------------------------------


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image metadata extraction from REAL BMP bytes: a genuine 24-bit BMP
    file is written per doc (struct.pack, 4-byte-aligned rows), then the
    BITMAPFILEHEADER/BITMAPINFOHEADER are parsed back with struct.unpack in
    an Arrow-batched mapInPandas kernel. Generation is closed-form in doc_id,
    so the oracle recomputes every header field independently and
    value-checks the write -> Arrow -> parse round trip."""
    from ..operators.multimodal import attach_bmp_payload, decode_bmp_meta

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return decode_bmp_meta(attach_bmp_payload(d))


MULTIMODAL_META_SQL = """
SELECT doc_id,
       'BM' AS magic,
       CAST(doc_id % 16 + 1 AS INTEGER) AS width,
       CAST((doc_id // 16) % 8 + 1 AS INTEGER) AS height,
       CAST(24 AS INTEGER) AS bpp,
       CAST(54 + ((doc_id % 16 + 1) * 3 + 3) // 4 * 4 * ((doc_id // 16) % 8 + 1) AS BIGINT) AS n_bytes
FROM documents WHERE doc_id < 300
"""


def _md5_byte_sql(h: str, k: int) -> str:
    """DuckDB: byte k (0-based) of the md5 hex string ``h`` as an integer."""
    hi = f"(strpos('{_HEXDIGITS}', substr({h}, {2 * k + 1}, 1)) - 1)"
    lo = f"(strpos('{_HEXDIGITS}', substr({h}, {2 * k + 2}, 1)) - 1)"
    return f"({hi} * 16 + {lo})"


def _md5_abs_i16_sql(h: str, k: int) -> str:
    """DuckDB: |k-th little-endian int16 sample| of the md5 digest bytes."""
    raw = f"({_md5_byte_sql(h, 2 * k)} + 256 * {_md5_byte_sql(h, 2 * k + 1)})"
    return f"abs(CASE WHEN {raw} >= 32768 THEN {raw} - 65536 ELSE {raw} END)"


MM_RESIZE_MAX_SIDE = 4


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE over real BMP bytes: nearest-neighbor downsample to
    max side 4 inside an Arrow mapInPandas kernel that emits (and
    round-trip re-parses) a complete new BMP file. The integer-exact NN
    semantics (src = (dst * src_dim) div dst_dim over md5-cycled source
    pixels) let the oracle recompute the resized-pixel checksum
    closed-form — the resample itself is value-checked, not just the
    dimensions. The thumbnailing shape for multimodal curation at 100 TB:
    bytes stay on executors, output is small typed rows."""
    from ..operators.multimodal import attach_bmp_payload, resize_bmp

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return resize_bmp(attach_bmp_payload(d), max_side=MM_RESIZE_MAX_SIDE)


def _mm_resize_sql() -> str:
    s = MM_RESIZE_MAX_SIDE
    hx = _HEXDIGITS
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS hh,
         doc_id % 16 + 1 AS w, (doc_id // 16) % 8 + 1 AS h
  FROM documents WHERE doc_id < 300),
dims AS (
  SELECT doc_id, hh, w, h,
         CASE WHEN greatest(w, h) <= {s} THEN w
              ELSE greatest(1, (w * {s}) // greatest(w, h)) END AS nw,
         CASE WHEN greatest(w, h) <= {s} THEN h
              ELSE greatest(1, (h * {s}) // greatest(w, h)) END AS nh
  FROM d),
px AS (
  SELECT doc_id, hh, w, h, nw, nh,
         (((i // (nw * 3)) * h) // nh) * ((w * 3 + 3) // 4 * 4)
           + ((((i % (nw * 3)) // 3) * w) // nw) * 3 + (i % 3) AS src_idx
  FROM dims,
       LATERAL (SELECT unnest(generate_series(0, nw * nh * 3 - 1)) AS i) g),
vals AS (
  SELECT doc_id, w, h, nw, nh,
         (strpos('{hx}', substr(hh, 2 * (src_idx % 16) + 1, 1)) - 1) * 16
           + (strpos('{hx}', substr(hh, 2 * (src_idx % 16) + 2, 1)) - 1) AS v
  FROM px)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(nw AS INTEGER) AS new_width, CAST(nh AS INTEGER) AS new_height,
       CAST(54 + ((nw * 3 + 3) // 4 * 4) * nh AS BIGINT) AS out_bytes,
       CAST(sum(v) AS BIGINT) AS checksum
FROM vals
GROUP BY doc_id, w, h, nw, nh
"""


def png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG decode over REAL PNG bytes built with stdlib zlib only (round
    12 — png graduates from the NotImplementedError codec gate, which now
    holds just jpeg/mp4): per doc a complete spec-valid 8-bit RGB PNG is
    written (CRC32 chunks, one DEFLATE IDAT, row r filtered with
    predictor r % 5 so every PNG filter type appears in the stream), then
    an Arrow-batched mapInPandas kernel walks the chunks verifying CRCs,
    inflates, INVERTS all five scanline filters, and reduces the
    recovered pixels to an exact integer checksum. Pixels are closed-form
    in (doc_id, md5(text)) — the oracle recomputes the checksum
    independently, so a wrong unfilter (not merely a wrong header) fails
    the driver hash. Scale posture identical to the BMP/WAV kernels:
    payload bytes never leave executors or enter an Exchange; decode
    parallelism equals scan parallelism."""
    from ..operators.multimodal import attach_png_payload, decode_png_meta

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return decode_png_meta(attach_png_payload(d))


def _png_decode_sql() -> str:
    hx = _HEXDIGITS
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS hh,
         doc_id % 16 + 1 AS w, (doc_id // 16) % 8 + 1 AS h
  FROM documents WHERE doc_id < 300),
px AS (
  SELECT doc_id, w, h,
         (strpos('{hx}', substr(hh, 2 * (i % 16) + 1, 1)) - 1) * 16
           + (strpos('{hx}', substr(hh, 2 * (i % 16) + 2, 1)) - 1) AS v
  FROM d, LATERAL (SELECT unnest(generate_series(0, w * 3 * h - 1)) AS i) g)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS bit_depth, CAST(2 AS INTEGER) AS color_type,
       CAST(sum(v) AS BIGINT) AS checksum
FROM px GROUP BY doc_id, w, h
"""


def gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode over REAL GIF87a bytes built with stdlib only (round
    13 — the lossless LZW sibling of the PNG/DEFLATE kernel; the codec
    gate now holds just mp4): per doc a complete spec-valid GIF87a is
    written (256-entry grayscale global color table, variable-width
    LSB-first LZW with CLEAR/EOI and 9->12-bit growth, length-prefixed
    sub-blocks), then an Arrow-batched mapInPandas kernel walks the
    descriptors, reassembles the sub-blocks, LZW-decodes, maps indices
    through the palette, and reduces the pixels to an exact integer
    checksum. Pixels are closed-form in (doc_id, md5(text)) — the
    oracle recomputes the checksum independently, so a wrong bit
    unpacking, dictionary step, or palette read (not merely a wrong
    header) fails the driver hash. Scale posture identical to the
    BMP/WAV/PNG/JPEG kernels: payload bytes never leave executors or
    enter an Exchange; decode parallelism equals scan parallelism."""
    from ..operators.multimodal import attach_gif_payload, decode_gif_meta

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return decode_gif_meta(attach_gif_payload(d))


def _gif_decode_sql() -> str:
    hx = _HEXDIGITS
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS hh,
         doc_id % 8 + 1 AS w, (doc_id // 8) % 4 + 1 AS h
  FROM documents WHERE doc_id < 300),
px AS (
  SELECT doc_id, w, h,
         (strpos('{hx}', substr(hh, 2 * (i % 16) + 1, 1)) - 1) * 16
           + (strpos('{hx}', substr(hh, 2 * (i % 16) + 2, 1)) - 1) AS v
  FROM d, LATERAL (SELECT unnest(generate_series(0, w * h - 1)) AS i) g)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(256 AS INTEGER) AS palette_size,
       CAST(sum(v) AS BIGINT) AS checksum
FROM px GROUP BY doc_id, w, h
"""


def jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG decode over REAL JPEG bytes built with stdlib + numpy
    only (round 12 — jpeg graduates from the NotImplementedError codec
    gate, which now holds just mp4): per doc a complete spec-valid
    grayscale baseline JPEG is written (Annex K quantization + Huffman
    tables, differential-DC + run-length-AC entropy coding, byte
    stuffing), then an Arrow-batched mapInPandas kernel walks the
    markers, Huffman-decodes the scan, dequantizes, runs the float IDCT,
    and reduces the recovered pixels to an exact integer checksum.

    Oracle-ability of a LOSSY codec: the test images are per-8x8-block
    constant EVEN gray values — the subspace on which the Annex K DC
    step of 16 makes the round trip exactly lossless (even delta
    quantizes to delta/2 with no remainder; ACs are exactly zero), so
    the decoded checksum is closed-form in (doc_id, md5(text)) and a
    wrong Huffman table, DC prediction, dequantize, or IDCT scaling
    fails the driver hash. The rounding/AC paths the oracle cannot see
    are pinned by pytests against an independent numpy reference. Scale
    posture identical to the BMP/WAV/PNG kernels: payload bytes never
    leave executors or enter an Exchange; decode parallelism equals scan
    parallelism."""
    from ..operators.multimodal import attach_jpeg_payload, decode_jpeg_meta

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return decode_jpeg_meta(attach_jpeg_payload(d))


def _jpeg_decode_sql() -> str:
    hx = _HEXDIGITS
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS hh,
         doc_id % 4 + 1 AS wb, (doc_id // 4) % 2 + 1 AS hb
  FROM documents WHERE doc_id < 300),
blocks AS (
  SELECT doc_id, wb, hb,
         (strpos('{hx}', substr(hh, 2 * (b % 16) + 1, 1)) - 1) * 16
           + (strpos('{hx}', substr(hh, 2 * (b % 16) + 2, 1)) - 1) AS v
  FROM d, LATERAL (SELECT unnest(generate_series(0, wb * hb - 1)) AS b) g)
SELECT doc_id,
       CAST(wb * 8 AS INTEGER) AS width, CAST(hb * 8 AS INTEGER) AS height,
       CAST(1 AS INTEGER) AS n_components,
       CAST(wb * hb AS INTEGER) AS n_blocks,
       CAST(sum((v - v % 2) * 64) AS BIGINT) AS checksum
FROM blocks GROUP BY doc_id, wb, hb
"""


def jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 COLOR baseline-JPEG decode — the standard camera-JPEG layout
    the grayscale query does not reach: three components, interleaved
    MCUs of four Y blocks + Cb + Cr with per-component DC predictors,
    BOTH Annex K quantization/Huffman table pairs, chroma
    replicate-upsampling, and the JFIF YCbCr -> RGB conversion.

    Oracle design: Y blocks are constant EVEN gray values (the grayscale
    query's lossless subspace) and the chroma planes are constant 128 —
    neutral chroma has delta 0, quantizes to exactly zero under the
    chroma table's DC step of 17, reconstructs to exactly 128, and the
    color conversion collapses to R = G = B = Y with zero float
    knife-edges. The RGB checksum is therefore closed-form: 3x the Y
    sum. A wrong chroma table, interleave order, DC-predictor split,
    upsample, or conversion matrix all fail the driver hash. The
    generic color path (random chroma, all ACs) is pinned by a pytest
    against an independent numpy reference."""
    from ..operators.multimodal import (
        attach_jpeg_color_payload,
        decode_jpeg_color_meta,
    )

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return decode_jpeg_color_meta(attach_jpeg_color_payload(d))


def _jpeg_color_decode_sql() -> str:
    hx = _HEXDIGITS
    return f"""
WITH d AS (
  SELECT doc_id, md5(text) AS hh,
         doc_id % 2 + 1 AS wm, (doc_id // 2) % 2 + 1 AS hm
  FROM documents WHERE doc_id < 300),
yblocks AS (
  SELECT doc_id, wm, hm,
         (strpos('{hx}', substr(hh, 2 * (b % 16) + 1, 1)) - 1) * 16
           + (strpos('{hx}', substr(hh, 2 * (b % 16) + 2, 1)) - 1) AS v
  FROM d,
       LATERAL (SELECT unnest(generate_series(0, 4 * wm * hm - 1)) AS b) g)
SELECT doc_id,
       CAST(wm * 16 AS INTEGER) AS width, CAST(hm * 16 AS INTEGER) AS height,
       CAST(3 AS INTEGER) AS n_components,
       CAST(wm * hm AS INTEGER) AS n_mcus,
       CAST(3 * sum((v - v % 2) * 64) AS BIGINT) AS checksum
FROM yblocks GROUP BY doc_id, wm, hm
"""


DSIR_SEL_PCT = 30  # token budget: top-weighted docs up to 30% of corpus mass
DSIR_SEL_BUCKET = 100_000  # micro-weight band width for the two-level prefix




DSIR_WIDTHS = (256, 1024)  # audited widths
DSIR_REF_B = 4096  # the reference width the audit compares against


def dsir_width_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashing-WIDTH stability audit — the blocking-audit
    discipline applied to importance estimation: how much do the weights
    and the kept set move when the hashed feature space shrinks from a
    DSIR_REF_B=4096-bucket reference to 1024 or 256 buckets? Narrower
    spaces collide more bigrams, blurring the target/raw contrast — this
    query puts numbers on that (the "is B big enough?" question a 100 TB
    DSIR deployment asks before committing to a width). Per width:
    kept-flag agreement count, kept-set Jaccard vs the reference, and
    the mean |weight delta| — all exact integers until one divide per
    metric. Runs the production kernels (dsir_feats/dsir_from_feats) at
    each width; nothing is reimplemented.

    One corpus scan: all widths are powers of two dividing the
    reference, so the reference-width feature table re-buckets to each
    audited width by an exact integer regroup (h % 256 ==
    (h % 4096) % 256 since 256 | 4096) — bitwise identical to
    featurizing at that width, and the 100 TB bigram scan happens once
    instead of |widths|+1 times (the width-overlap audit's discipline)."""
    from ..operators.checkpoints import tracked_local_checkpoint
    from .tables import fan_out

    docs = fan_out(
        load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )
    assert all(DSIR_REF_B % b == 0 for b in DSIR_WIDTHS)
    f_ref, _ = tracked_local_checkpoint(dsir_feats(docs, DSIR_REF_B))

    def wq(b: int) -> DataFrame:
        feats = (
            f_ref
            if b == DSIR_REF_B
            else f_ref.groupBy(
                "doc_id", "source", (F.col("b") % F.lit(b)).alias("b")
            ).agg(F.sum("c").cast("bigint").alias("c"))
        )
        return dsir_from_feats(feats, b).select(
            "doc_id",
            F.round(F.col("weight") * F.lit(1e6)).cast("bigint").alias("wq"),
            "kept",
        )

    ref, _ = tracked_local_checkpoint(
        wq(DSIR_REF_B).select(
            "doc_id",
            F.col("wq").alias("wq_ref"),
            F.col("kept").alias("kept_ref"),
        ),
    )
    outs = []
    for b in DSIR_WIDTHS:
        j = wq(b).join(ref, "doc_id")
        inter = F.sum(
            ((F.col("kept") == 1) & (F.col("kept_ref") == 1)).cast("bigint")
        )
        union = F.sum(
            ((F.col("kept") == 1) | (F.col("kept_ref") == 1)).cast("bigint")
        )
        agg = j.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("kept") == F.col("kept_ref")).cast("bigint"))
            .cast("bigint")
            .alias("kept_agree"),
            inter.cast("bigint").alias("i"),
            union.cast("bigint").alias("u"),
            F.sum(F.abs(F.col("wq") - F.col("wq_ref")))
            .cast("bigint")
            .alias("adw"),
        )
        outs.append(
            agg.select(
                F.lit(b).cast("int").alias("width"),
                "n_docs",
                "kept_agree",
                F.round(
                    F.when(F.col("u") == 0, F.lit(0.0)).otherwise(
                        F.col("i").cast("double") / F.col("u").cast("double")
                    ),
                    6,
                ).alias("kept_jaccard"),
                F.round(
                    F.col("adw").cast("double")
                    / (F.col("n_docs").cast("double") * F.lit(1e6)),
                    6,
                ).alias("mean_abs_dw"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _dsir_width_sql() -> str:
    parts = []
    for b in DSIR_WIDTHS:
        parts.append(
            f"""
SELECT CAST({b} AS INTEGER) AS width,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN w.kept = r.kept THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_agree,
       round(CASE WHEN sum(CASE WHEN w.kept = 1 OR r.kept = 1 THEN 1
                               ELSE 0 END) = 0 THEN CAST(0 AS DOUBLE)
             ELSE CAST(sum(CASE WHEN w.kept = 1 AND r.kept = 1 THEN 1
                               ELSE 0 END) AS DOUBLE)
                  / CAST(sum(CASE WHEN w.kept = 1 OR r.kept = 1 THEN 1
                                 ELSE 0 END) AS DOUBLE) END, 6)
         AS kept_jaccard,
       round(CAST(sum(abs(w.wq - r.wq)) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * CAST(1e6 AS DOUBLE)), 6)
         AS mean_abs_dw
FROM (SELECT doc_id, CAST(round(weight * 1e6) AS BIGINT) AS wq, kept
      FROM ({_dsir_sql(b)}) x) w
JOIN (SELECT doc_id, CAST(round(weight * 1e6) AS BIGINT) AS wq, kept
      FROM ({_dsir_sql(DSIR_REF_B)}) y) r USING (doc_id)"""
        )
    return "\nUNION ALL\n".join(parts)


def _dsir_select_flags(w: DataFrame) -> DataFrame:
    """Prefix-sum budget selection over a quantized-weight frame
    ``w(doc_id[, source], n_tok, wq)`` — adds a boolean ``selected``
    column: a doc is selected iff the cumulative token sum up to and
    including it (in (wq DESC, doc_id) order) fits the exact-integer
    budget (total * DSIR_SEL_PCT div 100). Shared by the per-source
    selection stats and the width-overlap audit, so both apply the
    IDENTICAL selection rule. Scale: the global ordered prefix sum uses
    the shard-plan two-level pattern — micro-weight BANDS aggregate
    map-side, only the |bands| table sees a global window, and a
    per-band window adds local prefixes; no window ever holds the doc
    table in one partition."""
    tot = w.agg(
        F.expr(f"(sum(n_tok) * {DSIR_SEL_PCT}) div 100")
        .cast("bigint")
        .alias("budget")
    )
    b = w.withColumn("band", F.expr(f"wq div {DSIR_SEL_BUCKET}"))
    bsum = b.groupBy("band").agg(F.sum("n_tok").cast("bigint").alias("btok"))
    woff = W.orderBy(F.col("band").desc()).rowsBetween(W.unboundedPreceding, -1)
    offs = bsum.select(
        "band",
        F.coalesce(F.sum("btok").over(woff), F.lit(0)).cast("bigint").alias("off"),
    )
    wloc = (
        W.partitionBy("band")
        .orderBy(F.col("wq").desc(), F.col("doc_id").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    before = (
        F.col("off") + F.coalesce(F.sum("n_tok").over(wloc), F.lit(0))
    ).cast("bigint")
    return (
        b.join(F.broadcast(offs), "band")
        .crossJoin(F.broadcast(tot))
        .withColumn("selected", (before + F.col("n_tok") <= F.col("budget")))
    )


def dsir_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR fit -> APPLY loop (the isotonic_apply discipline): rank
    every document by its importance weight and select docs in weight
    order under the token budget — DSIR_SEL_PCT percent of the corpus
    token mass — with strict PREFIX-SUM semantics: a doc is selected iff
    the cumulative token sum up to and INCLUDING it fits the budget
    (a skipped doc's tokens still consume budget, so later smaller docs
    do not back-fill; matches the oracle window exactly). Emits
    per-source selection stats: the artifact a curation run reads to see
    which sources the target-domain weighting favors.

    Determinism: weights quantize to 1e6-unit BIGINTs (they are already
    6dp-rounded), the budget is exact integer arithmetic
    (total * PCT div 100), and the greedy order is (wq DESC, doc_id) —
    no doubles anywhere past the reused dsir_weights boundary. Token
    counts come free: the padded bigram count n_feats is n_tok + 1, so
    no second corpus scan. Scale: the global ordered prefix sum uses the
    shard-plan two-level pattern — micro-weight BANDS aggregate map-side,
    only the |bands| table sees a global window, and a per-band window
    adds local prefixes; no window ever holds the doc table in one
    partition."""
    w = dsir_weights(spark, sf_dir).select(
        "doc_id",
        "source",
        (F.col("n_feats") - F.lit(1)).cast("bigint").alias("n_tok"),
        F.round(F.col("weight") * F.lit(1e6)).cast("bigint").alias("wq"),
    )
    sel = _dsir_select_flags(w)
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("selected").cast("bigint")).cast("bigint").alias("n_sel"),
        F.sum("n_tok").cast("bigint").alias("tok_total"),
        F.coalesce(
            F.sum(F.when(F.col("selected"), F.col("n_tok"))), F.lit(0)
        )
        .cast("bigint")
        .alias("tok_sel"),
    )


def _dsir_select_sql() -> str:
    return f"""
WITH w AS (
  SELECT doc_id, source, n_feats - 1 AS n_tok,
         CAST(round(weight * 1e6) AS BIGINT) AS wq
  FROM ({_dsir_sql()}) dsir),
tot AS (
  SELECT CAST(sum(n_tok) * {DSIR_SEL_PCT} // 100 AS BIGINT) AS budget FROM w),
c AS (
  SELECT doc_id, source, n_tok, wq,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY wq DESC, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS before
  FROM w),
sel AS (
  SELECT c.source, c.n_tok, (c.before + c.n_tok <= t.budget) AS selected
  FROM c CROSS JOIN tot t)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN selected THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
       CAST(sum(n_tok) AS BIGINT) AS tok_total,
       CAST(coalesce(sum(CASE WHEN selected THEN n_tok END), 0) AS BIGINT)
         AS tok_sel
FROM sel GROUP BY source
"""


DSIR_OVL_WIDTHS = (256, 1024, 16384)  # widths whose SELECTION is compared


def dsir_width_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR width DECISION curve (the follow-through on the width
    stability audit, r12 verdict item 4): the width question that
    actually matters downstream is not "do the weights move?" but "does
    the SELECTED CORPUS change?" — so per candidate width (256 / 1024 /
    16384 buckets, bracketing the 4096 reference from both sides) this
    runs the full fit->select loop (production kernels dsir_feats /
    dsir_from_feats / _dsir_select_flags, nothing reimplemented) and
    compares the selected doc set against the DSIR_REF_B selection:
    selected-flag agreement, selection Jaccard, the selection sizes, and
    the token mass the width-b selection shares with the reference. Read
    as a curve: the narrowest width whose sel_jaccard plateaus is the
    cheapest safe width — the blocking-threshold-sweep discipline
    applied to importance resampling.

    Exactness: everything is exact BIGINT except each width's 6dp-
    rounded weight (inherited from dsir_weights) and ONE divide per
    Jaccard. Scale: |widths|+1 runs of the production kernel (each one
    bigram shuffle + broadcast log-ratio table); the per-doc selection
    frames join on doc_id and collapse to |widths| rows map-side."""
    from ..operators.checkpoints import tracked_local_checkpoint
    from .tables import fan_out

    docs = fan_out(
        load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    )

    # ONE corpus featurization: every audited width is a power of two
    # dividing the finest (h % 256 == (h % 16384) % 256 whenever
    # 256 | 16384), so the finest-width feature table re-buckets to any
    # coarser width by an exact integer regroup — bitwise identical to
    # featurizing at that width directly, and the 100 TB bigram scan
    # happens once instead of |widths|+1 times.
    finest = max(set(DSIR_OVL_WIDTHS) | {DSIR_REF_B})
    assert all(finest % b == 0 for b in DSIR_OVL_WIDTHS)
    f_fine, _ = tracked_local_checkpoint(dsir_feats(docs, finest))

    def feats_at(b: int) -> DataFrame:
        if b == finest:
            return f_fine
        return f_fine.groupBy(
            "doc_id", "source", (F.col("b") % F.lit(b)).alias("b")
        ).agg(F.sum("c").cast("bigint").alias("c"))

    def sel(b: int) -> DataFrame:
        w = dsir_from_feats(feats_at(b), b).select(
            "doc_id",
            (F.col("n_feats") - F.lit(1)).cast("bigint").alias("n_tok"),
            F.round(F.col("weight") * F.lit(1e6)).cast("bigint").alias("wq"),
        )
        return _dsir_select_flags(w).select(
            "doc_id", "n_tok", F.col("selected").cast("int").alias("s")
        )

    # the reference selection feeds every width branch — pin it once so
    # the union's three branches don't re-run the reference kernel
    ref, _ = tracked_local_checkpoint(
        sel(DSIR_REF_B).select("doc_id", F.col("s").alias("s_ref")),
    )
    outs = []
    for b in DSIR_OVL_WIDTHS:
        j = sel(b).join(ref, "doc_id")
        # coalesce: global aggregates over an EMPTY corpus are NULL in
        # both engines — pin them to typed zeros identically
        agg = j.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("s"), F.lit(0)).cast("bigint").alias("n_sel"),
            F.coalesce(F.sum("s_ref"), F.lit(0))
            .cast("bigint")
            .alias("n_sel_ref"),
            F.coalesce(
                F.sum((F.col("s") == F.col("s_ref")).cast("bigint")), F.lit(0)
            )
            .cast("bigint")
            .alias("sel_agree"),
            F.coalesce(
                F.sum(
                    ((F.col("s") == 1) & (F.col("s_ref") == 1)).cast("bigint")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("i"),
            F.coalesce(
                F.sum(
                    ((F.col("s") == 1) | (F.col("s_ref") == 1)).cast("bigint")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("u"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("s") == 1) & (F.col("s_ref") == 1),
                        F.col("n_tok"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tok_shared"),
        )
        outs.append(
            agg.select(
                F.lit(b).cast("int").alias("width"),
                "n_docs",
                "n_sel",
                "n_sel_ref",
                "sel_agree",
                F.round(
                    F.when(F.col("u") == 0, F.lit(0.0)).otherwise(
                        F.col("i").cast("double") / F.col("u").cast("double")
                    ),
                    6,
                ).alias("sel_jaccard"),
                "tok_shared",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _dsir_overlap_sql() -> str:
    def sel_q(b: int) -> str:
        return f"""
SELECT doc_id, n_tok,
       CAST(coalesce(sum(n_tok) OVER (ORDER BY wq DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n_tok
            <= (SELECT CAST(sum(n_tok) * {DSIR_SEL_PCT} // 100 AS BIGINT)
                FROM w_{b})
            AS INTEGER) AS s
FROM w_{b}"""

    widths = set(DSIR_OVL_WIDTHS) | {DSIR_REF_B}
    ctes = []
    for b in sorted(widths):
        ctes.append(
            f"""w_{b} AS MATERIALIZED (
  SELECT doc_id, n_feats - 1 AS n_tok,
         CAST(round(weight * 1e6) AS BIGINT) AS wq
  FROM ({_dsir_sql(b)}) x)"""
        )
        ctes.append(f"s_{b} AS MATERIALIZED ({sel_q(b)})")
    parts = []
    for b in DSIR_OVL_WIDTHS:
        parts.append(
            f"""
SELECT CAST({b} AS INTEGER) AS width,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(a.s), 0) AS BIGINT) AS n_sel,
       CAST(coalesce(sum(r.s), 0) AS BIGINT) AS n_sel_ref,
       CAST(coalesce(sum(CASE WHEN a.s = r.s THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS sel_agree,
       round(CASE WHEN coalesce(sum(CASE WHEN a.s = 1 OR r.s = 1
                                         THEN 1 ELSE 0 END), 0) = 0
                  THEN CAST(0 AS DOUBLE)
             ELSE CAST(sum(CASE WHEN a.s = 1 AND r.s = 1 THEN 1 ELSE 0 END)
                       AS DOUBLE)
                  / CAST(sum(CASE WHEN a.s = 1 OR r.s = 1 THEN 1 ELSE 0 END)
                         AS DOUBLE) END, 6) AS sel_jaccard,
       CAST(coalesce(sum(CASE WHEN a.s = 1 AND r.s = 1 THEN a.n_tok END), 0)
            AS BIGINT) AS tok_shared
FROM s_{b} a JOIN s_{DSIR_REF_B} r USING (doc_id)"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(parts)


def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction from REAL WAV bytes: a genuine RIFF/WAVE
    PCM16 file is written per doc (md5 digest = 8 int16 samples; channels and
    sample_rate vary by doc_id), then the RIFF chunk list is walked back with
    struct.unpack in an Arrow-batched mapInPandas kernel. The oracle
    recomputes fmt/channels/rate/frames closed-form from doc_id and the mean
    |amplitude| from the md5 bytes, value-checking the full byte-format
    round trip."""
    from ..operators.multimodal import attach_wav_payload, decode_wav

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return decode_wav(attach_wav_payload(d))


def _mm_decode_sql() -> str:
    s = "md5(text)"
    sum_abs = " + ".join(_md5_abs_i16_sql(s, k) for k in range(8))
    return f"""
SELECT doc_id,
       'pcm16' AS fmt,
       CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
       CAST(8000 * (doc_id % 3 + 1) AS INTEGER) AS sample_rate,
       CAST(8 // (doc_id % 2 + 1) AS BIGINT) AS n_frames,
       CAST({sum_abs} AS DOUBLE) / CAST(8 AS DOUBLE) AS mean_abs
FROM documents WHERE doc_id < 300
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling via row-expanding mapInPandas over REAL WAV payloads:
    a frame is one block_align group (all channels of one sample instant);
    stride-2 sampling keeps even frames with a mean-|amplitude| feature.
    Mono docs have 8 frames (4 sampled), stereo docs 4 (2 sampled)."""
    from ..operators.multimodal import attach_wav_payload, frame_sample

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return frame_sample(attach_wav_payload(d), stride=2)


def _mm_frames_sql() -> str:
    s = "md5(text)"
    selects = []
    for f in (0, 2, 4, 6):
        mono = _md5_abs_i16_sql(s, f)
        if 2 * f + 1 < 8:
            stereo = f"({_md5_abs_i16_sql(s, 2 * f)} + {_md5_abs_i16_sql(s, 2 * f + 1)})"
        else:
            # stereo docs have 4 frames; f >= 4 rows are mono-only (the WHERE
            # excludes stereo), so this branch is dead — any valid expr works
            stereo = "0"
        selects.append(
            f"SELECT doc_id, CAST({f} AS INTEGER) AS frame_idx, "
            f"CASE WHEN doc_id % 2 = 0 THEN CAST({mono} AS DOUBLE) "
            f"ELSE CAST({stereo} AS DOUBLE) / CAST(2 AS DOUBLE) END AS frame_mean "
            f"FROM documents WHERE doc_id < 300 AND {f} < 8 // (doc_id % 2 + 1)"
        )
    return " UNION ALL ".join(selects)


# --- multi-probe LSH -------------------------------------------------------


def lsh_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: each query probes its own bucket PLUS the N_PLANES
    Hamming-1 neighbor buckets (flip one hyperplane bit). The small query
    side explodes 1+N_PLANES ways; the corpus side is untouched, so the join
    stays the same single equi-join on bucket — recall goes up at the cost
    of ~9x the candidate pairs per query, not a different plan shape.
    """
    e = fan_out(load(spark, sf_dir, "embeddings"))
    v = to_double(F.col("embedding"))
    with_bucket = (
        e.select("vec_id", v.alias("vec"))
        .withColumn("bucket", lsh_bucket(F.col("vec"), EMB_DIM))
        .withColumn("nv", norm(F.col("vec")))
    )
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)]
    )
    q = (
        with_bucket.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("vec").alias("q_vec"),
            F.col("nv").alias("nq"),
            F.explode(probes).alias("bucket"),
        )
    )
    c = with_bucket.select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"),
        F.col("nv").alias("nc"), "bucket",
    )
    # a (q, c) pair can match through at most one bucket (buckets partition
    # the corpus), so no post-join dedup is needed
    cand = q.join(c, "bucket").filter(F.col("q_id") != F.col("c_id"))
    scored = cand.withColumn(
        "cos_sim",
        F.round(dot(F.col("q_vec"), F.col("c_vec")) / (F.col("nq") * F.col("nc")), 6),
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("q_id", "c_id", "cos_sim", "rank")
    )


def _multiprobe_sql() -> str:
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << j})" for j in range(N_PLANES)])
    return f"""
WITH wb AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         {lsh_bucket_sql("(embedding::DOUBLE[])", EMB_DIM)} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS q_id, vec AS q_vec, unnest([{probes}]) AS bucket
  FROM wb WHERE vec_id < 10
),
c AS (SELECT vec_id AS c_id, vec AS c_vec, bucket FROM wb),
cand AS (
  SELECT q_id, c_id, round({cosine_sql('q_vec', 'c_vec')}, 6) AS cos_sim
  FROM q JOIN c USING (bucket) WHERE q_id != c_id
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rank FROM cand)
SELECT q_id, c_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 3
"""


# --- train/eval contamination check ---------------------------------------

CONTAM_BENCH_MAX_ID = 20


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: fraction of each corpus document's distinct
    word-3-gram shingles that also appear in the benchmark set (docs with
    doc_id < 20 stand in for an eval suite). The benchmark shingle set is
    genuinely small by contract (eval suites are fixed-size), so it is
    explicitly broadcast; the corpus side never shuffles its raw text —
    only (doc_id, shingle) pairs into the per-doc count.
    """
    # persist the distinct shingle table: it feeds THREE branches (bench
    # set, per-doc totals, hit join) and Catalyst's ReusedExchange does not
    # cover multi-branch reuse of the explode subtree (measured on the
    # minhash pipeline — recomputation roughly doubles runtime).
    sh = _persisted(
        spark,
        sf_dir,
        "contam_sh",
        lambda: exploded_shingles(
            fan_out(load(spark, sf_dir, "documents")).select("doc_id", "text")
        ).distinct(),
    )
    bench = (
        sh.filter(F.col("doc_id") < CONTAM_BENCH_MAX_ID).select("s").distinct()
    )
    corp = sh.filter(F.col("doc_id") >= CONTAM_BENCH_MAX_ID)
    totals = corp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        corp.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_sh",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_sh").cast("double"),
                6,
            ).alias("contamination"),
        )
    )


_CONTAM_SQL = f"""
WITH sh AS ({_SHINGLE_ROWS_SQL}),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < {CONTAM_BENCH_MAX_ID}),
corp AS (SELECT * FROM sh WHERE doc_id >= {CONTAM_BENCH_MAX_ID}),
totals AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY doc_id),
hits AS (
  SELECT corp.doc_id, count(*) AS n_hit
  FROM corp JOIN bench ON corp.s = bench.s
  GROUP BY corp.doc_id
)
SELECT t.doc_id, t.n_sh, coalesce(h.n_hit, 0) AS n_hit,
       round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(t.n_sh AS DOUBLE), 6) AS contamination
FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
"""


SEM_CONTAM_TAU = 0.3  # same similarity bar as EMB_NEAR_DUP_THRESHOLD


def semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC train/eval contamination — the embedding-space member of
    the contamination family (substring_contamination catches verbatim
    leaks, contamination_check catches shingle overlap; this catches
    paraphrased/translated eval items): corpus vectors whose cosine to
    any benchmark vector (vec_id < CONTAM_BENCH_MAX_ID stands in for the
    eval suite) reaches SEM_CONTAM_TAU, with hit count and max
    similarity per flagged item.

    Scale path: multi-probe LSH banding — the BENCHMARK side (small by
    contract) explodes 1+N_PLANES probe buckets; the corpus side lands
    each vector in exactly one bucket, so the join is one equi-join on
    bucket and corpus embeddings never fan out. Exact brute force
    (corpus x bench broadcast) is affordable only while |corpus| is; at
    1e9+ vectors banding is the plan, and its recall at a given tau is
    exactly what the existing recall-eval harness measures. A (b, c)
    pair meets through at most one bucket on the corpus side, so hit
    counts need no dedup. Determinism: both engines band identically, so
    the candidate set — not just the scores — matches bitwise; max over
    rounded cosines and integer counts follow."""
    e = fan_out(load(spark, sf_dir, "embeddings"))
    v = to_double(F.col("embedding"))
    wb = (
        e.select("vec_id", v.alias("vec"))
        .withColumn("bucket", lsh_bucket(F.col("vec"), EMB_DIM))
        .withColumn("nv", norm(F.col("vec")))
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
    )
    b = wb.filter(F.col("vec_id") < CONTAM_BENCH_MAX_ID).select(
        F.col("vec_id").alias("b_id"),
        F.col("vec").alias("b_vec"),
        F.col("nv").alias("nb"),
        F.explode(probes).alias("bucket"),
    )
    c = wb.filter(F.col("vec_id") >= CONTAM_BENCH_MAX_ID).select(
        F.col("vec_id").alias("c_id"),
        F.col("vec").alias("c_vec"),
        F.col("nv").alias("nc"),
        "bucket",
    )
    cs = F.round(
        dot(F.col("b_vec"), F.col("c_vec")) / (F.col("nb") * F.col("nc")), 6
    )
    hits = (
        b.join(c, "bucket")
        .select("b_id", "c_id", cs.alias("cs"))
        .filter(F.col("cs") >= F.lit(SEM_CONTAM_TAU))
    )
    return hits.groupBy(F.col("c_id").alias("vec_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bench_hits"),
        F.max("cs").alias("max_sim"),
    )


def _sem_contam_sql() -> str:
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(N_PLANES)]
    )
    return f"""
WITH wb AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         {lsh_bucket_sql("(embedding::DOUBLE[])", EMB_DIM)} AS bucket
  FROM embeddings),
b AS (
  SELECT vec_id AS b_id, vec AS b_vec, unnest([{probes}]) AS bucket
  FROM wb WHERE vec_id < {CONTAM_BENCH_MAX_ID}),
c AS (
  SELECT vec_id AS c_id, vec AS c_vec, bucket
  FROM wb WHERE vec_id >= {CONTAM_BENCH_MAX_ID}),
hits AS (
  SELECT b_id, c_id, round({cosine_sql('b_vec', 'c_vec')}, 6) AS cs
  FROM b JOIN c USING (bucket)
  WHERE round({cosine_sql('b_vec', 'c_vec')}, 6) >= {dlit(SEM_CONTAM_TAU)})
SELECT c_id AS vec_id, CAST(count(*) AS BIGINT) AS n_bench_hits,
       max(cs) AS max_sim
FROM hits GROUP BY c_id
"""


# --- decontamination filter (round 4) ---------------------------------------

DECONTAM_MAX_FRAC = 0.5


def decontam_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of decontamination: drop corpus docs whose benchmark
    shingle overlap reaches the threshold, and report per-source
    kept/removed counts plus the characters removed — the audit line a
    training-data release ships next to its eval scores
    (contamination_check measures; this enforces and accounts).

    Scale shape: composes the broadcast-bench contamination plan with one
    per-source aggregate. Docs too short to produce a shingle have no
    contamination row and are kept (coalesce to 0.0 — identical in the
    oracle).
    """
    contam = contamination_check(spark, sf_dir).select(
        "doc_id", F.col("contamination").alias("cf")
    )
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= CONTAM_BENCH_MAX_ID)
        .select("doc_id", "source", "n_chars")
    )
    j = d.join(contam, "doc_id", "left").withColumn(
        "removed",
        (F.coalesce("cf", F.lit(0.0)) >= DECONTAM_MAX_FRAC).cast("int"),
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("removed").cast("bigint").alias("n_removed"),
        (F.count(F.lit(1)) - F.sum("removed")).cast("bigint").alias("n_kept"),
        F.sum(F.col("n_chars") * F.col("removed")).cast("bigint").alias("chars_removed"),
    )


_DECONTAM_SQL = f"""
WITH contam AS ({_CONTAM_SQL}),
d AS (SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id >= {CONTAM_BENCH_MAX_ID}),
j AS (
  SELECT d.source, d.n_chars,
         CASE WHEN coalesce(c.contamination, CAST(0.0 AS DOUBLE))
                   >= CAST({DECONTAM_MAX_FRAC} AS DOUBLE)
              THEN 1 ELSE 0 END AS removed
  FROM d LEFT JOIN contam c ON d.doc_id = c.doc_id
)
SELECT source, count(*) AS n_docs,
       CAST(sum(removed) AS BIGINT) AS n_removed,
       CAST(count(*) - sum(removed) AS BIGINT) AS n_kept,
       CAST(sum(n_chars * removed) AS BIGINT) AS chars_removed
FROM j GROUP BY source
"""


# --- deterministic stratified sampling ------------------------------------

SAMPLE_RATES = {"en": 0.25, "de": 0.5, "fr": 0.5, "es": 0.75, "zh": 0.75}


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language downsampling with a DETERMINISTIC hash gate: keep a doc
    iff u(doc_id) < rate(lang), where u = first-16-bits(md5(doc_id))/65536.
    Unlike df.sample(), rerunning (or re-running a failed partition at
    100 TB) selects the identical rows — sampling decisions must be a pure
    function of the key, never of partition iteration order.
    """
    d = load(spark, sf_dir, "documents")
    u = _hex4_to_int(F.md5(F.col("doc_id").cast("string"))) / F.lit(65536.0)
    rate = F.when(F.lit(False), 0.0)
    for lg, r in SAMPLE_RATES.items():
        rate = rate.when(F.col("lang") == lg, F.lit(r))
    rate = rate.otherwise(F.lit(0.5))
    return d.filter(u < rate).select("doc_id", "lang", "n_chars")


def _stratified_sample_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{lg}' THEN CAST({r} AS DOUBLE)" for lg, r in SAMPLE_RATES.items()
    )
    u = _hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")
    return f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE {u} / CAST(65536.0 AS DOUBLE) < (CASE {cases} ELSE CAST(0.5 AS DOUBLE) END)
"""


PRIO_K = 20  # docs kept per source by the priority sampler
PRIO_SCALE = 1 << 32  # priority quantization: w·2^32 // u


def priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without RNG state: per source, keep the top
    PRIO_K docs by PRIORITY w/u (Duffield-Lund-Thorup priority sampling,
    JACM 2007 — the weighted companion to stratified_sample's uniform
    hash gate): w = n_chars (long docs proportionally likelier), u a
    pure md5-u32 hash of doc_id in [1, 2^32]. Deterministic end to end —
    re-running a failed partition at 100 TB, or re-running the whole
    job, selects the identical sample, and the oracle replays it
    exactly.

    Exactness twist: the ratio w/u cannot be ordered portably as a
    double (last-ulp division differences could flip ranks between
    engines), so the priority is QUANTIZED to the exact BIGINT
    w·2^32 // u (w·2^32 ≤ ~4e16 < 2^63 — no overflow; resolution 2^-32
    relative, far below any real weight gap), ties broken by doc_id.
    Both engines evaluate the identical integer, so the sample is
    bitwise reproducible by construction.

    Scale: one scan, a (source)-keyed top-K window over rank keys —
    at billions of docs the window becomes the per-partition TakeOrdered
    + merge Spark already plans for row_number()<=K on keyed windows."""
    from pyspark.sql import Window

    from .relational import _kmv_u32

    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    u = _kmv_u32(F.col("doc_id").cast("string")) + F.lit(1)
    prio = F.expr(f"(n_chars * CAST({PRIO_SCALE} AS BIGINT)) DIV u")
    keyed = d.select(
        "doc_id", "source", "n_chars", u.cast("bigint").alias("u")
    ).select("*", prio.alias("priority_q"))
    rn = F.row_number().over(
        Window.partitionBy("source").orderBy(
            F.col("priority_q").desc(), F.col("doc_id").asc()
        )
    ).cast("bigint")
    return (
        keyed.select("source", "doc_id", "n_chars", "priority_q", rn.alias("rank"))
        .filter(F.col("rank") <= PRIO_K)
        .orderBy("source", "rank")
    )


def _priority_sample_sql(where: str = "") -> str:
    # `where` narrows the corpus (the retraction mirror's survivors-only
    # view); empty = all documents.
    from .relational import _kmv_u32_sql

    u = _kmv_u32_sql("doc_id")
    return f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         (n_chars * CAST({PRIO_SCALE} AS BIGINT)) // ({u} + 1) AS priority_q
  FROM documents {where}),
ranked AS (
  SELECT source, doc_id, n_chars, priority_q,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY priority_q DESC, doc_id ASC) AS BIGINT)
           AS rank
  FROM keyed)
SELECT source, doc_id, n_chars, priority_q, rank
FROM ranked WHERE rank <= {PRIO_K}
ORDER BY source, rank
"""


# --- TF-IDF ----------------------------------------------------------------

TFIDF_MAX_ID = 200
TFIDF_TOPK = 3


def tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document over a bounded doc range. Two
    shuffles: (doc_id, word) term counts, then word -> document frequency
    joined back (the df table is vocabulary-sized — broadcast-friendly at
    any corpus scale since vocabularies grow sublinearly)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < TFIDF_MAX_ID)
    n_docs = TFIDF_MAX_ID  # doc_ids are dense 0..N-1 in the lake
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(df_, "w").withColumn(
        "tfidf",
        F.round(
            F.col("tf").cast("double")
            * F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df").cast("double") + 1.0)),
            6,
        ),
    )
    win = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("w"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select("doc_id", "w", "tf", "df", "tfidf", "rank")
    )


_TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id < {TFIDF_MAX_ID}
),
tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id, tf.w, tf.tf, df.df,
         round(CAST(tf.tf AS DOUBLE)
               * ln((CAST({TFIDF_MAX_ID} AS DOUBLE) + CAST(1.0 AS DOUBLE))
                    / (CAST(df.df AS DOUBLE) + CAST(1.0 AS DOUBLE))), 6) AS tfidf
  FROM tf JOIN df ON tf.w = df.w
)
SELECT doc_id, w, tf, df, tfidf, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rank
  FROM scored) t
WHERE rank <= {TFIDF_TOPK}
"""


# --- grouped-map Arrow kernel (applyInPandas, batch) -----------------------


def zscore_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document length via batch ``applyInPandas``
    — the grouped-map Arrow escape hatch (streaming counterpart:
    streaming/events_stream.py stateful op). The kernel accumulates the
    moments as EXACT int64 sums and applies one fixed double formula, so
    the Python path is bitwise-reproducible and oracle-checkable — the
    discipline any pandas kernel needs before it runs on 1000 executors.
    """
    import pandas as pd

    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        x = pdf["n_chars"].to_numpy(dtype="int64")
        n = len(x)
        s = int(x.sum())
        ss = int((x * x).sum())
        # degenerate groups (single doc, zero variance) get NULL z — the
        # same branch the oracle takes — instead of ZeroDivisionError / inf
        var = (ss - s * s / n) / (n - 1) if n > 1 else 0.0
        if var <= 0.0:
            z = pd.array([None] * n, dtype="Float64")
        else:
            mean = s / n
            raw = (x.astype("float64") - mean) / np.sqrt(var)
            # HALF_UP rounding to match F.round / DuckDB round (np.round is
            # half-even — a latent 1-ulp hash-mismatch source on exact ties)
            z = pd.array(
                np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6,
                dtype="Float64",
            )
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "z_len": z}
        )

    return d.groupBy("lang").applyInPandas(
        kernel, "doc_id long, lang string, z_len double"
    )


_ZSCORE_SQL = """
WITH g AS (
  SELECT lang, count(*) AS n,
         sum(n_chars) AS s, sum(n_chars * n_chars) AS ss
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang,
       CASE WHEN n < 2 OR (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) <= 0 THEN NULL
            ELSE round((CAST(d.n_chars AS DOUBLE) - CAST(s AS DOUBLE) / n)
                       / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)), 6)
       END AS z_len
FROM documents d JOIN g USING (lang)
"""


# --- transitive dedup clusters --------------------------------------------


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified minhash near-dup pairs:
    (doc_id, cluster_id) with cluster_id = min doc id in the component.
    Pairwise kill lists over-kill chains (a-b, b-c kills b AND c); the
    cluster view is what survivor selection should run on. Iterative
    min-label propagation (operators/components.py); the oracle is the
    equivalent transitive closure via a recursive CTE — both converge to
    the same fixpoint, so the iteration itself is value-checked."""
    from ..operators.components import connected_components

    pairs = minhash_near_dup_pairs(spark, sf_dir)
    return connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a
"""


def cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware dedup: keep every doc that is its own cluster minimum
    (plus all unclustered docs) — exactly one survivor per near-dup
    cluster, the correct version of the pairwise near_dup_survivors."""
    d = load(spark, sf_dir, "documents")
    cc = dedup_clusters(spark, sf_dir)
    kills = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return d.join(kills, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


_CLUSTER_SURVIVORS_SQL = f"""
WITH RECURSIVE cc AS ({_CLUSTERS_SQL}),
kills AS (SELECT doc_id FROM cc WHERE doc_id != cluster_id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d ANTI JOIN kills k ON d.doc_id = k.doc_id
"""


def cluster_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: each near-dup cluster keeps its
    HIGHEST-QUALITY member (quality score desc, doc_id asc tiebreak)
    instead of the lowest id — what production dedup actually ships (the
    best copy survives, not an arbitrary one). Unclustered docs survive
    untouched; each survivor row carries its cluster id and size so the
    release audit can weight by multiplicity.

    Scale: the cluster table is near-dup-members-sized (tiny vs the
    corpus); quality joins on doc_id; the per-cluster argmax is a window
    over cluster members only, then one anti join removes the
    non-canonical members from the corpus."""
    d = load(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    cc = dedup_clusters(spark, sf_dir)
    scored = cc.join(d.select("doc_id", q.alias("quality")), "doc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "csize", F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
    )
    kills = ranked.filter(F.col("rn") != 1).select("doc_id")
    keep_meta = ranked.filter(F.col("rn") == 1).select(
        "doc_id", "cluster_id", F.col("csize").cast("bigint").alias("cluster_size")
    )
    return (
        d.join(kills, "doc_id", "left_anti")
        .join(keep_meta, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
            F.coalesce(F.col("cluster_size"), F.lit(1))
            .cast("bigint")
            .alias("cluster_size"),
        )
    )


_CLUSTER_BEST_SQL = f"""
WITH RECURSIVE cc AS ({_CLUSTERS_SQL}),
scored AS (
  SELECT cc.doc_id, cc.cluster_id, {quality_score_sql('d.text')} AS quality
  FROM cc JOIN documents d ON cc.doc_id = d.doc_id
),
ranked AS (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS csize
  FROM scored
),
kills AS (SELECT doc_id FROM ranked WHERE rn != 1),
keep_meta AS (SELECT doc_id, cluster_id, CAST(csize AS BIGINT) AS cluster_size
              FROM ranked WHERE rn = 1)
SELECT d.doc_id, d.lang, d.n_chars,
       coalesce(m.cluster_id, d.doc_id) AS cluster_id,
       CAST(coalesce(m.cluster_size, 1) AS BIGINT) AS cluster_size
FROM documents d
ANTI JOIN kills k ON d.doc_id = k.doc_id
LEFT JOIN keep_meta m ON d.doc_id = m.doc_id
"""


# --- end-to-end quality gate ----------------------------------------------

QUALITY_MIN = 0.5
CHARS_MIN, CHARS_MAX = 50, 2000


def quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation filter a training-data pipeline ships: quality score,
    length band, and language allowlist combined; emits survivors with
    their scores. Pure column expressions -> fully pushed-down scan +
    filter, no shuffle at all."""
    d = load(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    return (
        d.withColumn("quality", q)
        .filter(
            (F.col("quality") >= QUALITY_MIN)
            & (F.col("n_chars") >= CHARS_MIN)
            & (F.col("n_chars") <= CHARS_MAX)
            & F.col("lang").isin("en", "de", "fr")
        )
        .select("doc_id", "lang", "n_chars", "quality")
    )


_QUALITY_GATE_SQL = f"""
SELECT doc_id, lang, n_chars, {quality_score_sql('text')} AS quality
FROM documents
WHERE {quality_score_sql('text')} >= CAST({QUALITY_MIN} AS DOUBLE)
  AND n_chars BETWEEN {CHARS_MIN} AND {CHARS_MAX}
  AND lang IN ('en', 'de', 'fr')
"""


# --- training-data prep: chunking, packing, split, scrub, mixing -----------

CHUNK_WORDS = 32
PACK_BUDGET = 256


def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window prep: split every document into fixed CHUNK_WORDS-word
    chunks (last chunk ragged). One explode per doc — at scale this is a
    narrow map-side transform with no shuffle; chunk count rides the
    sequence(), text slices stay inside codegen."""
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n = F.size(w)
    n_chunks = F.ceil(n / F.lit(CHUNK_WORDS)).cast("int")
    return (
        d.select("doc_id", w.alias("w"), n.alias("n"), n_chunks.alias("nc"))
        .select(
            "doc_id",
            "w",
            "n",
            F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.least(
                F.lit(CHUNK_WORDS), F.col("n") - F.col("chunk_id") * CHUNK_WORDS
            ).cast("bigint").alias("n_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("w"), F.col("chunk_id") * CHUNK_WORDS + 1, CHUNK_WORDS)
            ).alias("chunk"),
        )
    )


_CHUNKING_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         len(string_split(text, ' ')) AS n,
         CAST(ceil(len(string_split(text, ' ')) / CAST({CHUNK_WORDS} AS DOUBLE)) AS INTEGER) AS nc
  FROM documents
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(least({CHUNK_WORDS}, n - i * {CHUNK_WORDS}) AS BIGINT) AS n_tokens,
       array_to_string(w[i * {CHUNK_WORDS} + 1 : i * {CHUNK_WORDS} + {CHUNK_WORDS}], ' ') AS chunk
FROM t, LATERAL (SELECT unnest(generate_series(0, nc - 1)) AS i) s
"""


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy stream packing of documents into PACK_BUDGET-token bins:
    within each source (deterministic doc_id order), a running token count
    assigns each doc to the bin its first token lands in.

    The window partitions by source, so at scale the cumulative sum runs
    one partition per source in parallel — never a single global ordered
    window (the classic driver-melting mistake for this op)."""
    d = load(spark, sf_dir, "documents")
    toks = word_count(F.col("text"))
    win = W.partitionBy("source").orderBy("doc_id")
    with_pack = (
        d.select("doc_id", "source", toks.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(win))
        .withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_BUDGET)).cast("bigint"),
        )
    )
    return (
        with_pack.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_packed"),
            F.round(
                F.sum("n_tokens") / F.lit(float(PACK_BUDGET)), 6
            ).alias("fill_ratio"),
        )
    )


_PACKING_SQL = f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
         sum(len(string_split(text, ' '))) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
)
SELECT source, CAST(floor((cum - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS pack_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_packed,
       round(sum(n_tokens) / CAST({PACK_BUDGET} AS DOUBLE), 6) AS fill_ratio
FROM t GROUP BY 1, 2
"""


SHARD_TOKENS = 2048  # global shard size target (tokens)
SHARD_BUCKET = 64  # doc_ids per prefix-sum bucket


def _shard_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tok, shard_id) under the two-level distributed prefix
    sum — the assignment step shared by global_shard_plan and the shard
    mixing audit."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", word_count(F.col("text")).alias("n_tok")
    )
    b = d.withColumn("bucket", F.expr(f"doc_id div {SHARD_BUCKET}"))
    bsum = b.groupBy("bucket").agg(F.sum("n_tok").cast("bigint").alias("btok"))
    woff = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    offs = bsum.select(
        "bucket",
        F.coalesce(F.sum("btok").over(woff), F.lit(0)).cast("bigint").alias("off"),
    )
    wloc = (
        W.partitionBy("bucket").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    )
    before = (
        F.col("off") + F.coalesce(F.sum("n_tok").over(wloc), F.lit(0))
    ).cast("bigint")
    return (
        b.join(F.broadcast(offs), "bucket")
        .withColumn("before", before)
        .withColumn("shard_id", F.expr(f"before div {SHARD_TOKENS}"))
        .select("doc_id", "n_tok", "shard_id")
    )


def global_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL corpus sharding for export: every document gets the shard
    its FIRST token lands in under a corpus-wide running token count in
    doc_id order — the step that writes a curated corpus out as
    fixed-size training shards with deterministic, stable boundaries
    (sequence_packing is the per-SOURCE variant; this one needs a global
    ordered prefix sum, which naively is THE driver-melting single-task
    window). One row per shard: doc count, token count, first/last doc.

    Scale pattern — the two-level distributed prefix sum: (1) bucket docs
    by contiguous doc_id ranges (doc_id div SHARD_BUCKET) and aggregate
    per-bucket token sums map-side; (2) cumulate ONLY the bucket sums —
    a window over the buckets table, |docs|/SHARD_BUCKET rows, broadcast
    back; (3) a per-BUCKET window adds local prefixes. No window ever
    sees the full doc table in one partition. At 1e12 docs the bucket
    table itself gets the same treatment recursively (three levels);
    everything is exact int64 arithmetic, so the result is
    order-deterministic by construction."""
    return _shard_assigned(spark, sf_dir).groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_SHARD_PLAN_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
c AS (
  SELECT doc_id, n_tok,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS before
  FROM d)
SELECT CAST(before // {SHARD_TOKENS} AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1
"""


def shard_mixing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing uniformity audit over the global shard plan: a
    training run streams shards in order, so a shard whose source mix
    diverges from the corpus mix is a local curriculum bug (a stretch of
    one source in doc_id order). Per shard: the chi-square statistic of
    its observed source counts against corpus-proportional expectations
    (ABSENT sources still contribute their expectation — the grid is
    shards x corpus sources), the worst-fitting source, and sizes.

    Each cell term (o*N - n_sh*N_s)^2 / (N*n_sh*N_s) is one
    deterministic double from exact BIGINT inputs, quantized to 1e-6
    micro-units before the per-shard sum (the bcubed discipline) — chi2
    is bitwise-stable under any partial-aggregation order.

    Scale: rides _shard_assigned's two-level prefix sum; the audit adds
    one (shard, source) aggregate and a shards x sources grid join
    (sources are an alphabet, the grid is shard-table-sized).
    """
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    ds = _shard_assigned(spark, sf_dir).join(src, "doc_id")
    corpus = src.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("ns"))
    ntot = corpus.agg(F.sum("ns").cast("bigint").alias("n"))
    shards = ds.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    cells = ds.groupBy("shard_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    grid = (
        shards.crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(ntot))
        .join(cells, ["shard_id", "source"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)).cast("bigint"))
    )
    num = F.col("o") * F.col("n") - F.col("n_sh") * F.col("ns")
    term = (num * num).cast("double") / (
        F.col("n") * F.col("n_sh") * F.col("ns")
    ).cast("double")
    t_mu = F.floor(term * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    per = grid.groupBy("shard_id", "n_sh").agg(
        F.sum(t_mu).cast("bigint").alias("chi_micro"),
        F.max(F.struct(t_mu.alias("t"), F.col("source"))).alias("worst"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
    )
    return per.select(
        "shard_id",
        F.col("n_sh").alias("n_docs"),
        "n_sources",
        F.round(F.col("chi_micro").cast("double") / F.lit(1e6), 6).alias("chi2"),
        F.col("worst.source").alias("worst_source"),
    )


_SHARD_MIX_SQL = f"""
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
c AS (
  SELECT doc_id,
         CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS before
  FROM d),
ds AS (
  SELECT CAST(before // {SHARD_TOKENS} AS BIGINT) AS shard_id, doc.source
  FROM c JOIN documents doc USING (doc_id)),
corpus AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
           FROM documents GROUP BY source),
ntot AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM corpus),
shards AS (SELECT shard_id, CAST(count(*) AS BIGINT) AS n_sh
           FROM ds GROUP BY shard_id),
cells AS (SELECT shard_id, source, CAST(count(*) AS BIGINT) AS o
          FROM ds GROUP BY 1, 2),
grid AS (
  SELECT s.shard_id, s.n_sh, co.source, co.ns, t.n,
         CAST(coalesce(ce.o, 0) AS BIGINT) AS o
  FROM shards s CROSS JOIN corpus co CROSS JOIN ntot t
  LEFT JOIN cells ce ON ce.shard_id = s.shard_id AND ce.source = co.source),
terms AS (
  SELECT shard_id, n_sh, source,
         CAST(floor(CAST((o * n - n_sh * ns) * (o * n - n_sh * ns) AS DOUBLE)
                    / CAST(n * n_sh * ns AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS t_mu
  FROM grid)
SELECT shard_id, n_sh AS n_docs,
       CAST(count(*) AS BIGINT) AS n_sources,
       round(CAST(sum(t_mu) AS DOUBLE) / 1e6, 6) AS chi2,
       max(struct_pack(t := t_mu, source := source)).source AS worst_source
FROM terms GROUP BY shard_id, n_sh
"""


SPLIT_TRAIN, SPLIT_VAL = 90, 95  # of 100


def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by hashed doc_id: the split
    label is a pure column expression (md5 -> 16-bit int -> mod 100), so
    membership is stable under reshuffling, appends, and re-runs — the
    property a reproducible training pipeline needs. Aggregates per split."""
    d = load(spark, sf_dir, "documents")
    bucket = _hex4_to_int(F.md5(F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), word_count(F.col("text")).alias("n_tokens"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


_SPLIT_SQL = f"""
WITH t AS (
  SELECT CASE WHEN {_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % 100 < {SPLIT_TRAIN} THEN 'train'
              WHEN {_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % 100 < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM t GROUP BY split
"""


PII_NUM_RE = "[0-9]+"
PII_EMAIL_RE = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass over the events payload column (the synthetic
    lake's only text with digits): redact email-shaped tokens, then digit
    runs, reporting per-row redaction counts and the scrubbed payload's
    fingerprint. Pure regexp column expressions — no shuffle, scales
    linearly with the corpus."""
    e = load(spark, sf_dir, "events")
    n_emails = F.size(F.regexp_extract_all(F.col("props"), F.lit(PII_EMAIL_RE), 0))
    scrub1 = F.regexp_replace(F.col("props"), PII_EMAIL_RE, "<EMAIL>")
    n_nums = F.size(F.regexp_extract_all(scrub1, F.lit(PII_NUM_RE), 0))
    scrubbed = F.regexp_replace(scrub1, PII_NUM_RE, "<NUM>")
    return e.select(
        "event_id",
        n_emails.cast("bigint").alias("n_email_redactions"),
        n_nums.cast("bigint").alias("n_num_redactions"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).filter((F.col("n_email_redactions") > 0) | (F.col("n_num_redactions") > 0))


_PII_SQL = f"""
WITH t AS (
  SELECT event_id,
         len(regexp_extract_all(props, '{PII_EMAIL_RE}')) AS n_email_redactions,
         regexp_replace(props, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS s1
  FROM events
)
SELECT event_id,
       CAST(n_email_redactions AS BIGINT) AS n_email_redactions,
       CAST(len(regexp_extract_all(s1, '{PII_NUM_RE}')) AS BIGINT) AS n_num_redactions,
       md5(regexp_replace(s1, '{PII_NUM_RE}', '<NUM>', 'g')) AS scrubbed_md5
FROM t
WHERE n_email_redactions > 0 OR len(regexp_extract_all(s1, '{PII_NUM_RE}')) > 0
"""


def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 tokens by frequency: explode -> count -> global
    top-k. The groupBy shuffles only distinct tokens (map-side combine);
    the top-k is TakeOrderedAndProject, never a full sort of the vocab."""
    d = fan_out(load(spark, sf_dir, "documents"))
    return (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w"))
        .limit(20)
    )


_HEAVY_HITTERS_SQL = """
SELECT w, count(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
GROUP BY w ORDER BY freq DESC, w LIMIT 20
"""


def dataset_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: each source gets a deterministic sampling
    rate ((source_number % 5 + 1)/10); a doc survives iff its hashed
    (doc_id, source) key falls under the rate. Per-source realized rates
    come out alongside targets — the reproducible-subsample op a data
    mixture pipeline needs (membership stable under re-runs/appends)."""
    d = load(spark, sf_dir, "documents")
    rate = (
        (F.regexp_extract(F.col("source"), "[0-9]+", 0).cast("int") % 5 + 1) / 10.0
    )
    hv = _hex4_to_int(F.md5(F.concat(F.col("doc_id").cast("string"), F.col("source"))))
    keep = (hv / F.lit(65536.0)) < rate
    return (
        d.select("source", rate.alias("target_rate"), keep.cast("int").alias("kept"))
        .groupBy("source", "target_rate")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 6).alias("realized_rate"),
        )
    )


_MIXING_SQL = f"""
WITH t AS (
  SELECT source,
         (CAST(regexp_extract(source, '[0-9]+') AS INTEGER) % 5 + 1) / CAST(10.0 AS DOUBLE) AS target_rate,
         CASE WHEN {_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR) || source)")} / CAST(65536.0 AS DOUBLE)
                   < (CAST(regexp_extract(source, '[0-9]+') AS INTEGER) % 5 + 1) / CAST(10.0 AS DOUBLE)
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT source, target_rate, count(*) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept,
       round(sum(kept) / CAST(count(*) AS DOUBLE), 6) AS realized_rate
FROM t GROUP BY 1, 2
"""


def mixing_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-shift audit: KL(kept ‖ corpus) and Jensen-Shannon divergence
    between the LANGUAGE distribution of the dataset_mixing survivor set and
    the full corpus — the one-number answer to "did source-rate mixing skew
    the language mix?" that a release gate thresholds before shipping a
    blend (JS is the symmetric, always-finite companion; languages the
    sampler dropped entirely contribute 0·log 0 = 0 to the kept-side terms).

    Determinism: counts are exact integers from ONE map-side-combining
    (lang) aggregate; p/q are single double divisions; the three divergence
    sums are sequential folds over the SAME lang-sorted array, so both
    engines add identical doubles in identical order (round 6 at the end).
    Scale shape: the fold input is language-alphabet-sized whatever the
    corpus size — the whole audit is one aggregate plus O(|langs|) driver
    -free arithmetic."""
    d = load(spark, sf_dir, "documents")
    rate = (
        (F.regexp_extract(F.col("source"), "[0-9]+", 0).cast("int") % 5 + 1) / 10.0
    )
    hv = _hex4_to_int(F.md5(F.concat(F.col("doc_id").cast("string"), F.col("source"))))
    keep = ((hv / F.lit(65536.0)) < rate).cast("long")
    per = (
        d.select("lang", keep.alias("kept"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_corpus"), F.sum("kept").alias("n_kept"))
    )
    arr = per.agg(
        F.sum("n_corpus").alias("tot_c"),
        F.sum("n_kept").alias("tot_k"),
        F.count(F.lit(1)).alias("n_langs"),
        F.array_sort(
            F.collect_list(F.struct("lang", "n_corpus", "n_kept"))
        ).alias("xs"),
    ).filter(F.col("tot_k") > 0)
    tc = F.col("tot_c").cast("double")
    tk = F.col("tot_k").cast("double")
    p = lambda s: s.getField("n_corpus").cast("double") / tc  # noqa: E731
    q = lambda s: s.getField("n_kept").cast("double") / tk  # noqa: E731
    fold = lambda expr: F.aggregate("xs", F.lit(0.0), expr)  # noqa: E731
    kl = fold(
        lambda a, s: a
        + F.when(
            s.getField("n_kept") > 0, q(s) * F.log(q(s) / p(s))
        ).otherwise(F.lit(0.0))
    )
    jsp = fold(
        lambda a, s: a + p(s) * F.log(p(s) / ((p(s) + q(s)) / F.lit(2.0)))
    )
    jsq = fold(
        lambda a, s: a
        + F.when(
            s.getField("n_kept") > 0,
            q(s) * F.log(q(s) / ((p(s) + q(s)) / F.lit(2.0))),
        ).otherwise(F.lit(0.0))
    )
    return arr.select(
        F.col("n_langs").cast("bigint").alias("n_langs"),
        F.col("tot_c").cast("bigint").alias("n_docs"),
        F.col("tot_k").cast("bigint").alias("n_kept"),
        F.round(kl, 6).alias("kl_kept_vs_corpus"),
        F.round(F.lit(0.5) * jsp + F.lit(0.5) * jsq, 6).alias("js_divergence"),
    )


_MIX_DIV_SQL = f"""
WITH t AS (
  SELECT lang, count(*) AS n_corpus,
         sum(CASE WHEN {_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR) || source)")}
                       / CAST(65536.0 AS DOUBLE)
                  < (CAST(regexp_extract(source, '[0-9]+') AS INTEGER) % 5 + 1)
                    / CAST(10.0 AS DOUBLE)
             THEN 1 ELSE 0 END) AS n_kept
  FROM documents GROUP BY lang
),
tot AS (SELECT sum(n_corpus) AS tot_c, sum(n_kept) AS tot_k,
               count(*) AS n_langs FROM t),
terms AS (
  SELECT lang, n_kept,
         CAST(n_corpus AS DOUBLE) / CAST(tot_c AS DOUBLE) AS p,
         CAST(n_kept AS DOUBLE) / CAST(tot_k AS DOUBLE) AS q
  FROM t, tot
),
folds AS (
  SELECT
    list_reduce(list_prepend({dlit(0.0)},
      list(CASE WHEN n_kept > 0 THEN q * ln(q / p) ELSE {dlit(0.0)} END
           ORDER BY lang)), (a, x) -> a + x) AS kl,
    list_reduce(list_prepend({dlit(0.0)},
      list(p * ln(p / ((p + q) / CAST(2.0 AS DOUBLE))) ORDER BY lang)),
      (a, x) -> a + x) AS jsp,
    list_reduce(list_prepend({dlit(0.0)},
      list(CASE WHEN n_kept > 0 THEN q * ln(q / ((p + q) / CAST(2.0 AS DOUBLE)))
                ELSE {dlit(0.0)} END ORDER BY lang)), (a, x) -> a + x) AS jsq
  FROM terms
)
SELECT CAST(n_langs AS BIGINT) AS n_langs, CAST(tot_c AS BIGINT) AS n_docs,
       CAST(tot_k AS BIGINT) AS n_kept,
       round(kl, 6) AS kl_kept_vs_corpus,
       round({dlit(0.5)} * jsp + {dlit(0.5)} * jsq, 6) AS js_divergence
FROM folds, tot WHERE tot_k > 0
"""


FUZZY_MAX_ID = 40
FUZZY_PREFIX = 200
FUZZY_MAX_DIST = 60


def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy-match kernel: pairwise Levenshtein over text
    prefixes for a bounded id range — the exact verifier an LSH/blocking
    pipeline would run on its candidate pairs (deliberately bounded, like
    the n-gram Jaccard kernel; at scale the pair list comes from a blocking
    join, never from a corpus cross product)."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < FUZZY_MAX_ID)
        .select("doc_id", F.substring("text", 1, FUZZY_PREFIX).alias("t"))
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.t"), F.col("b.t")).cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
    )


_FUZZY_SQL = f"""
WITH d AS (
  SELECT doc_id, substr(text, 1, {FUZZY_PREFIX}) AS t
  FROM documents WHERE doc_id < {FUZZY_MAX_ID}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE levenshtein(a.t, b.t) <= {FUZZY_MAX_DIST}
"""


def quality_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality score computed by a VECTORIZED Arrow scalar pandas_udf
    instead of column expressions — the batteries-included UDF surface,
    value-checked bitwise against the same DuckDB oracle as the native
    version (identical float operation ordering inside the kernel; the
    final 6-dp round stays JVM-side so both paths share it). Arrow batches
    move whole columns, never rows."""
    from pyspark.sql.functions import pandas_udf

    stops = set(LANG_STOPWORDS["en"])

    # no type hints: `from __future__ import annotations` stringifies them
    # and pandas isn't module-global, so hint inference would fail; the
    # explicit pandas_udf(fn, "double") form defaults to a SCALAR Arrow UDF
    def _quality_kernel(text):
        import re

        words = text.str.split(" ")
        wc = words.str.len().astype("float64")
        length_part = (wc / 100.0).clip(upper=1.0)
        stop_part = (
            words.apply(lambda ws: sum(w in stops for w in ws)).astype("float64") / wc
        )
        n = text.str.len().astype("float64")
        stripped = text.apply(lambda s: len(re.sub(r"[.,!?;:]", "", s))).astype(
            "float64"
        )
        punct_ratio = (n - stripped) / n
        return 0.4 * length_part + 0.3 * (1.0 - punct_ratio) + 0.3 * stop_part

    _quality = pandas_udf(_quality_kernel, "double")

    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.round(_quality(F.col("text")), 6).alias("quality"))


_QUALITY_UDF_SQL = QUALITY_SQL  # same contract as the native column version


NGRAM_MIN_FREQ = 5


def entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus word-level entropy rate (Shannon 1951's printed-English
    measurement, run on the lake): unigram entropy H1 = H(W), bigram
    block entropy H(W1,W2), the conditional entropy rate
    H2 = H(W2|W1) = H(W1,W2) − H(W1), and the redundancy 1 − H2/H1 —
    the number that says how much a bigram model compresses over a
    unigram model (the statistical rationale behind every n-gram LM
    query in this file). Token stream = whitespace words, bigrams over
    consecutive word pairs WITHIN a document (no padding — block
    entropy over the observed pair distribution).

    Each entropy term −p·log2 p is one deterministic double from exact
    BIGINT counts, quantized to 1e-6 micro-units before the cross-vocab
    sum (the bcubed discipline) — H values are bitwise-stable at any
    parallelism.

    Scale: the unigram and bigram count tables are the vocab-keyed
    map-side-combining aggregates every LM query here already rides;
    the entropy rollups collapse them to one row each.
    """
    d = load(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    uni = (
        d.select(F.explode(w).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    big = (
        d.select(
            F.explode(
                F.arrays_zip(
                    F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))).alias("w1"),
                    F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))).alias("w2"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("f"))
    )

    def h_micro(df):  # noqa: ANN001 — -sum p*log2(p) in 1e-6 BIGINT units
        tot = df.agg(F.sum("f").cast("bigint").alias("n"))
        p = F.col("f").cast("double") / F.col("n").cast("double")
        t = -p * F.log2(p)
        return (
            df.crossJoin(F.broadcast(tot))
            .agg(
                F.coalesce(
                    F.sum(F.floor(t * F.lit(1e6) + F.lit(0.5)).cast("bigint")),
                    F.lit(0),
                ).cast("bigint").alias("h_mu"),
                F.max("n").alias("n"),
                F.count(F.lit(1)).cast("bigint").alias("vocab"),
            )
        )

    h1 = h_micro(uni).select(
        F.col("h_mu").alias("h1_mu"),
        F.col("n").alias("n_tokens"),
        F.col("vocab").alias("uni_vocab"),
    )
    h12 = h_micro(big).select(
        F.col("h_mu").alias("h12_mu"),
        F.col("n").alias("n_bigrams"),
        F.col("vocab").alias("bi_vocab"),
    )
    out = h1.crossJoin(h12)
    h1d = F.col("h1_mu").cast("double") / F.lit(1e6)
    h2d = (F.col("h12_mu") - F.col("h1_mu")).cast("double") / F.lit(1e6)
    return out.select(
        "n_tokens",
        "uni_vocab",
        "n_bigrams",
        "bi_vocab",
        F.round(h1d, 6).alias("h1_bits"),
        F.round(F.col("h12_mu").cast("double") / F.lit(1e6), 6).alias("h12_bits"),
        F.round(h2d, 6).alias("h2_cond_bits"),
        F.round(
            F.when(F.col("h1_mu") == 0, F.lit(0.0)).otherwise(
                F.lit(1.0) - h2d / h1d
            ),
            6,
        ).alias("redundancy"),
    )


_ENTROPY_RATE_SQL = """
WITH uni AS (
  SELECT t, count(*) AS f
  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  GROUP BY t),
h1 AS (
  SELECT CAST(coalesce(sum(CAST(floor(
           -(CAST(f AS DOUBLE) / n) * log2(CAST(f AS DOUBLE) / n)
           * 1e6 + 0.5) AS BIGINT)), 0) AS BIGINT) AS h1_mu,
         CAST(max(n) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS uni_vocab
  FROM uni, (SELECT CAST(sum(f) AS BIGINT) AS n FROM uni) t),
big AS (
  SELECT w1, w2, count(*) AS f
  FROM (
    SELECT l[i] AS w1, l[i + 1] AS w2
    FROM (SELECT string_split(text, ' ') AS l FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) g)
  GROUP BY 1, 2),
h12 AS (
  SELECT CAST(coalesce(sum(CAST(floor(
           -(CAST(f AS DOUBLE) / n) * log2(CAST(f AS DOUBLE) / n)
           * 1e6 + 0.5) AS BIGINT)), 0) AS BIGINT) AS h12_mu,
         CAST(max(n) AS BIGINT) AS n_bigrams,
         CAST(count(*) AS BIGINT) AS bi_vocab
  FROM big, (SELECT CAST(sum(f) AS BIGINT) AS n FROM big) t)
SELECT n_tokens, uni_vocab, n_bigrams, bi_vocab,
       round(CAST(h1_mu AS DOUBLE) / 1e6, 6) AS h1_bits,
       round(CAST(h12_mu AS DOUBLE) / 1e6, 6) AS h12_bits,
       round(CAST(h12_mu - h1_mu AS DOUBLE) / 1e6, 6) AS h2_cond_bits,
       round(CASE WHEN h1_mu = 0 THEN 0.0
             ELSE 1.0 - CAST(h12_mu - h1_mu AS DOUBLE) / h1_mu END, 6)
         AS redundancy
FROM h1, h12
"""


def ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model counts with sentence padding (<s>, </s>):
    the count-collection pass an n-gram LM or tokenizer-training job runs.
    One explode + one groupBy — shuffles only distinct bigrams (map-side
    combine); thresholding keeps the long tail out of the result."""
    d = fan_out(load(spark, sf_dir, "documents"))
    w = F.split(F.col("text"), " ")
    lhs = F.concat(F.array(F.lit("<s>")), w)
    rhs = F.concat(w, F.array(F.lit("</s>")))
    pairs = d.select(F.explode(F.arrays_zip(lhs.alias("w1"), rhs.alias("w2"))).alias("bg"))
    return (
        pairs.select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= NGRAM_MIN_FREQ)
    )


_NGRAM_LM_SQL = f"""
WITH t AS (
  SELECT list_prepend('<s>', string_split(text, ' ')) AS l,
         list_append(string_split(text, ' '), '</s>') AS r
  FROM documents
),
bg AS (
  SELECT l[i] AS w1, r[i] AS w2
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) s
)
SELECT w1, w2, count(*) AS freq
FROM bg GROUP BY w1, w2 HAVING count(*) >= {NGRAM_MIN_FREQ}
"""


VOCAB_K = 30


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-K vocabulary by corpus
    frequency, then score each document's out-of-vocabulary token rate.
    The vocab is a top-k aggregate (tiny — broadcast to the coverage join);
    ties at the K boundary break on the token string in both engines."""
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w"))
        .limit(VOCAB_K)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    scored = toks.join(F.broadcast(vocab), "w", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("n_oov").cast("bigint").alias("n_oov"),
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


_VOCAB_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
vocab AS (
  SELECT w, 1 AS in_vocab FROM toks GROUP BY w
  ORDER BY count(*) DESC, w LIMIT {VOCAB_K}
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM toks LEFT JOIN vocab USING (w)
GROUP BY doc_id
"""


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — the measurement a similarity-search rollout
    needs: recall@3 of single-probe and multi-probe LSH against brute-force
    ground truth, per query vector. Composes the three existing plans and
    joins on (q_id, c_id); everything stays deterministic, so even the
    recall numbers are oracle-checked."""
    truth = cosine_topk(spark, sf_dir).filter(F.col("rank") <= 3).select("q_id", "c_id")
    single = lsh_topk(spark, sf_dir).select("q_id", "c_id", F.lit(1).alias("s"))
    multi = lsh_topk_multiprobe(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("m")
    )
    j = truth.join(single, ["q_id", "c_id"], "left").join(
        multi, ["q_id", "c_id"], "left"
    )
    return j.groupBy("q_id").agg(
        F.round(F.sum(F.coalesce(F.col("s"), F.lit(0))) / F.count(F.lit(1)), 6).alias(
            "recall_single"
        ),
        F.round(F.sum(F.coalesce(F.col("m"), F.lit(0))) / F.count(F.lit(1)), 6).alias(
            "recall_multi"
        ),
    )


def _ann_recall_sql() -> str:
    return f"""
WITH truth AS (
  SELECT q_id, c_id FROM ({_COSINE_TOPK_SQL}) t WHERE rank <= 3
),
single AS (SELECT q_id, c_id, 1 AS s FROM ({_LSH_TOPK_SQL}) t),
multi AS (SELECT q_id, c_id, 1 AS m FROM ({_multiprobe_sql()}) t)
SELECT truth.q_id,
       round(sum(coalesce(s, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall_single,
       round(sum(coalesce(m, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall_multi
FROM truth
LEFT JOIN single ON truth.q_id = single.q_id AND truth.c_id = single.c_id
LEFT JOIN multi  ON truth.q_id = multi.q_id  AND truth.c_id = multi.c_id
GROUP BY truth.q_id
"""


# --- graph-based ANN: NSW beam search (round 8) ----------------------------


def ann_nsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN (NSW-style, Malkov et al.): deterministic navigable
    small-world graph built from the multi-probe LSH candidate pairs
    (banded equi-join, degree-capped by exact cosine, symmetrized), then
    fixed-round beam search from an id-stride entry sample. The fourth
    classic ANN architecture next to LSH / IVF / PQ, fully value-oracled
    because every step — graph, entries, beam, ties — is deterministic.
    See operators/similarity.py::nsw_edges / nsw_beam_topk for the scale
    discussion (graph build is the minhash banding shape; search cost is
    query-proportional)."""
    e = fan_out(load(spark, sf_dir, "embeddings"))
    return nsw_beam_topk(e, _queries(spark, sf_dir), EMB_DIM, k=3)


def _nsw_cos_sql(a: str, b: str) -> str:
    """Fast oracle cosine for the NSW chain: DuckDB's native
    ``list_dot_product`` is a plain sequential loop, verified bitwise
    equal to the ``list_reduce`` fold ``cosine_sql`` renders (50 random
    trials at several dims) — and ~100x faster, which matters here
    because the NN-descent rescore evaluates ~N * M_DEG^2 pair cosines
    inside the oracle."""
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )


_NSW_WB_CTE = f"""wb AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         {{bucket}} AS bucket
  FROM embeddings)""".format(
    bucket=lsh_bucket_sql("(embedding::DOUBLE[])", EMB_DIM)
)
_NSW_Q_CTE = """q AS (SELECT vec_id AS q_id, vec AS q_vec FROM wb WHERE vec_id < 10)"""


def _nsw_graph_ctes(pfx: str, wb: str) -> list[str]:
    """CTE chain building ``{pfx}edges (src, dst)`` — the degree-capped,
    symmetrized, NN-descent-refined neighbor graph — over member table
    ``{wb}(vec_id, vec, bucket)``. Prefixable so the HNSW oracle can build
    the base and upper graphs in one statement."""
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(N_PLANES)]
    )
    cos_sc = _nsw_cos_sql("s.s_vec", "c.vec")
    ctes = [
        f"""{pfx}srcp AS MATERIALIZED (
  SELECT vec_id AS src, vec AS s_vec, unnest([{probes}]) AS bucket FROM {wb})""",
        f"""{pfx}fwd AS MATERIALIZED (
  SELECT src, dst, e_sim FROM (
    SELECT src, dst, e_sim,
           row_number() OVER (PARTITION BY src ORDER BY e_sim DESC, dst) AS rn
    FROM (SELECT s.src, c.vec_id AS dst,
                 round({cos_sc}, 6) AS e_sim
          FROM {pfx}srcp s JOIN {wb} c USING (bucket)
          WHERE s.src != c.vec_id) p) t
  WHERE rn <= {NSW_M_OUT})""",
    ]

    def sym_cap(name: str, src_cte: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT src, dst, e_sim FROM (
    SELECT src, dst, e_sim,
           row_number() OVER (PARTITION BY src ORDER BY e_sim DESC, dst) AS rn
    FROM (SELECT DISTINCT src, dst, e_sim FROM (
          SELECT src, dst, e_sim FROM {src_cte}
          UNION ALL
          SELECT dst AS src, src AS dst, e_sim FROM {src_cte}) u) d) t
  WHERE rn <= {NSW_M_DEG})"""

    ctes.append(sym_cap(f"{pfx}e0", f"{pfx}fwd"))
    cos_sd = _nsw_cos_sql("sv.vec", "dv.vec")
    for i in range(1, NSW_NND_ROUNDS + 1):
        ctes.append(
            f"""{pfx}th{i} AS MATERIALIZED (
  SELECT DISTINCT a.src, b.dst
  FROM {pfx}e{i - 1} a JOIN {pfx}e{i - 1} b ON a.dst = b.src
  WHERE a.src != b.dst)"""
        )
        ctes.append(
            f"""{pfx}rs{i} AS MATERIALIZED (
  SELECT t.src, t.dst, round({cos_sd}, 6) AS e_sim
  FROM {pfx}th{i} t
  JOIN {wb} sv ON sv.vec_id = t.src
  JOIN {wb} dv ON dv.vec_id = t.dst)"""
        )
        ctes.append(
            f"""{pfx}u{i} AS MATERIALIZED (
  SELECT src, dst, e_sim FROM {pfx}e{i - 1}
  UNION ALL
  SELECT src, dst, e_sim FROM {pfx}rs{i})"""
        )
        ctes.append(sym_cap(f"{pfx}e{i}", f"{pfx}u{i}"))
    ctes.append(
        f"""{pfx}edges AS (SELECT src, dst FROM {pfx}e{NSW_NND_ROUNDS})"""
    )
    return ctes


def _entry_beam_cte(name: str, stride: int) -> str:
    """Exact-scored seed beam over the id-stride entry sample (from wb/q),
    unioned with the global min id — the Spark side's non-empty-entry
    guarantee for stride-free id ranges (no-op on lakes containing id 0)."""
    cos_qe = _nsw_cos_sql("q.q_vec", "e.vec")
    return f"""{name} AS MATERIALIZED (
  SELECT q_id, c_id, cos_sim FROM (
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, c_id) AS rn
    FROM (SELECT q.q_id, e.vec_id AS c_id,
                 round({cos_qe}, 6) AS cos_sim
          FROM q CROSS JOIN wb e
          WHERE (e.vec_id % {stride} = 0
                 OR e.vec_id = (SELECT min(vec_id) FROM wb))
            AND e.vec_id != q.q_id) p) t
  WHERE rn <= {NSW_BEAM})"""


def _beam_round_ctes(
    pfx: str, seed: str, edges: str, rounds: int
) -> tuple[list[str], str]:
    """``rounds`` expand/rescore/re-cap CTE pairs starting from beam CTE
    ``seed`` over ``edges``; returns (ctes, final beam CTE name)."""
    cos_qc = _nsw_cos_sql("q.q_vec", "c.vec")
    ctes: list[str] = []
    prev = seed
    for r in range(1, rounds + 1):
        ctes.append(
            f"""{pfx}cand{r} AS MATERIALIZED (
  SELECT q_id, c_id, cos_sim FROM {prev}
  UNION
  SELECT b.q_id, e.dst AS c_id, round({cos_qc}, 6) AS cos_sim
  FROM {prev} b
  JOIN {edges} e ON b.c_id = e.src
  JOIN wb c ON c.vec_id = e.dst
  JOIN q ON q.q_id = b.q_id
  WHERE e.dst != b.q_id)""",
        )
        ctes.append(
            f"""{pfx}beam{r} AS MATERIALIZED (
  SELECT q_id, c_id, cos_sim FROM (
    SELECT q_id, c_id, cos_sim,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos_sim DESC, c_id) AS rn
    FROM {pfx}cand{r}) t
  WHERE rn <= {NSW_BEAM})""",
        )
        prev = f"{pfx}beam{r}"
    return ctes, prev


def _topk_tail_sql(beam: str, k: int) -> str:
    return f"""
SELECT q_id, c_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT q_id, c_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, c_id) AS rank
  FROM {beam}) t
WHERE rank <= {k}
"""


def _nsw_topk_sql() -> str:
    ctes = [_NSW_WB_CTE]
    ctes += _nsw_graph_ctes("", "wb")
    ctes.append(_NSW_Q_CTE)
    ctes.append(_entry_beam_cte("beam0", NSW_ENTRY_STRIDE))
    rounds, final = _beam_round_ctes("", "beam0", "edges", NSW_ROUNDS)
    ctes += rounds
    return "WITH " + ",\n".join(ctes) + _topk_tail_sql(final, 3)


GCP_ROUNDS = 5
GCP_W_SCALE = 1_000_000  # cosine -> integer micro-weight (e_sim is 6-dp)


def graph_centrality_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the NSW document-similarity graph as a
    CURATION PRIOR — which sources contribute the most representative
    (central) material: the ANN family's banded neighbor graph
    (operators/similarity.py::nsw_edges) re-read as a similarity network,
    its 6-dp cosines quantized to integer micro-weights, symmetric-closed
    (so no sinks), then 5 rounds of the integer micro-unit PageRank and a
    per-source rollup (node count, total centrality mass, top doc by
    struct-extreme — no per-source window). Central docs are cluster
    prototypes; sources whose mass is LOW relative to their node count
    contribute peripheral/outlier material — the graph-flavored sibling
    of semdedup's centroid distance (prototype selection via random-walk
    centrality, cf. LexRank, Erkan & Radev 2004).

    Cross-family composite by construction: the graph build is the
    banded-join shape (never all-pairs), the iteration is the order-free
    BIGINT fixed point, and BOTH already carry their own oracles — this
    query's oracle just composes the two CTE chains (prefixable builders
    _nsw_graph_ctes + relational.pagerank_chain_ctes) in one statement.

    Scale: graph build linear in corpus (degree-capped); per PageRank
    round one |V|-vs-|E| shuffle join (|E| <= N*M_DEG); the rollup is one
    map-side-combining groupBy(source)."""
    from ..operators.checkpoints import tracked_local_checkpoint
    from ..operators.graph import pagerank_integer
    from ..operators.similarity import nsw_edges

    emb = fan_out(load(spark, sf_dir, "embeddings"))
    edges = nsw_edges(emb, EMB_DIM)
    w = F.round(F.col("e_sim") * GCP_W_SCALE).cast("bigint")
    pe = edges.filter(F.col("e_sim") > 0).select("src", "dst", w.alias("w"))
    # symmetrize with ONE explode pass over pe instead of a two-leg union
    # (same edge multiset; the NSW-build subtree appears once in the plan,
    # not once per leg — the sym_pair_edges idiom), then materialize the
    # ≤ N·M_DEG·2-row edge list ONCE: pagerank consumes its edge frame
    # twice (deg aggregate + join) and the whole NSW build (banded
    # multi-probe join + NN-descent round) sits above it — without the
    # barrier that build re-executes per consumer (guide §5).
    both = F.explode(
        F.array(
            F.struct(F.col("src"), F.col("dst"), F.col("w")),
            F.struct(
                F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
            ),
        )
    ).alias("e")
    sym = pe.select(both).select("e.src", "e.dst", "e.w").distinct()
    sym, _ = tracked_local_checkpoint(sym)
    # check_sinks=False: sym is the explicit closure of both directions
    rank = pagerank_integer(sym, GCP_ROUNDS, check_sinks=False)
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node"), "source"
    )
    return (
        rank.join(docs, "node")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum("rank").cast("bigint").alias("mass_micro"),
            F.max(
                F.struct(F.col("rank"), (-F.col("node")).alias("neg"))
            ).alias("m"),
        )
        .select(
            "source",
            "n_nodes",
            "mass_micro",
            (-F.col("m.neg")).alias("top_doc"),
            F.col("m.rank").alias("top_rank_micro"),
        )
    )


def _graph_centrality_sql() -> str:
    from .relational import pagerank_chain_ctes

    ctes = [_NSW_WB_CTE]
    ctes += _nsw_graph_ctes("", "wb")
    last = f"e{NSW_NND_ROUNDS}"
    ctes.append(
        f"""pg0 AS MATERIALIZED (
  SELECT DISTINCT src, dst, w FROM (
    SELECT src, dst, CAST(round(e_sim * {GCP_W_SCALE}) AS BIGINT) AS w
    FROM {last} WHERE e_sim > 0
    UNION ALL
    SELECT dst, src, CAST(round(e_sim * {GCP_W_SCALE}) AS BIGINT)
    FROM {last} WHERE e_sim > 0) u)"""
    )
    chain, final = pagerank_chain_ctes("pg", "pg0", GCP_ROUNDS)
    ctes += chain
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(sum(r.rank) AS BIGINT) AS mass_micro,
       -(max({{'r': r.rank, 'n': -r.node}}).n) AS top_doc,
       max({{'r': r.rank, 'n': -r.node}}).r AS top_rank_micro
FROM {final} r JOIN documents d ON r.node = d.doc_id
GROUP BY d.source"""
    )


def nsw_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the NSW beam search vs brute-force truth, next to the
    LSH multi-probe baseline on the same queries — the acceptance gate for
    the graph index (NSW should match or beat multi-probe: the beam
    rescores exact cosine over a navigable graph instead of a fixed probe
    set). Deterministic end to end, so the recall numbers themselves are
    oracle-checked."""
    truth = cosine_topk(spark, sf_dir).filter(F.col("rank") <= 3).select(
        "q_id", "c_id"
    )
    nsw = ann_nsw_topk(spark, sf_dir).select("q_id", "c_id", F.lit(1).alias("g"))
    multi = lsh_topk_multiprobe(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("m")
    )
    j = truth.join(nsw, ["q_id", "c_id"], "left").join(
        multi, ["q_id", "c_id"], "left"
    )
    return j.groupBy("q_id").agg(
        F.round(
            F.sum(F.coalesce(F.col("g"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("recall_nsw"),
        F.round(
            F.sum(F.coalesce(F.col("m"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("recall_multi"),
    )


def _nsw_recall_sql() -> str:
    return f"""
WITH truth AS (
  SELECT q_id, c_id FROM ({_COSINE_TOPK_SQL}) t WHERE rank <= 3
),
nswt AS (SELECT q_id, c_id, 1 AS g FROM ({_nsw_topk_sql()}) t),
multi AS (SELECT q_id, c_id, 1 AS m FROM ({_multiprobe_sql()}) t)
SELECT truth.q_id,
       round(sum(coalesce(g, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall_nsw,
       round(sum(coalesce(m, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall_multi
FROM truth
LEFT JOIN nswt ON truth.q_id = nswt.q_id AND truth.c_id = nswt.c_id
LEFT JOIN multi ON truth.q_id = multi.q_id AND truth.c_id = multi.c_id
GROUP BY truth.q_id
"""


# --- hierarchical NSW (HNSW) -------------------------------------------------


def ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical NSW (Malkov & Yashunin's HNSW, deterministic id-stride
    level assignment): upper-layer NSW graph over the ``vec_id % 4 == 0``
    subsample navigated first (3 beam rounds from a sparse entry sample),
    final upper beam seeds the base-layer search which then needs only
    ``HNSW_L0_ROUNDS=3`` rounds instead of flat NSW's 5 — the hierarchy
    converts early flat-graph wandering into cheap coarse hops. Fully
    value-oracled: levels, graphs, beams, and ties are all deterministic.
    See operators/similarity.py::hnsw_beam_topk for the scale posture."""
    e = fan_out(load(spark, sf_dir, "embeddings"))
    return hnsw_beam_topk(e, _queries(spark, sf_dir), EMB_DIM, k=3)


def _hnsw_topk_sql() -> str:
    ctes = [
        _NSW_WB_CTE,
        f"""uwb AS MATERIALIZED (
  SELECT vec_id, vec, bucket FROM wb WHERE vec_id % {HNSW_L1_STRIDE} = 0)""",
    ]
    ctes += _nsw_graph_ctes("b", "wb")
    ctes += _nsw_graph_ctes("u", "uwb")
    ctes.append(_NSW_Q_CTE)
    ctes.append(
        _entry_beam_cte("ubeam0", HNSW_L1_STRIDE * NSW_ENTRY_STRIDE)
    )
    upper, ufinal = _beam_round_ctes("u", "ubeam0", "uedges", HNSW_L1_ROUNDS)
    ctes += upper
    base, bfinal = _beam_round_ctes("g", ufinal, "bedges", HNSW_L0_ROUNDS)
    ctes += base
    return "WITH " + ",\n".join(ctes) + _topk_tail_sql(bfinal, 3)


def hnsw_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the hierarchical search vs brute-force truth, next to
    flat NSW on the same queries. The honest toy-scale picture (both
    numbers are in the output, oracle-checked): HNSW lands in the same
    recall band as flat NSW (measured 0.90 vs 0.97 at sf0.001, 0.80 vs
    0.73 at sf0.01) while spending 3 base rounds instead of 5 and a 4x
    sparser exact-scored entry scan — flat NSW's stride-16 seed scan
    exact-scores ~6% of a 500-vector corpus, an advantage that vanishes
    at scale where the corpus-proportional seed scan is exactly what the
    hierarchy exists to remove. The hard acceptance gate (pytest) is
    recall >= the LSH multiprobe baseline and >= flat-NSW - 0.1."""
    from ..operators.checkpoints import tracked_local_checkpoint
    from ..operators.similarity import nsw_edges

    truth = cosine_topk(spark, sf_dir).filter(F.col("rank") <= 3).select(
        "q_id", "c_id"
    )
    e = load(spark, sf_dir, "embeddings")
    qs = _queries(spark, sf_dir)
    # the full-corpus graph is the dominant subplan and BOTH searches need
    # it — build and materialize it once (review finding: calling the two
    # registered queries here built identical edge lists twice)
    edges, _ = tracked_local_checkpoint(nsw_edges(e, EMB_DIM))
    h = hnsw_beam_topk(e, qs, EMB_DIM, 3, base_edges=edges).select(
        "q_id", "c_id", F.lit(1).alias("h")
    )
    nsw = nsw_beam_topk(e, qs, EMB_DIM, 3, edges=edges).select(
        "q_id", "c_id", F.lit(1).alias("g")
    )
    j = truth.join(h, ["q_id", "c_id"], "left").join(
        nsw, ["q_id", "c_id"], "left"
    )
    return j.groupBy("q_id").agg(
        F.round(
            F.sum(F.coalesce(F.col("h"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("recall_hnsw"),
        F.round(
            F.sum(F.coalesce(F.col("g"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("recall_nsw"),
    )


def _hnsw_recall_sql() -> str:
    return f"""
WITH truth AS (
  SELECT q_id, c_id FROM ({_COSINE_TOPK_SQL}) t WHERE rank <= 3
),
hnswt AS (SELECT q_id, c_id, 1 AS h FROM ({_hnsw_topk_sql()}) t),
nswt AS (SELECT q_id, c_id, 1 AS g FROM ({_nsw_topk_sql()}) t)
SELECT truth.q_id,
       round(sum(coalesce(h, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall_hnsw,
       round(sum(coalesce(g, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall_nsw
FROM truth
LEFT JOIN hnswt ON truth.q_id = hnswt.q_id AND truth.c_id = hnswt.c_id
LEFT JOIN nswt ON truth.q_id = nswt.q_id AND truth.c_id = nswt.c_id
GROUP BY truth.q_id
"""


# --- repetition filter (Gopher-style intra-doc repetition rules) -----------

REP_TOP_BIGRAM_MAX = 0.18
REP_DUP_TRIGRAM_MAX = 0.30


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals: the fraction of word
    bigrams taken by the single most frequent bigram, and the fraction of
    word-trigram occurrences that are duplicates. Docs exceeding either
    threshold are flagged `repetitive` (the rule a web-scale curation
    pipeline applies before training).

    Two independent explode->count->re-aggregate pipelines joined on
    doc_id; each is one shuffle on (doc_id, gram) then one on doc_id, and
    per-doc state is three longs — nothing grows with corpus size, so the
    shape holds at 100 TB.
    """
    d = fan_out(load(spark, sf_dir, "documents"))

    def _gram_stats(k: int, pre: str) -> DataFrame:
        rows = exploded_shingles(d.select("doc_id", "text"), k=k, out="g")
        per = rows.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
        return per.groupBy("doc_id").agg(
            F.sum("c").alias(f"{pre}_total"),
            F.max("c").alias(f"{pre}_top"),
            F.count(F.lit(1)).alias(f"{pre}_distinct"),
        )

    bg = _gram_stats(2, "bg")
    tg = _gram_stats(3, "tg")
    top_frac = F.round(
        F.col("bg_top").cast("double") / F.col("bg_total").cast("double"), 6
    )
    dup_frac = F.round(
        (F.col("tg_total") - F.col("tg_distinct")).cast("double")
        / F.col("tg_total").cast("double"),
        6,
    )
    return (
        bg.join(tg, "doc_id")
        .select(
            "doc_id",
            top_frac.alias("top_bigram_frac"),
            dup_frac.alias("dup_trigram_frac"),
        )
        .withColumn(
            "repetitive",
            (F.col("top_bigram_frac") > REP_TOP_BIGRAM_MAX)
            | (F.col("dup_trigram_frac") > REP_DUP_TRIGRAM_MAX),
        )
    )


_REPETITION_SQL = f"""
WITH bg_rows AS (
  SELECT doc_id, unnest({shingles_sql('text', 2)}) AS g FROM documents
),
tg_rows AS (
  SELECT doc_id, unnest({shingles_sql('text', 3)}) AS g FROM documents
),
bg_per AS (SELECT doc_id, g, count(*) AS c FROM bg_rows GROUP BY doc_id, g),
tg_per AS (SELECT doc_id, g, count(*) AS c FROM tg_rows GROUP BY doc_id, g),
bg AS (
  SELECT doc_id, sum(c) AS bg_total, max(c) AS bg_top, count(*) AS bg_distinct
  FROM bg_per GROUP BY doc_id
),
tg AS (
  SELECT doc_id, sum(c) AS tg_total, max(c) AS tg_top, count(*) AS tg_distinct
  FROM tg_per GROUP BY doc_id
)
SELECT bg.doc_id,
       round(CAST(bg_top AS DOUBLE) / CAST(bg_total AS DOUBLE), 6) AS top_bigram_frac,
       round(CAST(tg_total - tg_distinct AS DOUBLE) / CAST(tg_total AS DOUBLE), 6) AS dup_trigram_frac,
       (round(CAST(bg_top AS DOUBLE) / CAST(bg_total AS DOUBLE), 6) > CAST({REP_TOP_BIGRAM_MAX} AS DOUBLE)
        OR round(CAST(tg_total - tg_distinct AS DOUBLE) / CAST(tg_total AS DOUBLE), 6) > CAST({REP_DUP_TRIGRAM_MAX} AS DOUBLE)) AS repetitive
FROM bg JOIN tg ON bg.doc_id = tg.doc_id
"""


LM_ALPHA = 0.5  # add-alpha smoothing for the bigram LM

def _lm_per_doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram counts, persisted: the corpus tokenize/explode runs
    ONCE — the model tables (c12/c1/V) and the scoring join all re-read it."""

    def build() -> DataFrame:
        d = fan_out(load(spark, sf_dir, "documents"))
        w = F.split(F.col("text"), " ")
        lhs = F.concat(F.array(F.lit("<s>")), w)
        rhs = F.concat(w, F.array(F.lit("</s>")))
        bg = d.select(
            "doc_id",
            F.explode(F.arrays_zip(lhs.alias("w1"), rhs.alias("w2"))).alias("b"),
        ).select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        return bg.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("n"))

    return _persisted(spark, sf_dir, "lm_per", build)


def lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: score every document's bits-per-token
    under an add-alpha-smoothed bigram model trained on the corpus itself
    (P(w2|w1) = (c12 + a) / (c1 + a*V)); low bits = fluent, high = junk.

    Scale shape: one tokenize/explode pass builds the per-(doc, bigram)
    count table (persisted — the 100 TB pipeline would write it to the
    lake between the train and score passes); the model is two aggregates
    of it bounded by vocab size. Scoring equi-joins per-doc counts to
    bigram counts on (w1, w2) — map-side combine means both sides shuffle
    distinct bigrams, never raw occurrences; context counts and the
    vocab-size scalar broadcast. The per-doc mean weights each distinct
    bigram by its count and rounds to 6 dp so the result is insensitive to
    float summation order (same discipline as the noise power sums).
    """
    per = _lm_per_doc_bigrams(spark, sf_dir)
    c12 = per.groupBy("w1", "w2").agg(F.sum("n").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_n = c12.select(F.countDistinct("w2").alias("v"))
    a = F.lit(LM_ALPHA)
    scored = (
        per.join(c12, ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .crossJoin(F.broadcast(vocab_n))
        .withColumn(
            "bits",
            -F.log2((F.col("c12") + a) / (F.col("c1") + a * F.col("v"))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum(F.col("n") * F.col("bits")) / F.sum("n"), 6
        ).alias("bits_per_token"),
    )


_LM_PPL_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_prepend('<s>', string_split(text, ' ')) AS l,
         list_append(string_split(text, ' '), '</s>') AS r
  FROM documents
),
bg AS (
  SELECT doc_id, l[i] AS w1, r[i] AS w2
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) s
),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY w1),
v AS (SELECT count(DISTINCT w2) AS v FROM c12)
SELECT bg.doc_id,
       count(*) AS n_bigrams,
       round(avg(-log2((c12.c12 + CAST({LM_ALPHA} AS DOUBLE))
                       / (c1.c1 + CAST({LM_ALPHA} AS DOUBLE) * v.v))), 6)
         AS bits_per_token
FROM bg
JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
JOIN c1 ON bg.w1 = c1.w1
CROSS JOIN v
GROUP BY bg.doc_id
"""


def chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document exact chunk dedup: tile every doc into
    CHUNK_WORDS-word chunks, keep each distinct chunk text only at its
    FIRST corpus occurrence (min (doc_id, chunk_id)), and reassemble each
    document from its surviving chunks in order.

    Scale shape: one window over the chunk-text key (shuffles chunk rows
    once, ~corpus-sized but narrow), then a per-doc ordered re-assembly via
    sort_array(collect_list(struct)) — grouped per doc, never a global
    sort. At 100 TB the chunk key would be a hash (md5 here keeps the
    exchange narrow; the text itself never needs to co-locate)."""
    chunks = doc_chunking(spark, sf_dir)
    w = W.partitionBy(F.md5(F.col("chunk"))).orderBy("doc_id", "chunk_id")
    kept = (
        chunks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("chunk_id", "chunk"))
                    ),
                    lambda s: s.chunk,
                ),
            ).alias("text_kept"),
        )
    )


_CHUNK_DEDUP_SQL = f"""
WITH chunks AS ({_CHUNKING_SQL}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY md5(chunk)
                               ORDER BY doc_id, chunk_id) AS rn
  FROM chunks
)
SELECT doc_id,
       count(*) AS n_kept,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept,
       string_agg(chunk, ' ' ORDER BY chunk_id) AS text_kept
FROM ranked
WHERE rn = 1
GROUP BY doc_id
"""


def importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling: each doc gets a CONTINUOUS keep
    probability from a quality proxy (length saturating at 2000 chars,
    boosted for the high-resource language), and survives iff the
    deterministic per-doc hash uniform falls under it. Generalizes
    ``dataset_mixing``'s per-source constant rate to per-example weights —
    the standard way to tilt a pretraining mixture toward a target
    distribution. Membership is a pure function of doc_id: stable under
    re-runs, task retries, and appends. Pure column expressions — no
    shuffle before the tiny per-lang audit agg."""
    d = load(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars") / F.lit(2000.0), F.lit(1.0)) * F.when(
        F.col("lang") == "en", F.lit(1.0)
    ).otherwise(F.lit(0.6))
    u = _hex4_to_int(F.md5(F.col("doc_id").cast("string"))) / F.lit(65536.0)
    return (
        d.select("lang", weight.alias("w"), (u < weight).cast("int").alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            # w has <= 5 exact decimal places (n_chars/2000 * 0.6): sum as
            # decimal so partial-agg order can't shift the last ulp vs DuckDB
            F.round(
                F.sum(F.col("w").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_weight"),
            F.round(F.sum("kept") / F.count(F.lit(1)), 6).alias("realized_rate"),
        )
    )


_RESAMPLE_SQL = f"""
WITH t AS (
  SELECT lang,
         least(n_chars / CAST(2000.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
           * (CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.6 AS DOUBLE) END) AS w,
         CASE WHEN {_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} / CAST(65536.0 AS DOUBLE)
                   < least(n_chars / CAST(2000.0 AS DOUBLE), CAST(1.0 AS DOUBLE))
                     * (CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.6 AS DOUBLE) END)
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT lang, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept,
       round(CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_weight,
       round(sum(kept) / CAST(count(*) AS DOUBLE), 6) AS realized_rate
FROM t GROUP BY 1
"""


def grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-AGGREGATE pandas UDF (Arrow series -> scalar), completing the
    UDF surface next to the scalar pandas UDF, grouped-map applyInPandas,
    Python UDTF, and the stateful streaming processors. The kernel is a
    selection statistic (max - min of integer chars), so it is bitwise
    deterministic under any partitioning — the same discipline as the other
    pandas kernels. (Spark disallows mixing group-agg pandas UDFs with
    native aggregates in one agg, so the row count is a second kernel.)"""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _char_range(v):
        return int(v.max() - v.min())

    def _n_docs(v):
        return len(v)

    # module-level `from __future__ import annotations` stringifies hints,
    # which pandas_udf cannot resolve; set live annotation objects instead
    # (Series -> scalar == grouped-aggregate UDF)
    _char_range.__annotations__ = {"v": pd.Series, "return": int}
    _n_docs.__annotations__ = {"v": pd.Series, "return": int}
    char_range = pandas_udf(_char_range, "bigint")
    n_docs = pandas_udf(_n_docs, "bigint")

    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        char_range(F.col("n_chars")).alias("char_range"),
        n_docs(F.col("doc_id")).alias("n_docs"),
    )


_GROUPED_AGG_UDF_SQL = """
SELECT lang, CAST(max(n_chars) - min(n_chars) AS BIGINT) AS char_range,
       count(*) AS n_docs
FROM documents GROUP BY 1
"""


def minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation (sibling of ``llm_ann_recall_eval``):
    for every verified near-dup pair, the MinHash-ESTIMATED Jaccard
    (fraction of the k=8 signature lanes that agree — the only statistic a
    100 TB pipeline can afford on all pairs) next to the EXACT shingle
    Jaccard, with the signed error. The estimator itself is deterministic
    (sha256-lane minhash), so even the error column is oracle-checkable —
    accuracy claims become data, not folklore."""
    pairs = minhash_near_dup_pairs(spark, sf_dir)
    doc_tbl = _minhash_doc_tbl(spark, sf_dir)
    ha = doc_tbl.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(MINHASH_K)],
    )
    hb = doc_tbl.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    return (
        pairs.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (agree.cast("double") / F.lit(float(MINHASH_K))).alias("est_jaccard"),
            F.round(
                agree.cast("double") / F.lit(float(MINHASH_K)) - F.col("jaccard"), 6
            ).alias("err"),
        )
    )


_JACCARD_EST_SQL = f"""
WITH pairs AS ({_MINHASH_PAIRS_SQL}),
sig AS ({_MINHASH_SIG_SQL})
SELECT p.doc_a, p.doc_b, p.jaccard,
       ({" + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K))})
         / CAST({float(MINHASH_K)} AS DOUBLE) AS est_jaccard,
       round(({" + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(MINHASH_K))})
             / CAST({float(MINHASH_K)} AS DOUBLE) - p.jaccard, 6) AS err
FROM pairs p
JOIN sig a ON a.doc_id = p.doc_a
JOIN sig b ON b.doc_id = p.doc_b
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline a pretraining-data team ships, as
    ONE composed lazy plan: quality/length/language gate -> near-dup
    cluster kill list (minhash -> bands -> verify -> connected components)
    -> deterministic train/val/test split -> per-(split, lang) doc and
    token accounting. Every stage is an already-oracle-checked operator;
    this query checks their COMPOSITION end to end. At scale: the gate is
    scan+filter, the kill list an anti-join on doc_id, the split a pure
    column expression, the audit a small agg — the near-dup subgraph is
    the only wide stage."""
    gated = quality_gate(spark, sf_dir)
    cc = dedup_clusters(spark, sf_dir)
    kills = cc.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    survivors = gated.join(kills, "doc_id", "left_anti")
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    bucket = _hex4_to_int(F.md5(F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )
    return (
        survivors.join(d, "doc_id")
        .select("lang", split.alias("split"), word_count(F.col("text")).alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


_CURATION_SQL = f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_SQL}),
und AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
),
cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id FROM reach GROUP BY a),
kills AS (SELECT doc_id FROM cc WHERE doc_id != cluster_id),
gated AS ({_QUALITY_GATE_SQL}),
survivors AS (
  SELECT g.doc_id, g.lang FROM gated g ANTI JOIN kills k ON g.doc_id = k.doc_id
),
labeled AS (
  SELECT s.lang,
         CASE WHEN {_hex4_to_int_sql("md5(CAST(s.doc_id AS VARCHAR))")} % 100 < {SPLIT_TRAIN} THEN 'train'
              WHEN {_hex4_to_int_sql("md5(CAST(s.doc_id AS VARCHAR))")} % 100 < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         len(string_split(d.text, ' ')) AS n_tokens
  FROM survivors s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT split, lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM labeled GROUP BY 1, 2
"""


def winsorize_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip per-language document lengths to the [p05, p95]
    band — the outlier-taming step before length features feed a quality
    model (extreme lengths are usually boilerplate or garbage, and raw
    clipping beats dropping). Exact interpolated percentiles per group
    (rounded 4 dp for cross-engine interpolation parity); the tiny per-lang
    bounds table broadcasts back onto the scan."""
    d = load(spark, sf_dir, "documents")
    bounds = d.groupBy(F.col("lang").alias("b_lang")).agg(
        F.round(F.percentile("n_chars", 0.05), 4).alias("p05"),
        F.round(F.percentile("n_chars", 0.95), 4).alias("p95"),
    )
    return (
        d.join(F.broadcast(bounds), d.lang == F.col("b_lang"))
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.least(
                F.greatest(F.col("n_chars").cast("double"), F.col("p05")),
                F.col("p95"),
            ).alias("n_chars_winsorized"),
            (
                (F.col("n_chars") < F.col("p05")) | (F.col("n_chars") > F.col("p95"))
            ).alias("clipped"),
        )
    )


_WINSORIZE_SQL = """
WITH bounds AS (
  SELECT lang AS b_lang,
         round(quantile_cont(n_chars, 0.05), 4) AS p05,
         round(quantile_cont(n_chars, 0.95), 4) AS p95
  FROM documents GROUP BY 1
)
SELECT doc_id, lang, n_chars,
       least(greatest(CAST(n_chars AS DOUBLE), p05), p95) AS n_chars_winsorized,
       (n_chars < p05 OR n_chars > p95) AS clipped
FROM documents JOIN bounds ON lang = b_lang
"""


def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card a corpus release ships: doc/token/char
    volumes, language count, exact-duplicate rate, and mean quality — the
    audit numbers every training-data handoff needs. One pass over the
    corpus (count_distinct on the md5 rides the same aggregate); all
    ratios are one double division at the end."""
    d = load(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    agg = d.select(
        "lang",
        F.md5("text").alias("h"),
        word_count(F.col("text")).alias("n_tokens"),
        F.col("n_chars"),
        q.alias("quality"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("h").alias("n_unique"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.round(
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_quality"),
    )
    return agg.select(
        "n_docs",
        "n_langs",
        "n_unique",
        F.round(
            F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_rate"),
        "n_tokens",
        "n_chars",
        "mean_quality",
    )


_DATASET_CARD_SQL = f"""
WITH t AS (
  SELECT lang, md5(text) AS h,
         len(string_split(text, ' ')) AS n_tokens,
         n_chars,
         {quality_score_sql('text')} AS quality
  FROM documents
)
SELECT count(*) AS n_docs,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT h) AS n_unique,
       round(CAST(1.0 AS DOUBLE) - CAST(count(DISTINCT h) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS mean_quality
FROM t
"""


SUBSTR_BENCH_MAX_ID = 20
SUBSTR_PROBE_LEN = 80


def substring_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (the strict sibling of the shingle
    -overlap check): for each benchmark doc, how many training docs contain
    its leading SUBSTR_PROBE_LEN-char probe verbatim. Benchmark probes are
    fixed-size by contract -> broadcast; the corpus scans once and the
    contains() runs inside codegen. At 100 TB this is the affordable exact
    check (suffix-automaton indexes are the exhaustive one)."""
    d = load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < SUBSTR_BENCH_MAX_ID).select(
        F.col("doc_id").alias("bench_id"),
        F.substring("text", 1, SUBSTR_PROBE_LEN).alias("probe"),
    )
    corpus = d.filter(F.col("doc_id") >= SUBSTR_BENCH_MAX_ID)
    hits = (
        corpus.crossJoin(F.broadcast(bench))
        .filter(F.expr("contains(text, probe)"))
        .groupBy("bench_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return bench.join(hits, "bench_id", "left").select(
        "bench_id",
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_containing_docs"),
    )


_SUBSTR_CONTAM_SQL = f"""
WITH bench AS (
  SELECT doc_id AS bench_id, substr(text, 1, {SUBSTR_PROBE_LEN}) AS probe
  FROM documents WHERE doc_id < {SUBSTR_BENCH_MAX_ID}
),
hits AS (
  SELECT bench_id, count(*) AS n_hits
  FROM documents d CROSS JOIN bench b
  WHERE d.doc_id >= {SUBSTR_BENCH_MAX_ID} AND contains(d.text, b.probe)
  GROUP BY bench_id
)
SELECT bench_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_containing_docs
FROM bench LEFT JOIN hits USING (bench_id)
"""


def lsh_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH parameter engineering as a query: for every verified near-dup
    pair, the S-curve detection probability under the deployed banding
    (b bands of r rows: p = 1 - (1 - j^r)^b) from BOTH the exact and the
    signature-estimated Jaccard. The tuning evidence (are the bands
    catching what the threshold intends?) comes out of the engine itself
    instead of offline notebooks. Pure projection over the pairs."""
    b, r = MINHASH_BANDS, MINHASH_K // MINHASH_BANDS
    est = minhash_jaccard_est(spark, sf_dir)
    p_of = lambda j: F.round(
        F.lit(1.0) - F.pow(F.lit(1.0) - F.pow(j, F.lit(float(r))), F.lit(float(b))), 6
    )
    return est.select(
        "doc_a",
        "doc_b",
        "jaccard",
        "est_jaccard",
        p_of(F.col("jaccard")).alias("p_detect_exact"),
        p_of(F.col("est_jaccard")).alias("p_detect_est"),
    )


def _lsh_sensitivity_sql() -> str:
    b, r = MINHASH_BANDS, MINHASH_K // MINHASH_BANDS

    def p_of(j: str) -> str:
        return (
            f"round(CAST(1.0 AS DOUBLE) - pow(CAST(1.0 AS DOUBLE)"
            f" - pow({j}, CAST({float(r)} AS DOUBLE)), CAST({float(b)} AS DOUBLE)), 6)"
        )

    return f"""
WITH est AS ({_JACCARD_EST_SQL})
SELECT doc_a, doc_b, jaccard, est_jaccard,
       {p_of('jaccard')} AS p_detect_exact,
       {p_of('est_jaccard')} AS p_detect_est
FROM est
"""


# --- incremental corpus maintenance (round 3) ------------------------------

INCR_BATCH_MOD = 5  # doc_id % 5 == 0 plays the "incoming batch"; rest = corpus


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of an incoming batch against an existing corpus:
    each batch doc is 'dup_corpus' (fingerprint already in the corpus),
    'dup_batch' (first seen earlier IN this batch), or 'new'.

    The production shape for rolling crawl ingestion: the corpus side is
    reduced to DISTINCT 32-hex fingerprints before the join, so at 100 TB
    the equi-join shuffles only digests (or broadcasts them when the
    fingerprint dictionary fits — AQE decides), never document text. The
    within-batch tie-break is a window over the batch only.
    """
    d = load(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % INCR_BATCH_MOD == 0).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    corpus = (
        d.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    first_id = F.min("doc_id").over(W.partitionBy("fp"))
    return (
        batch.join(corpus, "fp", "left")
        .withColumn("first_id", first_id)
        .select(
            "doc_id",
            "fp",
            F.when(F.col("in_corpus") == 1, F.lit("dup_corpus"))
            .when(F.col("first_id") < F.col("doc_id"), F.lit("dup_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


# the batch/corpus split CTEs shared by the incremental-dedup and
# bloom-prefilter oracles
_INCR_SPLIT_SQL = f"""batch AS (
  SELECT doc_id, {fingerprint_sql('text')} AS fp
  FROM documents WHERE doc_id % {INCR_BATCH_MOD} = 0),
corpus AS (
  SELECT DISTINCT {fingerprint_sql('text')} AS fp
  FROM documents WHERE doc_id % {INCR_BATCH_MOD} <> 0)"""

_INCR_DEDUP_SQL = f"""
WITH {_INCR_SPLIT_SQL},
flagged AS (
  SELECT b.doc_id, b.fp, (c.fp IS NOT NULL) AS in_corpus,
         min(b.doc_id) OVER (PARTITION BY b.fp) AS first_id
  FROM batch b LEFT JOIN corpus c USING (fp))
SELECT doc_id, fp,
       CASE WHEN in_corpus THEN 'dup_corpus'
            WHEN first_id < doc_id THEN 'dup_batch'
            ELSE 'new' END AS status
FROM flagged
"""


BLOOM_M = 8192  # bit positions
BLOOM_K = 3  # hash functions


def _bloom_pos(fp: Column, i: int) -> Column:
    return _hex4_to_int(F.md5(F.concat(fp, F.lit(f"#{i}")))) % BLOOM_M


def _bloom_pos_sql(fp: str, i: int) -> str:
    salted = "md5(" + fp + " || '#" + str(i) + "')"
    return f"({_hex4_to_int_sql(salted)} % {BLOOM_M})"


def bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-join pruning, expressed as a position-set semi-join:
    the corpus's k=3 md5-derived bit positions (<= m=8192 distinct ints) are
    the filter; an incoming doc "might be a member" iff ALL its k positions
    are present. Exact membership is computed alongside so the output
    accounts every false positive (false negatives are impossible — the
    pytest pins that).

    At 100 TB this is how join pruning is done before an expensive
    fingerprint shuffle: the position relation is bounded by m regardless of
    corpus size, broadcasts for free, and drops the (usually dominant)
    non-duplicate traffic from the wide join. The same structure holds if m
    grows: positions stay a broadcastable dictionary, never corpus-sized.
    """
    d = load(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % INCR_BATCH_MOD == 0).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    corpus = (
        d.filter(F.col("doc_id") % INCR_BATCH_MOD != 0)
        .select(fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    positions = None
    for i in range(BLOOM_K):
        p = corpus.select(_bloom_pos(F.col("fp"), i).alias("pos"))
        positions = p if positions is None else positions.unionAll(p)
    positions = positions.distinct().withColumn("hit", F.lit(1))
    probes = batch.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(*[_bloom_pos(F.col("fp"), i) for i in range(BLOOM_K)])
        ).alias("pos"),
    )
    # min(hit) == 1 <=> every probed position is set (duplicate positions
    # from hash collisions inside one doc collapse harmlessly)
    agg = (
        probes.join(F.broadcast(positions), "pos", "left")
        .groupBy("doc_id", "fp")
        .agg(F.min(F.coalesce(F.col("hit"), F.lit(0))).alias("all_hit"))
    )
    return (
        agg.join(corpus.withColumn("in_corpus", F.lit(1)), "fp", "left")
        .select(
            "doc_id",
            F.col("all_hit").cast("int").alias("bloom_might"),
            F.coalesce(F.col("in_corpus"), F.lit(0)).cast("int").alias("exact_dup"),
            F.when((F.col("all_hit") == 1) & F.col("in_corpus").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("false_pos"),
        )
    )


_BLOOM_SQL = f"""
WITH {_INCR_SPLIT_SQL},
positions AS (
  SELECT DISTINCT pos FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('fp', i)} AS pos FROM corpus" for i in range(BLOOM_K))}
  )),
probes AS (
  SELECT doc_id, fp,
         unnest([{", ".join(_bloom_pos_sql('fp', i) for i in range(BLOOM_K))}]) AS pos
  FROM batch),
agg AS (
  SELECT p.doc_id, p.fp,
         min(CASE WHEN s.pos IS NULL THEN 0 ELSE 1 END) AS all_hit
  FROM probes p LEFT JOIN positions s USING (pos)
  GROUP BY 1, 2)
SELECT a.doc_id,
       CAST(all_hit AS INTEGER) AS bloom_might,
       CAST(CASE WHEN c.fp IS NULL THEN 0 ELSE 1 END AS INTEGER) AS exact_dup,
       CAST(CASE WHEN all_hit = 1 AND c.fp IS NULL THEN 1 ELSE 0 END AS INTEGER) AS false_pos
FROM agg a LEFT JOIN corpus c USING (fp)
"""


# --- embedding quantization (round 3) ---------------------------------------


def _max_abs(dv: Column) -> Column:
    """Sequential greatest-fold of |x| — deterministic and exactly mirrored
    by DuckDB's list_reduce (max is associative, and max(0.0, x1) == x1 for
    the |x| >= 0 elements, so the differing fold seeds coincide)."""
    return F.aggregate(dv, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))


def _clamped_q(x: Column, scale: Column) -> Column:
    """The int8 quantized value of one element: clamp(round(x * scale)) —
    the single definition both the quantizer and the ADC top-k dequantize
    against (and that both SQL mirrors replicate)."""
    return F.greatest(F.lit(-127.0), F.least(F.lit(127.0), F.round(x * scale)))


_MAX_ABS_SQL = "list_reduce([abs(x) for x in {v}], (acc, x) -> greatest(acc, x))"


def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale = 127/max|v|,
    q_i = clamp(round(v_i * scale)); reports saturation count and the L2
    reconstruction error.

    The storage/bandwidth workhorse for 100 TB embedding corpora: 4x
    smaller vectors shrink scan bytes, shuffle bytes, and broadcast sizes
    for every downstream ANN pass. All math is higher-order functions inside
    whole-stage codegen — no Python, no shuffle (one narrow map over the
    scan).
    """
    e = load(spark, sf_dir, "embeddings")
    df = (
        e.select("vec_id", to_double(F.col("embedding")).alias("dv"))
        .withColumn("max_abs", _max_abs(F.col("dv")))
        # try_divide: an all-zero vector (max_abs = 0) gets a NULL scale
        # instead of an ANSI DIVIDE_BY_ZERO error; its outputs are pinned by
        # the CASE guard on the final projection (mirrored by nullif in SQL)
        .withColumn("scale", F.try_divide(F.lit(127.0), F.col("max_abs")))
    )
    scale = F.col("scale")
    df = df.withColumn("q", F.transform(F.col("dv"), lambda x: _clamped_q(x, scale)))
    err_sq = F.aggregate(
        F.zip_with(F.col("dv"), F.col("q"), lambda v, qv: (v - qv / scale) * (v - qv / scale)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # an all-zero vector has max_abs = 0 -> scale = 127/0 diverges between
    # engines (Spark Infinity vs DuckDB NULL); pin its output explicitly:
    # zero saturation, zero reconstruction error (q := zeros reproduces it)
    zero = F.col("max_abs") == 0.0
    return df.select(
        "vec_id",
        F.round("max_abs", 6).alias("max_abs"),
        F.when(zero, F.lit(0))
        .otherwise(F.size(F.filter(F.col("q"), lambda x: F.abs(x) == 127.0)))
        .cast("int")
        .alias("n_sat"),
        F.when(zero, F.lit(0.0)).otherwise(F.round(F.sqrt(err_sq), 6)).alias("recon_err"),
    )


_QUANT_SQL = f"""
WITH base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS dv FROM embeddings),
sc AS (
  SELECT vec_id, dv,
         {_MAX_ABS_SQL.format(v='dv')} AS max_abs,
         127.0 / nullif({_MAX_ABS_SQL.format(v='dv')}, 0.0) AS scale
  FROM base),
qd AS (
  SELECT vec_id, dv, max_abs, scale,
         [greatest(-127.0, least(127.0, round(x * scale))) for x in dv] AS q
  FROM sc)
SELECT vec_id,
       round(max_abs, 6) AS max_abs,
       CASE WHEN max_abs = 0.0 THEN 0
            ELSE CAST(len(list_filter(q, x -> abs(x) = 127.0)) AS INTEGER)
       END AS n_sat,
       CASE WHEN max_abs = 0.0 THEN 0.0
            ELSE round(sqrt(list_reduce(
              [(dv[i] - q[i] / scale) * (dv[i] - q[i] / scale)
               for i in generate_series(1, len(dv))],
              (acc, x) -> acc + x)), 6)
       END AS recon_err
FROM qd
"""

QUANT_TOPK_K = 3


def quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric top-k over the int8-quantized corpus: exact float queries
    against dequantized corpus vectors (the ADC pattern from the PQ/IVF
    literature, with scalar quantization as the codebook). Same join/window
    shape as ``cosine_topk`` — the point is the accuracy/throughput trade
    measured end to end on the quantized representation.

    At scale the corpus side carries int8 + one float scale per vector (4x
    less shuffle/broadcast traffic); dequantization is a codegen transform
    at the consumer.
    """
    e = load(spark, sf_dir, "embeddings")
    base = e.select("vec_id", to_double(F.col("embedding")).alias("dv"))
    # all-zero vectors cannot be symmetric-quantized (scale = 127/0); exclude
    # them from the corpus side — mirrored by WHERE max_abs > 0 in the oracle
    scaled = base.filter(_max_abs(F.col("dv")) > 0).withColumn(
        "scale", F.lit(127.0) / _max_abs(F.col("dv"))
    )
    scale = F.col("scale")
    rvec = F.transform(F.col("dv"), lambda x: _clamped_q(x, scale) / scale)
    corpus = scaled.select(F.col("vec_id").alias("c_id"), rvec.alias("c_vec"))
    queries_df = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("dv").alias("q_vec")
    )
    return brute_force_topk(queries_df, corpus, QUANT_TOPK_K)


_DEQ_SQL = "[greatest(-127.0, least(127.0, round(x * scale))) / scale for x in dv]"

_QUANT_TOPK_SQL = f"""
WITH base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS dv FROM embeddings),
sc AS (
  SELECT vec_id, dv, 127.0 / {_MAX_ABS_SQL.format(v='dv')} AS scale FROM base
  WHERE {_MAX_ABS_SQL.format(v='dv')} > 0),
corpus AS (
  SELECT vec_id AS c_id, {_DEQ_SQL} AS c_vec FROM sc),
q AS (
  SELECT vec_id AS q_id, dv AS q_vec FROM base WHERE vec_id < 10),
pairs AS (
  SELECT q_id, c_id, round({cosine_sql('q_vec', 'c_vec')}, 6) AS cos_sim
  FROM q CROSS JOIN corpus WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id)
              AS BIGINT) AS rank
  FROM pairs)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= {QUANT_TOPK_K}
"""


# --- count-min sketch (round 3) ---------------------------------------------

from ..operators.sketches import (  # noqa: E402
    CMS_ROWS,
    CMS_WIDTH,
    cms_cells,
    cms_estimate,
    cms_pos_sql,
)


def count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch token frequencies, checked against exact counts for
    the corpus top-20: est = min over 4 hash rows of the 1024-wide counter
    cells. The sketch state is FIXED (4x1024 cells) however large the
    corpus — each partition partial-aggregates its own cells and one
    4096-row table merges at the reduce, the canonical bounded-memory
    frequency structure at 100 TB. CMS never undercounts; the pytest pins
    est >= exact on every row. (Sketch algebra in operators/sketches.py —
    the streaming incremental variant merges per-batch partial cells
    bitwise-identically.)
    """
    d = fan_out(load(spark, sf_dir, "documents"))
    tokens = d.select(F.explode(F.split("text", " ")).alias("w"))
    cells = cms_cells(tokens)
    exact = (
        tokens.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_freq"))
        .orderBy(F.col("exact_freq").desc(), "w")
        .limit(20)
    )
    return cms_estimate(exact, cells).select(
        "w",
        "exact_freq",
        "cms_est",
        (F.col("cms_est") - F.col("exact_freq")).alias("overcount"),
    )


_CMS_POS_SQL = cms_pos_sql("w")

from ..operators.sketches import CMS_ROWS_VALUES_SQL  # noqa: E402

_CMS_SQL = f"""
WITH tokens AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
salted AS (
  SELECT w, r, {_CMS_POS_SQL} AS pos
  FROM tokens CROSS JOIN {CMS_ROWS_VALUES_SQL}),
cells AS (
  SELECT r, pos, count(*) AS cnt FROM salted GROUP BY r, pos),
exact AS (
  SELECT w, count(*) AS exact_freq FROM tokens
  GROUP BY w ORDER BY exact_freq DESC, w LIMIT 20),
probes AS (
  SELECT w, exact_freq, r, {_CMS_POS_SQL} AS pos
  FROM exact CROSS JOIN {CMS_ROWS_VALUES_SQL}),
est AS (
  SELECT w, exact_freq, min(cnt) AS cms_est
  FROM probes JOIN cells USING (r, pos) GROUP BY 1, 2)
SELECT w, exact_freq, cms_est, cms_est - exact_freq AS overcount FROM est
"""


# --- LSH band observability (round 3) ---------------------------------------


def minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size histogram of the MinHash LSH bands, plus the candidate
    pairs each (band, size) stratum generates — the skew diagnostic run
    BEFORE a 100 TB dedup job: a heavy bucket here is exactly the hot key
    that would dominate the band self-join, and this query costs one
    groupBy over the signature table (no pairs materialized).
    """
    # reuse the persisted doc table (its h0..h7 are the signature): a sweep
    # that runs both the pair query and this diagnostic pays the shingle
    # explode + aggregate once, not twice
    bands = _band_rows(_minhash_doc_tbl(spark, sf_dir))
    buckets = bands.groupBy("band", "key").agg(F.count(F.lit(1)).alias("bucket_size"))
    return buckets.groupBy("band", "bucket_size").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (
            F.count(F.lit(1)) * F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
        )
        .cast("long")
        .alias("cand_pairs"),
    )


_BAND_STATS_SQL = f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS key FROM sig"
      for b in range(MINHASH_BANDS)
  )}
),
buckets AS (
  SELECT band, key, count(*) AS bucket_size FROM bands GROUP BY 1, 2)
SELECT band, bucket_size, count(*) AS n_buckets,
       CAST(count(*) * bucket_size * (bucket_size - 1) / 2 AS BIGINT) AS cand_pairs
FROM buckets GROUP BY 1, 2
"""


# --- SemDeDup within IVF cells (round 3) -------------------------------------


def _semdedup_cell_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subcell-assigned (vec_id, v, nv, cell, subcell) rows — the pair-join
    input of ``semdedup_cells``, extracted so scale tests can measure
    subcell populations with the production assignment (pure refactor,
    plan-identical)."""
    from ..operators.similarity import ivf_centroids

    e = load(spark, sf_dir, "embeddings")
    cents = ivf_centroids(e, EMB_DIM).withColumn("ncent", norm(F.col("centroid")))
    corpus = e.select("vec_id", to_double(F.col("embedding")).alias("v")).withColumn(
        "nv0", norm(F.col("v"))
    )
    scored = corpus.crossJoin(F.broadcast(cents)).withColumn(
        "cell_sim",
        dot(F.col("v"), F.col("centroid")) / (F.col("nv0") * F.col("ncent")),
    )
    w = W.partitionBy("vec_id").orderBy(F.col("cell_sim").desc(), F.col("label"))
    # norm precomputed once per vector: the in-cell pair check then costs
    # ONE dot fold instead of three (dot + both norms) — ~3x on the
    # dominant sum(|cell|^2) term. cos = dot/(na*nb) is the same arithmetic
    # (and the same fold order) as cosine(), so values stay bitwise equal.
    cells = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", F.col("nv0").alias("nv"), F.col("label").alias("cell"))
    )
    return semdedup_subcells(cells)


def semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup as published: epsilon-dedup WITHIN coarse-quantizer cells.
    Each vector is assigned to its nearest (deterministic) IVF centroid;
    within a cell, any pair with cosine >= threshold kills the higher id;
    survivors keep their true label for downstream eval.

    This is the billion-scale variant next to ``semantic_dedup`` (which
    LSH-prefilters globally): the all-pairs check runs only inside a cell.
    The paper's contract is that cell population is a DESIGN BOUND (k grows
    ~sqrt(N) with the corpus), so sum(|cell|^2) stays linear. The fixture's
    centroids come from a fixed label set, so the bound is enforced here by
    a second-level split: each centroid cell is divided into
    ceil(|cell| / SEMDEDUP_TARGET_CELL) subcells by a deterministic
    multiplicative hash of vec_id (Knuth 2654435761, exact int64
    arithmetic both engines), capping expected subcell population at
    SEMDEDUP_TARGET_CELL however large the corpus grows — the pair join
    cost is O(N * TARGET) instead of O(N^2 / k_fixed). Cross-subcell
    near-dup misses are the same documented approximation as the paper's
    cross-cell misses; the oracle runs the identical split, so the
    approximation itself is value-checked. The per-cell size aggregate is
    one row per cell (broadcastable at any scale).
    """
    e = load(spark, sf_dir, "embeddings")
    cells = _semdedup_cell_rows(spark, sf_dir)
    a, b = cells.alias("a"), cells.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv"))
    pairs = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.subcell") == F.col("b.subcell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= EMB_NEAR_DUP_THRESHOLD)
    )
    kills = pairs.select(F.col("b.vec_id").alias("vec_id")).distinct()
    return e.join(kills, "vec_id", "left_anti").select("vec_id", "label")


SEMDEDUP_TARGET_CELL = 32

# Knuth's multiplicative hash; operand pre-reduced mod 2^31 so the int64
# product (2^31 - 1) * 2654435761 ~ 5.7e18 can never overflow (ANSI mode
# errors on overflow) — identical BIGINT arithmetic runs in DuckDB.
_SUBCELL_HASH = "(({v} % 2147483648) * 2654435761 % 2147483648)"


def semdedup_subcells(cells: DataFrame) -> DataFrame:
    """Add the bounded-population split: n_sub = ceil(|cell| / TARGET)
    subcells per centroid cell, membership by multiplicative vec_id hash.
    Integer-only arithmetic ((n + T-1) div T) so both engines agree
    bitwise."""
    sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("cell_n"))
    t = SEMDEDUP_TARGET_CELL
    return (
        cells.join(F.broadcast(sizes), "cell")
        .withColumn("n_sub", F.expr(f"(cell_n + {t - 1}) div {t}"))
        .withColumn("subcell", F.expr(_SUBCELL_HASH.format(v="vec_id") + " % n_sub"))
        .drop("cell_n", "n_sub")
    )


def _semdedup_cells_sql() -> str:
    thr = f"CAST({EMB_NEAR_DUP_THRESHOLD!r} AS DOUBLE)"
    return f"""
WITH ex AS (
  SELECT label, vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
cent AS (
  SELECT label, pos,
         list_reduce(list(x ORDER BY vec_id), (acc, y) -> acc + y) / count(*) AS m
  FROM ex GROUP BY label, pos
),
cents AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label),
c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cells0 AS (
  SELECT vec_id, v, {norm_sql('v')} AS nv, cell FROM (
    SELECT c.vec_id, c.v, cents.label AS cell,
           row_number() OVER (PARTITION BY c.vec_id
                              ORDER BY {cosine_sql('v', 'centroid')} DESC, cents.label) AS rn
    FROM c CROSS JOIN cents) t WHERE rn = 1
),
sizes AS (SELECT cell, count(*) AS cell_n FROM cells0 GROUP BY cell),
cells AS (
  SELECT c.vec_id, c.v, c.nv, c.cell,
         {_SUBCELL_HASH.format(v='c.vec_id')}
           % ((s.cell_n + {SEMDEDUP_TARGET_CELL - 1}) // {SEMDEDUP_TARGET_CELL})
           AS subcell
  FROM cells0 c JOIN sizes s USING (cell)
),
pairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         round({dot_sql('a.v', 'b.v')} / (a.nv * b.nv), 6) AS cos_sim
  FROM cells a JOIN cells b
    ON a.cell = b.cell AND a.subcell = b.subcell AND a.vec_id < b.vec_id
),
kills AS (SELECT DISTINCT vb AS vec_id FROM pairs WHERE cos_sim >= {thr})
SELECT e.vec_id, e.label
FROM embeddings e ANTI JOIN kills k ON e.vec_id = k.vec_id
"""


# --- signed random projection (round 4) --------------------------------------

RP_DIM = 16


def _rp_signs() -> list[list[float]]:
    """The ±1 sign matrix [RP_DIM][EMB_DIM] for Achlioptas/JL signed random
    projection: sign(j, i) = +1 iff the first hex nibble of
    sha256("j|i") < 8. Computed ONCE at plan-build time with hashlib and
    embedded as literals in BOTH engines' plans — no reliance on
    engine-hash parity, and the matrix is a compile-time constant (16x64
    floats), so at 100 TB it rides the closure/SQL text, never a join."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.sha256(f"{j}|{i}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for i in range(EMB_DIM)
        ]
        for j in range(RP_DIM)
    ]


def random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss signed random projection 64 -> 16 dims: each
    output coordinate is a ±1-signed sum of the input (one zip_with fold
    per dim, all inside whole-stage codegen), and the JL norm estimate
    ||p|| / sqrt(RP_DIM) is reported against the true norm as a ratio.

    The dimensionality-reduction front end for ANN at 100 TB: 4x fewer
    floats into every downstream distance computation, with the distortion
    ratio itself oracle-checked per vector (E[ratio] = 1, concentration by
    JL). Pure narrow map over the scan — no shuffle, no UDF.
    """
    e = load(spark, sf_dir, "embeddings")
    signs = _rp_signs()
    base = e.select("vec_id", to_double(F.col("embedding")).alias("dv"))
    projected = base.select(
        "vec_id",
        norm(F.col("dv")).alias("nv"),
        *[
            dot(F.col("dv"), F.array(*[F.lit(s) for s in signs[j]])).alias(f"p{j}")
            for j in range(RP_DIM)
        ],
    )
    # left-associated sum-of-squares, mirrored textually in the oracle
    psq = F.col("p0") * F.col("p0")
    for j in range(1, RP_DIM):
        psq = psq + F.col(f"p{j}") * F.col(f"p{j}")
    ratio = F.when(F.col("nv") == 0.0, F.lit(None).cast("double")).otherwise(
        F.sqrt(psq) / float(RP_DIM) ** 0.5 / F.col("nv")
    )
    return projected.select(
        "vec_id",
        *[F.round(f"p{j}", 6).alias(f"p{j}") for j in range(4)],
        F.round(ratio, 6).alias("norm_ratio"),
    )


def _rp_sql() -> str:
    signs = _rp_signs()

    def lit(j: int) -> str:
        return "(" + "[" + ", ".join(str(s) for s in signs[j]) + "])"

    p_cols = ",\n         ".join(
        f"{dot_sql('dv', lit(j))} AS p{j}" for j in range(RP_DIM)
    )
    psq = " + ".join(f"p{j} * p{j}" for j in range(RP_DIM))
    return f"""
WITH base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS dv FROM embeddings),
proj AS (
  SELECT vec_id, {norm_sql('dv')} AS nv,
         {p_cols}
  FROM base)
SELECT vec_id,
       round(p0, 6) AS p0, round(p1, 6) AS p1,
       round(p2, 6) AS p2, round(p3, 6) AS p3,
       CASE WHEN nv = 0.0 THEN NULL
            ELSE round(sqrt({psq}) / {float(RP_DIM) ** 0.5!r} / nv, 6)
       END AS norm_ratio
FROM proj
"""


# --- minhash containment (round 4) --------------------------------------------


def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment C(A,B) = |A ∩ B| / |A| (and C(B,A)) for every
    LSH-candidate pair that verifies at Jaccard >= 0.2 — the
    quotation/subset-duplication detector symmetric Jaccard under-scores
    (a doc fully embedded in a 10x larger one has J ≈ 0.1 but C = 1.0,
    exactly the contamination shape training corpora care about).

    Same banded-LSH candidate generation and persisted doc-table arrays as
    ``minhash_near_dup_pairs`` (never all-pairs); the two containment
    directions cost nothing extra — the intersect is already computed.
    """
    doc_tbl = _minhash_doc_tbl(spark, sf_dir)
    pairs = verified_pairs(doc_tbl, doc_tbl, band_pairs(_band_rows(doc_tbl)))
    contain = lambda n: F.round(  # noqa: E731
        F.col("n_common").cast("double") / F.col(n).cast("double"), 6
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "jaccard",
        contain("n_a").alias("containment_a"),
        contain("n_b").alias("containment_b"),
    )


_CONTAINMENT_SQL = f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, h{2 * b} || h{2 * b + 1} AS key FROM sig"
      for b in range(MINHASH_BANDS)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sh AS ({_SHINGLE_ROWS_SQL}),
counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) AS jaccard,
       round(CAST(n_common AS DOUBLE) / CAST(na.n_sh AS DOUBLE), 6) AS containment_a,
       round(CAST(n_common AS DOUBLE) / CAST(nb.n_sh AS DOUBLE), 6) AS containment_b
FROM common
JOIN counts na ON na.doc_id = doc_a
JOIN counts nb ON nb.doc_id = doc_b
WHERE round(CAST(n_common AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6) >= CAST(0.2 AS DOUBLE)
"""


# --- boilerplate / template detection (round 4) --------------------------------


def boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection à la C4: a word-3-gram is "common" when it
    appears in >= 1% of documents (and >= 2 absolute — integer arithmetic
    so both engines agree exactly); each doc reports how much of it is
    made of common shingles. High fractions flag templates, navigation
    chrome, and licence blocks — the classic pretraining-corpus cleanup
    signal.

    Scale shape: shingle→doc-count is one map-side-combining aggregate
    over the (already distinct) shingle rows; the common set is tiny and
    broadcasts back onto the same shingle rows; one doc-keyed aggregate
    finishes. The 1-row corpus total rides a broadcast cross join.
    """
    sh = _shingle_rows(spark, sf_dir)
    total = load(spark, sf_dir, "documents").select(
        F.count(F.lit(1)).alias("n_total")
    )
    counts = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n_docs"))
    common = (
        counts.crossJoin(F.broadcast(total))
        .filter((F.col("n_docs") * 100 >= F.col("n_total")) & (F.col("n_docs") >= 2))
        .select("s", F.lit(1).alias("is_common"))
    )
    per_doc = (
        sh.join(common, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("is_common"), F.lit(0))).cast("bigint").alias("n_common"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_common",
        F.round(
            F.col("n_common").cast("double") / F.col("n_shingles").cast("double"), 6
        ).alias("boiler_frac"),
    )


_BOILERPLATE_SQL = f"""
WITH sh AS ({_SHINGLE_ROWS_SQL}),
total AS (SELECT count(*) AS n_total FROM documents),
counts AS (SELECT s, count(*) AS n_docs FROM sh GROUP BY s),
common AS (
  SELECT s FROM counts, total
  WHERE n_docs * 100 >= n_total AND n_docs >= 2),
per_doc AS (
  SELECT sh.doc_id,
         count(*) AS n_shingles,
         CAST(sum(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common
  FROM sh LEFT JOIN common c ON sh.s = c.s
  GROUP BY sh.doc_id)
SELECT doc_id, n_shingles, n_common,
       round(CAST(n_common AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) AS boiler_frac
FROM per_doc
"""


# --- character entropy quality signal (round 4) -------------------------------


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon character entropy (bits/char) — the classic
    gibberish/repetition quality signal: natural text sits ~4 bits, a
    repeated-character doc near 0, base64 junk near 6. Also reports the
    entropy normalized by log2(alphabet size) in [0, 1].

    Bitwise determinism discipline: per-(doc, char) counts are EXACT
    integers from one hash aggregate; the float entropy is then a
    sequential fold over the counts sorted by character — no
    order-nondeterministic float partial aggregation, so both engines add
    the same terms in the same order. At 100 TB the char explode is a
    narrow generator feeding a map-side-combining count, then a doc-keyed
    aggregate — the same two-shuffle shape as word counting.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # greatest(1, len) keeps empty docs as one ''-char row IDENTICALLY in
    # both engines (Spark's sequence(1, 0) would walk backwards)
    ch = d.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.greatest(F.lit(1), F.length("text")))).alias(
            "i"
        ),
    ).select("doc_id", F.expr("substr(text, i, 1)").alias("ch"))
    counts = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    per = counts.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ch", "c"))), lambda x: x["c"]
        ).alias("cs"),
        F.sum("c").alias("n"),
    )
    nd = F.col("n").cast("double")
    ent = -F.aggregate(
        F.col("cs"),
        F.lit(0.0),
        lambda acc, c: acc + (c.cast("double") / nd) * F.log2(c.cast("double") / nd),
    )
    k = F.size("cs")
    return per.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars"),
        k.cast("int").alias("n_distinct"),
        F.round(ent, 6).alias("entropy_bits"),
        F.when(k <= 1, F.lit(None).cast("double"))
        .otherwise(F.round(ent / F.log2(k.cast("double")), 6))
        .alias("norm_entropy"),
    )


_ENTROPY_SQL = """
WITH ch AS (
  SELECT doc_id, substr(text, i, 1) AS ch
  FROM documents,
       LATERAL (SELECT unnest(generate_series(1, greatest(1, len(text)))) AS i) g
),
counts AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
per AS (
  SELECT doc_id, list(c ORDER BY ch) AS cs, CAST(sum(c) AS BIGINT) AS n
  FROM counts GROUP BY doc_id
),
ent AS (
  SELECT doc_id, n, CAST(len(cs) AS INTEGER) AS k,
         -(list_reduce(
             [(x / CAST(n AS DOUBLE)) * log2(x / CAST(n AS DOUBLE)) for x in cs],
             (acc, x) -> acc + x)) AS e
  FROM per)
SELECT doc_id, n AS n_chars, k AS n_distinct,
       round(e, 6) AS entropy_bits,
       CASE WHEN k <= 1 THEN NULL
            ELSE round(e / log2(CAST(k AS DOUBLE)), 6) END AS norm_entropy
FROM ent
"""


# --- distributed BPE merge training (round 3) --------------------------------

BPE_ROUNDS = 3


def _bpe_apply_merge(syms: Column, a: Column, b: Column) -> Column:
    """Greedy left-to-right application of merge (a, b) over a symbol
    array, as ONE sequential fold: append each symbol, but when the
    accumulator's last element is `a` and the incoming symbol is `b`,
    replace that last element with a||b. Equivalent to the classic
    skip-scan (a merged token a||b can never re-match `a` in the same
    round since b is non-empty), and exactly replayable in SQL."""
    merged = F.concat(a, b)

    def step(acc, x):
        can = (F.size(acc) > 0) & (F.element_at(acc, -1) == a) & (x == b)
        return F.when(
            can, F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged))
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(syms, F.array().cast("array<string>"), step)


def _bpe_pairs(vocab: DataFrame) -> DataFrame:
    """(a, b, n) adjacent-pair counts weighted by word frequency."""
    idx = F.sequence(F.lit(1), F.size("syms") - 1)
    pair = F.explode(
        F.when(
            F.size("syms") > 1,
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("syms"), i).alias("a"),
                    F.element_at(F.col("syms"), i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    ).alias("p")
    return (
        vocab.select("cnt", pair)
        .select("p.a", "p.b", "cnt")
        .groupBy("a", "b")
        .agg(F.sum("cnt").alias("n"))
    )


def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge training over the corpus vocabulary:
    words (with frequencies) start as character sequences; each round
    counts adjacent symbol pairs weighted by word frequency, picks the
    most frequent (ties: lexicographic), and greedily merges it in every
    word. Returns the learned merge table — the artifact a tokenizer
    trainer ships.

    The 100 TB shape: the corpus collapses to its VOCABULARY first (one
    groupBy — Zipf makes this dictionary-sized), every round is then one
    pair-count aggregate over the vocab plus a codegen fold per word, and
    the 1-row argmax broadcasts. No per-round corpus rescan, no Python.
    The DuckDB oracle replays the identical rounds (recursive-CTE walk for
    the greedy merge), value-checking the whole training loop.
    """
    rows, _vocab = _bpe_train(spark, sf_dir)
    out = rows[0]
    for r_df in rows[1:]:
        out = out.unionByName(r_df)
    return out


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the K training rounds; returns (per-round merge rows, the final
    vocab DF (w, cnt, syms)) so the tokenize query can apply the result."""
    d = fan_out(load(spark, sf_dir, "documents"))
    vocab = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "w",
            "cnt",
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ).alias("syms"),
        )
    )
    rows = []
    for r in range(1, BPE_ROUNDS + 1):
        top = (
            _bpe_pairs(vocab)
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .select(
                F.lit(r).alias("round"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.col("n").alias("pair_count"),
            )
        )
        rows.append(top)
        t = top.select("sym_a", "sym_b")
        vocab = vocab.crossJoin(F.broadcast(t)).select(
            "w",
            "cnt",
            _bpe_apply_merge(
                F.col("syms"), F.col("sym_a"), F.col("sym_b")
            ).alias("syms"),
        )
        # plan lineage grows one crossJoin+fold layer per round; harmless at
        # the default K=3, but a real tokenizer run (K in the thousands)
        # would blow analyzer/optimizer time — truncate lineage with a
        # tracked localCheckpoint every 3rd round when K is raised
        if BPE_ROUNDS > 3 and r % 3 == 0 and r < BPE_ROUNDS:
            from ..operators.checkpoints import tracked_local_checkpoint

            vocab, _ = tracked_local_checkpoint(vocab)
    return rows, vocab


def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned merge table back to the corpus: per document, the
    BPE token count after K merges vs the raw word/character counts — the
    compression the tokenizer buys, measured end to end.

    At 100 TB the apply side is the join shape that matters: the corpus
    streams once, exploded words equi-join the broadcastable vocabulary
    (word -> token count), and one groupBy(doc_id) re-aggregates. Training
    cost amortizes over the whole corpus.
    """
    _rows, vocab = _bpe_train(spark, sf_dir)
    word_tok = vocab.select("w", F.size("syms").alias("n_sym"))
    d = fan_out(load(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    return (
        words.join(word_tok, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).alias("n_chars"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


def _bpe_tokenize_sql() -> str:
    base = _bpe_sql()
    # reuse the training CTE chain; swap the final merge-table SELECT for
    # the per-doc re-aggregation over the final vocab
    head = base[: base.rindex("SELECT 1 AS round")]
    return f"""{head}
SELECT doc_id, count(*) AS n_words,
       CAST(sum(len(t.w)) AS BIGINT) AS n_chars,
       CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
JOIN (SELECT w0.w, v3.syms
      FROM vocab{BPE_ROUNDS} v3
      JOIN (SELECT w, row_number() OVER (ORDER BY w) AS wid
            FROM (SELECT w, count(*) AS cnt FROM (
                    SELECT unnest(string_split(text, ' ')) AS w FROM documents) s
                  WHERE len(w) > 0 GROUP BY w) q) w0
        ON w0.wid = v3.wid) v
  ON t.w = v.w
WHERE len(t.w) > 0
GROUP BY doc_id
"""


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE tokens per word and
    characters per token for each lang after K merges — the
    which-languages-pay-more study run before freezing a vocabulary (a
    lang whose fertility stays near chars/word is effectively
    byte-falling-back; a low-fertility lang is well covered by merges).

    Same broadcastable word->token-count vocabulary join as bpe_tokenize,
    re-aggregated on documents.lang instead of doc_id — one lang-keyed
    aggregate of a handful of groups at any corpus size; the float
    ratios are single divisions of exact int64 sums (no float
    accumulation to order).
    """
    _rows, vocab = _bpe_train(spark, sf_dir)
    word_tok = vocab.select("w", F.size("syms").alias("n_sym"))
    d = fan_out(load(spark, sf_dir, "documents"))
    words = d.select(
        "lang", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    agg = (
        words.join(word_tok, "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
        )
    )
    return agg.select(
        "lang",
        "n_words",
        "n_chars",
        "n_bpe_tokens",
        F.round(
            F.col("n_bpe_tokens").cast("double") / F.col("n_words").cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_chars").cast("double") / F.col("n_bpe_tokens").cast("double"), 6
        ).alias("chars_per_token"),
    )


def _bpe_fertility_sql() -> str:
    base = _bpe_sql()
    head = base[: base.rindex("SELECT 1 AS round")]
    return f"""{head}
SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(t.w)) AS BIGINT) AS n_chars,
       CAST(sum(len(v.syms)) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(len(v.syms)) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS fertility,
       round(CAST(sum(len(t.w)) AS DOUBLE) / CAST(sum(len(v.syms)) AS DOUBLE), 6)
         AS chars_per_token
FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) t
JOIN (SELECT w0.w, v3.syms
      FROM vocab{BPE_ROUNDS} v3
      JOIN (SELECT w, row_number() OVER (ORDER BY w) AS wid
            FROM (SELECT w, count(*) AS cnt FROM (
                    SELECT unnest(string_split(text, ' ')) AS w FROM documents) s
                  WHERE len(w) > 0 GROUP BY w) q) w0
        ON w0.wid = v3.wid) v
  ON t.w = v.w
WHERE len(t.w) > 0
GROUP BY lang
"""


def _bpe_sql() -> str:
    """K unrolled rounds; each greedy merge is a per-word recursive walk
    over symbol positions (state = next index + output list), selecting
    the completed state. Strings and integers only — bitwise by nature."""
    prev = "vocab0"
    parts = [
        """vocab0 AS (
  SELECT cnt, [w[i] for i in generate_series(1, len(w))] AS syms, row_number() OVER (ORDER BY w) AS wid
  FROM (SELECT w, count(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE len(w) > 0 GROUP BY w) v
)"""
    ]
    for r in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""pairs{r} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS n
  FROM {prev}, LATERAL (SELECT unnest(generate_series(1, len(syms) - 1)) AS i) g
  GROUP BY 1, 2
),
top{r} AS (SELECT a, b, n FROM pairs{r} ORDER BY n DESC, a, b LIMIT 1),
walk{r} AS (
  SELECT wid, cnt, syms, 1 AS i, []::VARCHAR[] AS out FROM {prev}
  UNION ALL
  SELECT wid, cnt, syms,
         CASE WHEN i < len(syms)
                   AND syms[i] = (SELECT a FROM top{r})
                   AND syms[i + 1] = (SELECT b FROM top{r})
              THEN i + 2 ELSE i + 1 END,
         CASE WHEN i < len(syms)
                   AND syms[i] = (SELECT a FROM top{r})
                   AND syms[i + 1] = (SELECT b FROM top{r})
              THEN list_append(out, (SELECT a || b FROM top{r}))
              ELSE list_append(out, syms[i]) END
  FROM walk{r} WHERE i <= len(syms)
),
vocab{r} AS (
  SELECT wid, cnt, out AS syms FROM walk{r} WHERE i = len(syms) + 1
)"""
        )
        prev = f"vocab{r}"
    body = ",\n".join(parts)
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, a AS sym_a, b AS sym_b, n AS pair_count FROM top{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return f"WITH RECURSIVE {body}\n{finals}"


# --- BM25 retrieval scoring (round 4) --------------------------------------

BM25_MAX_ID = 200
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("vector", "join", "stream")
BM25_TOPK = 10


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document scoring for a fixed query-term set — the retrieval
    pass a contamination sweep or hard-negative miner runs over a training
    corpus. Uses the +1 idf variant (ln(1 + (N-df+0.5)/(df+0.5))) so terms
    present in >half the corpus (common in boilerplate-heavy crawls) keep a
    positive weight instead of flipping the ranking sign.

    Scale shape: the term filter lands BEFORE the tf aggregate, so only
    query-term postings shuffle (|terms| x docs-containing, not the full
    token stream); df and avgdl are term-count- and 1-row-sized — both
    broadcast. Per-term partial scores sum in one doc-keyed aggregate; the
    final top-k is TakeOrderedAndProject, never a full sort. Determinism:
    tf/df/dl are exact int64; one fixed double formula per (doc, term),
    rounded 6 dp AFTER the per-doc sum so ranking tie-breaks see identical
    values in both engines.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < BM25_MAX_ID)
    words = F.split(F.col("text"), " ")
    docs = d.select("doc_id", words.alias("ws")).select(
        "doc_id", F.size("ws").cast("bigint").alias("dl"), "ws"
    )
    # 1-row exact corpus stats: N counted (not assumed from the id cap, so a
    # sparse-id lake can't silently skew idf/avgdl) and avgdl = int64 sum / N
    # — broadcast by AQE
    avgdl = docs.agg(
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    tok = docs.select("doc_id", "dl", F.explode("ws").alias("w")).filter(
        F.col("w").isin(*BM25_TERMS)
    )
    tf = tok.groupBy("doc_id", "dl", "w").agg(F.count(F.lit(1)).alias("tf"))
    return bm25_rank_from(tf, avgdl)


def bm25_rank_from(tf: DataFrame, avgdl: DataFrame) -> DataFrame:
    """BM25 scoring + top-k over a (doc_id, dl, w, tf) posting slice and a
    1-row (avgdl, n_docs) stats frame — the shared kernel of the batch
    query above and the streaming incremental index
    (streaming/documents_stream.py:incremental_bm25), so the formula and
    fold order can never drift apart."""
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    partial = (
        idf
        * tfd
        * F.lit(BM25_K1 + 1.0)
        / (
            tfd
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dld / F.col("avgdl"))
        )
    )
    # per-doc sum of <= |terms| partials as a sorted sequential fold (by
    # term), not an unordered float F.sum — same bitwise-parity discipline
    # as the centroid/textrank folds
    scored = (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(avgdl))
        .select("doc_id", F.struct("w", partial.alias("c")).alias("s"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            "doc_id",
            F.round(
                F.aggregate("ss", F.lit(0.0), lambda a, s: a + s.getField("c")),
                6,
            ).alias("bm25"),
        )
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition heap +
    # driver merge of k rows) — the rank window then runs on the k-row result,
    # never on the full corpus
    top = scored.orderBy(F.col("bm25").desc(), F.col("doc_id")).limit(BM25_TOPK)
    w = W.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    return top.select(
        "doc_id", "bm25", F.row_number().over(w).cast("bigint").alias("rank")
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
MRR_MAX_ID = 500  # retrieval corpus: doc_id < 500
MRR_QUERY_MOD = 25  # every 25th doc issues a query
MRR_Q_TOKENS = 6  # query = the doc's first 6 tokens
MRR_KS = (1, 5, 10)  # MRR@k cutoffs


def retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-RETRIEVAL MRR — the end-to-end sanity eval a retrieval stack
    runs before shipping: every MRR_QUERY_MOD-th doc issues its own first
    MRR_Q_TOKENS tokens as a query against the whole corpus under the
    shared BM25 formula, and the metric is the mean reciprocal rank of
    the SOURCE doc (ties and near-duplicates push it down — which is the
    point: self-retrieval failure localizes index/scoring bugs and
    surfaces duplicate clusters without any human labels). One row per
    cutoff k in MRR_KS: queries issued, hits within k, MRR@k.

    Determinism: per-(query, doc) score is a (term-sorted) sequential
    fold of ≤MRR_Q_TOKENS BM25 partials rounded 6dp (the lm/bm25 fold
    discipline); ranks use the (score desc, doc_id) total order;
    reciprocal ranks are quantized to integer micro-units before the
    cross-query sum (order-free BIGINT fold, the decayed-trending
    discipline). Scale: postings are semi-join-pruned to query terms,
    df/avgdl broadcast 1-row/term-count tables, the per-query ranking is
    a partition-local window keyed by query."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < MRR_MAX_ID)
    words = F.split(F.col("text"), " ")
    docs = d.select(
        "doc_id", F.size(words).cast("bigint").alias("dl"), words.alias("ws")
    )
    stats = docs.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    qterms = (
        docs.filter(F.col("doc_id") % MRR_QUERY_MOD == 0)
        .select(
            F.col("doc_id").alias("qid"),
            F.explode(F.slice("ws", 1, MRR_Q_TOKENS)).alias("w"),
        )
        .distinct()
    )
    tok = (
        docs.select("doc_id", "dl", F.explode("ws").alias("w"))
        .join(qterms.select("w").distinct(), "w", "left_semi")
    )
    tf = tok.groupBy("doc_id", "dl", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    partial = (
        idf
        * tfd
        * F.lit(BM25_K1 + 1.0)
        / (
            tfd
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dld / F.col("avgdl"))
        )
    )
    scored = (
        qterms.join(tf, "w")
        .join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(stats))
        .select("qid", "doc_id", F.struct("w", partial.alias("c")).alias("s"))
        .groupBy("qid", "doc_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            "qid",
            "doc_id",
            F.round(
                F.aggregate("ss", F.lit(0.0), lambda a, s: a + s.getField("c")),
                6,
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    self_rank = (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("doc_id") == F.col("qid"))
        .select("qid", "rank")
    )
    rr_micro = F.round(F.lit(1e6) / F.col("rank").cast("double")).cast("bigint")
    ks = spark.createDataFrame([(k,) for k in MRR_KS], "k int")
    per_k = (
        ks.crossJoin(self_rank)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(
                F.when(F.col("rank") <= F.col("k"), 1).otherwise(0)
            ).cast("bigint").alias("n_hit"),
            F.sum(
                F.when(F.col("rank") <= F.col("k"), rr_micro).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).cast("bigint").alias("rr_micro_sum"),
        )
    )
    return per_k.select(
        "k",
        "n_queries",
        "n_hit",
        F.round(
            F.col("rr_micro_sum").cast("double")
            / (F.lit(1e6) * F.col("n_queries").cast("double")),
            6,
        ).alias("mrr"),
    ).orderBy("k")


_RETRIEVAL_MRR_SQL = f"""
WITH docs AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         string_split(text, ' ') AS ws
  FROM documents WHERE doc_id < {MRR_MAX_ID}
),
stats AS (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
                 CAST(count(*) AS DOUBLE) AS n_docs FROM docs),
qterms AS (
  SELECT DISTINCT doc_id AS qid, unnest(ws[1:{MRR_Q_TOKENS}]) AS w
  FROM docs WHERE doc_id % {MRR_QUERY_MOD} = 0
),
tok AS (
  SELECT doc_id, dl, unnest(ws) AS w FROM docs
),
tf AS (
  SELECT doc_id, dl, w, count(*) AS tf FROM tok
  WHERE w IN (SELECT DISTINCT w FROM qterms) GROUP BY doc_id, dl, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT q.qid, tf.doc_id,
         round(list_reduce(list(
           ln(1.0 + (stats.n_docs - CAST(df.df AS DOUBLE) + 0.5)
                    / (CAST(df.df AS DOUBLE) + 0.5))
           * CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0}
           / (CAST(tf.tf AS DOUBLE)
              + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * CAST(tf.dl AS DOUBLE) / stats.avgdl))
           ORDER BY tf.w), (a, b) -> a + b), 6) AS score
  FROM qterms q JOIN tf ON q.w = tf.w JOIN df ON tf.w = df.w CROSS JOIN stats
  GROUP BY q.qid, tf.doc_id
),
self_rank AS (
  SELECT qid, rank FROM (
    SELECT qid, doc_id,
           CAST(row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, doc_id) AS BIGINT)
             AS rank
    FROM scored) t
  WHERE doc_id = qid
)
SELECT k, CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN rank <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       round(CAST(sum(CASE WHEN rank <= k
                      THEN CAST(round(1e6 / CAST(rank AS DOUBLE)) AS BIGINT)
                      ELSE 0 END) AS DOUBLE)
             / (1e6 * CAST(count(*) AS DOUBLE)), 6) AS mrr
FROM (VALUES {", ".join(f"({k})" for k in MRR_KS)}) ks(k) CROSS JOIN self_rank
GROUP BY k
ORDER BY k
"""


_BM25_SQL = f"""
WITH docs AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
         string_split(text, ' ') AS ws
  FROM documents WHERE doc_id < {BM25_MAX_ID}
),
avgdl AS (SELECT CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
                 CAST(count(*) AS DOUBLE) AS n_docs FROM docs),
tok AS (
  SELECT doc_id, dl, unnest(ws) AS w FROM docs
),
tf AS (
  SELECT doc_id, dl, w, count(*) AS tf FROM tok
  WHERE w IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, dl, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
scored AS (
  SELECT tf.doc_id,
         round(list_reduce(list(
           ln(1.0 + (avgdl.n_docs - CAST(df.df AS DOUBLE) + 0.5)
                    / (CAST(df.df AS DOUBLE) + 0.5))
           * CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0}
           / (CAST(tf.tf AS DOUBLE)
              + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * CAST(tf.dl AS DOUBLE) / avgdl.avgdl))
           ORDER BY tf.w), (a, b) -> a + b), 6) AS bm25
  FROM tf JOIN df ON tf.w = df.w CROSS JOIN avgdl
  GROUP BY tf.doc_id
)
SELECT doc_id, bm25, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM scored) t
WHERE rank <= {BM25_TOPK}
"""


# --- inverted index build (round 4) ----------------------------------------

INVIDX_MAX_ID = 200
INVIDX_POSTINGS_CAP = 5
INVIDX_MIN_DF = 2


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term -> (document frequency, corpus frequency, capped posting list)
    — the index-construction pass behind the BM25/contamination queries.

    Scale shape: one (doc, term) tf aggregate (map-side combine collapses
    repeats before the shuffle), then one term-keyed aggregate. The posting
    list is HARD-CAPPED at 5 doc ids (sorted, so the cap is
    deterministic — the lowest ids survive) and serialized to a string:
    unbounded postings for a stop-word would otherwise build a row as large
    as the corpus on a single executor. df/cf stay exact int64 over ALL
    postings — only the stored sample is capped, not the statistics.
    """
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < INVIDX_MAX_ID)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = tok.groupBy("w", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("w")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.slice(
                    F.array_sort(F.collect_list("doc_id")), 1, INVIDX_POSTINGS_CAP
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= INVIDX_MIN_DF)
    )


_INVIDX_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents WHERE doc_id < {INVIDX_MAX_ID}
),
tf AS (SELECT w, doc_id, count(*) AS tf FROM tok GROUP BY w, doc_id)
SELECT w, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
       array_to_string((list(doc_id ORDER BY doc_id))[1:{INVIDX_POSTINGS_CAP}], ',') AS postings
FROM tf GROUP BY w HAVING count(*) >= {INVIDX_MIN_DF}
"""


# --- PMI collocations (round 4) --------------------------------------------

PMI_MIN_FREQ = 30


def _doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization of the corpus as a ``ws`` array column —
    THE place the word-graph tokenizer lives (PMI, triangles, TextRank all
    start here; ``_TOKS_SQL`` is the DuckDB mirror)."""
    d = fan_out(load(spark, sf_dir, "documents"))
    return d.select(F.split(F.col("text"), " ").alias("ws"))


_TOKS_SQL = "SELECT string_split(text, ' ') AS ws FROM documents"


def _adjacent_pair_counts(toks: DataFrame, alias: str) -> DataFrame:
    """Adjacent word-pair counts from a ``ws`` array column: zip of two
    codegen slices (no join, no posexplode self-join), then one map-side
    combining aggregate. Shared by PMI, triangles, and TextRank (which
    tokenize via ``_doc_words``) so the n=1 empty-slice edge lives in
    exactly one place."""
    pairs = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("ws"), 1, F.size("ws") - 1).alias("w1"),
                F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    return pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias(alias))


def _bigram_counts_sql(alias: str) -> str:
    """DuckDB mirror of ``_adjacent_pair_counts`` (expects a ``toks`` CTE
    with a ``ws`` list column in scope)."""
    return f"""
  SELECT ws[i] AS w1, ws[i + 1] AS w2, count(*) AS {alias}
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
  GROUP BY 1, 2"""


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent word pairs — the
    collocation detector ("new york", "machine learning") used to protect
    multi-word expressions during tokenizer training. PMI =
    ln(p(w1,w2) / (p(w1) p(w2))) with exact integer counts and the float
    math deferred to one fixed formula per surviving bigram.

    Scale shape: unigram and bigram tables are vocabulary- and
    vocabulary²-sized (Zipf-bounded — tiny next to the corpus), built by
    two map-side-combining aggregates over codegen array zips; the unigram
    table is broadcast twice into the bigram join. The totals are 1-row
    broadcasts. A min-frequency floor keeps noise bigrams (whose PMI
    estimates are garbage anyway) out of the result.
    """
    toks = _doc_words(spark, sf_dir)
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("uf"))
    )
    bi = _adjacent_pair_counts(toks, "bf")
    tot_u = uni.agg(F.sum("uf").cast("double").alias("tu"))
    tot_b = bi.agg(F.sum("bf").cast("double").alias("tb"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("uf").alias("uf1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("uf").alias("uf2"))
    pmi = F.log(
        (F.col("bf").cast("double") / F.col("tb"))
        / (
            (F.col("uf1").cast("double") / F.col("tu"))
            * (F.col("uf2").cast("double") / F.col("tu"))
        )
    )
    return (
        bi.filter(F.col("bf") >= PMI_MIN_FREQ)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select("w1", "w2", F.col("bf").alias("freq"), F.round(pmi, 6).alias("pmi"))
    )


_PMI_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
uni AS (SELECT w, count(*) AS uf FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w),
bi AS ({_bigram_counts_sql("bf")}
),
tu AS (SELECT CAST(sum(uf) AS DOUBLE) AS tu FROM uni),
tb AS (SELECT CAST(sum(bf) AS DOUBLE) AS tb FROM bi)
SELECT bi.w1, bi.w2, bi.bf AS freq,
       round(ln((CAST(bi.bf AS DOUBLE) / tb.tb)
                / ((CAST(u1.uf AS DOUBLE) / tu.tu)
                   * (CAST(u2.uf AS DOUBLE) / tu.tu))), 6) AS pmi
FROM bi
JOIN uni u1 ON bi.w1 = u1.w
JOIN uni u2 ON bi.w2 = u2.w
CROSS JOIN tu CROSS JOIN tb
WHERE bi.bf >= {PMI_MIN_FREQ}
"""


# --- k-means Lloyd refinement (round 4) ------------------------------------


def kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus:
    deterministic init (per-label fold-mean centroids — the IVF coarse
    quantizer), cosine reassignment of every vector to its nearest
    centroid, then exact fold-mean recomputation over the NEW assignment.
    Output per cluster: member count and how far the centroid moved (L2,
    6 dp) — the convergence signal a k-means driver loop watches.

    Scale shape per iteration: centroids are k x dim (broadcast); the
    reassignment is a broadcast nested-loop over k candidates per vector
    (k << corpus — this is the canonical distributed k-means step, cost
    O(N·k·dim) map-side with zero shuffle); the recomputation is one
    (cluster, dim)-keyed aggregate. Nothing all-pairs, nothing
    corpus-sized on the driver. Extending to T iterations loops this plan
    T times with a localCheckpoint per round to cut lineage (see
    bpe_merges for the same pattern under _BPE_CHECKPOINT).

    Determinism: every float reduction is a sequential left-fold over
    members sorted by vec_id (operators/similarity.py:89 discipline);
    the oracle runs the identical folds via list_reduce ORDER BY vec_id.
    """
    from ..operators.similarity import ivf_centroids

    # pin the domain to well-formed fixed-width vectors: a malformed (empty
    # or ragged) embedding would vanish from the posexplode fold while the
    # oracle's count(*) still saw it — filter identically on both sides
    # instead of diverging silently
    e = _emb_ok(spark, sf_dir)
    cents = ivf_centroids(e, EMB_DIM).select(
        F.col("label").alias("k0"), F.col("centroid").alias("c0")
    )
    v = e.select("vec_id", to_double(F.col("embedding")).alias("vec"))
    # reassign: nearest centroid by cosine (label tiebreak)
    # round to 6 dp BEFORE ranking (cosine_topk/bm25_topk discipline) so a
    # near-tie assignment can't flip if either engine's float eval drifts
    scored = v.crossJoin(F.broadcast(cents)).withColumn(
        "sim", F.round(cosine(F.col("vec"), F.col("c0")), 6)
    )
    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("k0"))
    assigned = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("k0").alias("k"), "vec")
    )
    # recompute: the SAME fold-mean kernel as the init (single source of
    # truth for the fold discipline), with the member count carried through
    # the one aggregate instead of a second pass over the reassignment
    new_c = ivf_centroids(
        assigned.select(
            F.col("k").alias("label"), "vec_id", F.col("vec").alias("embedding")
        ),
        EMB_DIM,
        with_count=True,
    ).select(F.col("label").alias("k"), F.col("centroid").alias("c1"), "n_members")
    # shift = L2(c0, c1): sequential per-dim fold, sqrt at the end
    shift = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("c0"), F.col("c1"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return cents.join(new_c, cents.k0 == new_c.k).select(
        F.col("k").alias("cluster"),
        "n_members",
        F.round(shift, 6).alias("centroid_shift"),
    )


_KMEANS_SQL = f"""
WITH emb AS (SELECT * FROM embeddings WHERE len(embedding) = {EMB_DIM}),
ex AS (
  SELECT label, vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM emb, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
cent AS (
  SELECT label, pos,
         list_reduce(list(x ORDER BY vec_id), (acc, y) -> acc + y) / count(*) AS m
  FROM ex GROUP BY label, pos
),
cents AS (SELECT label AS k0, list(m ORDER BY pos) AS c0 FROM cent GROUP BY label),
v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM emb),
assigned AS (
  SELECT vec_id, k0 AS k, vec FROM (
    SELECT v.vec_id, v.vec, cents.k0,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY round({cosine_sql('vec', 'c0')}, 6) DESC, cents.k0) AS rn
    FROM v CROSS JOIN cents) t WHERE rn = 1
),
ex2 AS (
  SELECT k, vec_id, i - 1 AS pos, vec[i] AS x
  FROM assigned, LATERAL (SELECT unnest(generate_series(1, len(vec))) AS i) g
),
cent2 AS (
  SELECT k, pos,
         list_reduce(list(x ORDER BY vec_id), (acc, y) -> acc + y) / count(*) AS m
  FROM ex2 GROUP BY k, pos
),
new_c AS (SELECT k, list(m ORDER BY pos) AS c1 FROM cent2 GROUP BY k),
n_m AS (SELECT k, count(*) AS n_members FROM assigned GROUP BY k)
SELECT cents.k0 AS cluster, n_m.n_members,
       round(sqrt(list_reduce(
         list_transform(generate_series(1, len(c0)),
                        i -> (c0[i] - c1[i]) * (c0[i] - c1[i])),
         (acc, y) -> acc + y)), 6) AS centroid_shift
FROM cents JOIN new_c ON cents.k0 = new_c.k JOIN n_m ON cents.k0 = n_m.k
"""


# --- n-gram novelty curve (round 4) ----------------------------------------


def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's word-3-grams
    whose FIRST corpus appearance (min doc_id) is this doc — the
    novelty-decay curve dedup/curation teams plot to see how fast a crawl
    stops contributing new content. Complements boilerplate_fraction
    (corpus-common shingles) with an ordering-aware signal.

    Scale shape: one shingle-keyed min aggregate, then an equi-join back
    on the shingle key (the first-seen table is shingle-vocabulary-sized —
    it SHUFFLES, deliberately not broadcast, because shingle space grows
    with the corpus), then one doc-keyed aggregate. All counts exact
    int64; one rounded division at the end.
    """
    sh = _shingle_rows(spark, sf_dir)
    first = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"), 6
        ).alias("novelty_frac"),
    )


_NOVELTY_SQL = f"""
WITH sh AS ({_SHINGLE_ROWS_SQL}),
firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
per_doc AS (
  SELECT sh.doc_id, count(*) AS n_shingles,
         CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM sh JOIN firsts f ON sh.s = f.s
  GROUP BY sh.doc_id)
SELECT doc_id, n_shingles, n_novel,
       round(CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6) AS novelty_frac
FROM per_doc
"""


# --- co-occurrence triangle enumeration (round 4) ---------------------------

TRI_MIN_WT = 20


def cooc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the thresholded word co-occurrence graph
    (an edge when an adjacent bigram occurs >= 20 times in either
    direction): surfaces 3-word cliques — the graph-analytics primitive
    behind clustering-coefficient / community features, and the third
    member of the graph family next to connected components (integer
    propagation) and TextRank (weighted float iteration).

    Scale shape: the standard two-join enumeration over lexicographically
    oriented edges (a < b): wedge join on the shared middle vertex, then
    an equi-join probing the closing edge — each triangle emitted exactly
    once as a < b < c, never a cube-sized cross product. At web scale the
    orientation key becomes degree order (low-degree vertex first) to
    bound wedge skew; lexicographic is the same plan shape.
    """
    toks = _doc_words(spark, sf_dir)
    bi = _adjacent_pair_counts(toks, "wt").filter(F.col("wt") >= TRI_MIN_WT)
    und = (
        bi.select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    wedges = (
        und.select(F.col("a"), F.col("b").alias("m"))
        .join(und.select(F.col("a").alias("m"), F.col("b").alias("c")), "m")
        .select("a", F.col("m").alias("b"), "c")
    )
    closing = und.select(F.col("a").alias("ca"), F.col("b").alias("cc"))
    return (
        wedges.join(
            closing,
            (F.col("a") == F.col("ca")) & (F.col("c") == F.col("cc")),
        )
        .select(F.col("a").alias("w1"), F.col("b").alias("w2"), F.col("c").alias("w3"))
    )


_TRIANGLES_SQL = f"""
WITH toks AS ({_TOKS_SQL}),
bi AS ({_bigram_counts_sql("wt")}
),
und AS (
  SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
  FROM bi WHERE wt >= {TRI_MIN_WT} AND w1 != w2
),
wedges AS (
  SELECT x.a AS a, x.b AS b, y.b AS c
  FROM und x JOIN und y ON x.b = y.a
)
SELECT w.a AS w1, w.b AS w2, w.c AS w3
FROM wedges w JOIN und z ON w.a = z.a AND w.c = z.b
"""


# --- image perceptual hash (round 4) -----------------------------------------


def image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup fingerprints: average-hash over each BMP payload's
    luminance grid (operators/multimodal.py:phash_bmp — real byte parse in
    an Arrow kernel). The multimodal counterpart of text fingerprinting:
    the 16-character bit-string hashes feed the same equi-join dedup
    shapes as minhash bands. Oracle recomputes the hash closed-form from the synthetic
    pixel formula (md5 digest bytes cycled row-major), never touching the
    payload bytes.
    """
    from ..operators.multimodal import attach_bmp_payload, phash_bmp

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return phash_bmp(attach_bmp_payload(d))


def _image_phash_sql() -> str:
    hexd = "0123456789abcdef"

    def hexpair(idx: str) -> str:
        pos = f"(({idx}) * 2 + 1)"
        c1 = f"substr(md5(text), {pos}, 1)"
        c2 = f"substr(md5(text), {pos} + 1, 1)"
        return (
            f"((strpos('{hexd}', {c1}) - 1) * 16"
            f" + (strpos('{hexd}', {c2}) - 1))"
        )

    g = 4
    gray_cols = []
    for gy in range(g):
        for gx in range(g):
            sy = f"(({gy} * h) // {g})"
            sx = f"(({gx} * w) // {g})"
            cell = " + ".join(
                hexpair(f"(({sy}) * row_size + ({sx}) * 3 + {c}) % 16")
                for c in range(3)
            )
            gray_cols.append(f"({cell}) AS g{gy * g + gx}")
    n = g * g
    total = " + ".join(f"g{i}" for i in range(n))
    bit = lambda i: f"CASE WHEN g{i} * {n} > total THEN '1' ELSE '0' END"  # noqa: E731
    phash = " || ".join(bit(i) for i in range(n))
    ones = " + ".join(
        f"CASE WHEN g{i} * {n} > total THEN 1 ELSE 0 END" for i in range(n)
    )
    newline = ",\n         "
    return f"""
WITH dims AS (
  SELECT doc_id, text, doc_id % 16 + 1 AS w, (doc_id // 16) % 8 + 1 AS h
  FROM documents WHERE doc_id < 300
),
dims2 AS (SELECT *, (w * 3 + 3) // 4 * 4 AS row_size FROM dims),
grays AS (
  SELECT doc_id, w, h,
         {newline.join(gray_cols)}
  FROM dims2
),
t AS (SELECT *, {total} AS total FROM grays)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       {phash} AS phash,
       CAST({ones} AS BIGINT) AS n_ones
FROM t
"""


IMG_NEAR_DUP_MAX_HAMMING = 4
# 5 bands over the 16-character '0'/'1' bit-string hash (1-indexed
# substring start, length). The near-dup metric is character-level
# Hamming over those 16 characters — image_near_dup counts differing
# CHARACTERS, which for this one-char-per-bit encoding equals bit
# Hamming over the 4x4 grid.
# With MAX_HAMMING = 4 and 5 bands, any qualifying pair differs in at
# most 4 characters, which can touch at most 4 bands — so at least one
# band matches exactly (pigeonhole): the band-blocked join is
# RECALL-COMPLETE for the character metric, not an approximation.
IMG_PHASH_BANDS: tuple[tuple[int, int], ...] = (
    (1, 4),
    (5, 3),
    (8, 3),
    (11, 3),
    (14, 3),
)


def image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs: block on phash BAND PREFIXES, verify
    with the full Hamming distance — the minhash-band shape applied to
    perceptual fingerprints. Closes the multimodal dedup loop: phash_bmp
    builds the fingerprint; this turns it into a kill-able pair list.

    Scale shape: each image explodes into 5 (band_id, band_value) keys and
    candidates come from an equi-join on that key — skew-safe where a
    (width, height) block is not (at web scale most images share a handful
    of standard dims, so a dims block degenerates toward all-pairs inside
    the hot class; hash-band buckets subdivide by CONTENT, and a wider
    hash shrinks them further without changing the plan). Pigeonhole over
    the 5 bands makes the block exact for Hamming <= 4, so the output
    equals a true all-pairs Hamming join. The verify is 16 codegen
    character comparisons, no UDF; pairs dedup on (doc_a, doc_b) before
    the verify so multi-band matches verify once. Exact integer distance;
    pairs emitted once (doc_a < doc_b).
    """
    ph = image_phash(spark, sf_dir).select("doc_id", "phash")
    bands = ph.select(
        "doc_id",
        "phash",
        F.posexplode(
            F.array(
                *[F.substring("phash", s, ln) for s, ln in IMG_PHASH_BANDS]
            )
        ).alias("band", "key"),
    )
    cand = band_pairs(bands, carry=("phash",))
    ham = sum(
        F.when(
            F.substring("phash_a", i + 1, 1) != F.substring("phash_b", i + 1, 1), 1
        ).otherwise(0)
        for i in range(16)
    ).cast("bigint")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= IMG_NEAR_DUP_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def _image_near_dup_sql() -> str:
    band_rows = ", ".join(
        f"({i}, {s}, {ln})" for i, (s, ln) in enumerate(IMG_PHASH_BANDS)
    )
    ham = " + ".join(
        f"CASE WHEN substr(ph_a, {i + 1}, 1) != substr(ph_b, {i + 1}, 1)"
        " THEN 1 ELSE 0 END"
        for i in range(16)
    )
    return f"""
WITH ph AS ({_image_phash_sql()}),
bands AS (
  SELECT doc_id, phash, bd.band_id,
         substr(phash, bd.start, bd.len) AS band_val
  FROM ph, (VALUES {band_rows}) bd(band_id, start, len)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.phash AS ph_a, b.phash AS ph_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
FROM cand WHERE {ham} <= {IMG_NEAR_DUP_MAX_HAMMING}
"""


# --- minhash dedup precision/recall eval (round 4) ---------------------------

DEDUP_EVAL_MAX_ID = 200


def dedup_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash→LSH→verify near-dup pipeline against
    exact all-pairs Jaccard ground truth on a bounded doc range — the
    dedup-side mirror of ann_recall_eval: the banding approximation's miss
    rate becomes an oracle-checked number instead of folklore. Precision
    is 1.0 by construction (the pipeline exact-verifies candidates);
    recall measures pairs the band join never surfaced.

    Scale shape: ground truth is the O(N²) exact kernel, so it runs on an
    evaluation SAMPLE (doc_id < 200) — exactly how a production pipeline
    audits its LSH parameters; the predicted side reuses the banded
    pipeline unchanged. Output is one row of exact counts + two rounded
    ratios (NULL-guarded when a side is empty).
    """
    return _pr_row(
        _dedup_eval_truth(spark, sf_dir),
        minhash_near_dup_pairs(spark, sf_dir),
        DEDUP_EVAL_MAX_ID,
    )


def _dedup_eval_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ground truth of the DEDUP_EVAL_MAX_ID evals: every pair of
    sample docs whose shingle Jaccard rounds to >= NEAR_DUP_JACCARD_MIN."""
    sh = _shingle_rows(spark, sf_dir).filter(F.col("doc_id") < DEDUP_EVAL_MAX_ID)
    return (
        token_overlap(sh)
        .filter(jaccard6() >= NEAR_DUP_JACCARD_MIN)
        .select("doc_a", "doc_b")
    )


def _dedup_eval_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency cells (c, g, n_cg) of the DEDUP_EVAL_MAX_ID sample:
    c = component of the banded pipeline's pairs, g = component of the
    exact truth, n_cg = docs in both; a doc in no pair is its own cluster
    on that side."""
    from ..operators.components import connected_components

    lim = DEDUP_EVAL_MAX_ID
    pred_pairs = minhash_near_dup_pairs(spark, sf_dir).filter(
        (F.col("doc_a") < lim) & (F.col("doc_b") < lim)
    ).select("doc_a", "doc_b")
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < lim).select("doc_id")
    gold = connected_components(
        _dedup_eval_truth(spark, sf_dir), src="doc_a", dst="doc_b"
    ).select(F.col("node").alias("doc_id"), F.col("comp").alias("g"))
    pred = connected_components(pred_pairs, src="doc_a", dst="doc_b").select(
        F.col("node").alias("doc_id"), F.col("comp").alias("c")
    )
    return (
        docs.join(pred, "doc_id", "left")
        .join(gold, "doc_id", "left")
        .select(
            F.coalesce(F.col("c"), F.col("doc_id")).alias("c"),
            F.coalesce(F.col("g"), F.col("doc_id")).alias("g"),
        )
        .groupBy("c", "g")
        .agg(F.count(F.lit(1)).alias("n_cg"))
    )


_DEDUP_PR_SQL = f"""
WITH sh0 AS ({_SHINGLE_ROWS_SQL}),
sh AS (SELECT * FROM sh0 WHERE doc_id < {DEDUP_EVAL_MAX_ID}),
cnts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM common
  JOIN cnts na ON na.doc_id = doc_a JOIN cnts nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE)
              / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6)
        >= CAST(0.2 AS DOUBLE)
),
pred0 AS ({_MINHASH_PAIRS_SQL}),
pred AS (SELECT doc_a, doc_b FROM pred0
         WHERE doc_a < {DEDUP_EVAL_MAX_ID} AND doc_b < {DEDUP_EVAL_MAX_ID}),
tp AS (SELECT t.doc_a FROM truth t JOIN pred p USING (doc_a, doc_b)),
stats AS (
  SELECT (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM tp) AS n_tp
)
SELECT n_truth, n_pred, n_tp,
       CASE WHEN n_pred > 0
            THEN round(CAST(n_tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6) END AS precision,
       CASE WHEN n_truth > 0
            THEN round(CAST(n_tp AS DOUBLE) / CAST(n_truth AS DOUBLE), 6) END AS recall
FROM stats
"""


# --- B-cubed cluster-quality eval (round 13) --------------------------------

BCUBED_MICRO = 1_000_000  # per-cell terms quantized to 1e-6 via integer div


def bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) of the banded
    near-dup CLUSTERING against exact-Jaccard gold clusters — the
    entity-resolution metric dedup_pr_eval's pairwise P/R cannot see
    (B-cubed penalizes a wrongly merged mega-cluster per MEMBER, not per
    pair). Gold = connected components of the exact all-pairs truth on
    the dedup_pr_eval sample; predicted = components of the banded
    pipeline's pairs on the same sample; singletons are their own
    cluster on both sides. B3P = (1/N)*sum_cells n_cg^2/n_c and B3R the
    n_g twin, with each cell term computed by INTEGER division in 1e-6
    micro-units (n_cg^2 * 1e6 div n_c) so the cross-cluster sum is exact
    BIGINT arithmetic at any parallelism — the k-anonymity bucketing
    discipline applied to an eval metric.

    Scale shape: ground truth is the O(N^2) exact kernel, so the sample
    bound (doc_id < DEDUP_EVAL_MAX_ID) is inherited from dedup_pr_eval;
    the cell table is bounded by the sample; components use the
    O(diameter) label-propagation operator.
    """
    cells = _dedup_eval_cells(spark, sf_dir)
    nc = cells.groupBy("c").agg(F.sum("n_cg").alias("n_c"))
    ng = cells.groupBy("g").agg(F.sum("n_cg").alias("n_g"))
    terms = cells.join(nc, "c").join(ng, "g").select(
        F.expr(f"(n_cg * n_cg * {BCUBED_MICRO}) div n_c").alias("p_mu"),
        F.expr(f"(n_cg * n_cg * {BCUBED_MICRO}) div n_g").alias("r_mu"),
        "n_cg",
    )
    sums = terms.agg(
        F.coalesce(F.sum("p_mu"), F.lit(0)).cast("bigint").alias("p_micro"),
        F.coalesce(F.sum("r_mu"), F.lit(0)).cast("bigint").alias("r_micro"),
        F.coalesce(F.sum("n_cg"), F.lit(0)).cast("bigint").alias("n_docs"),
    )
    sizes = cells.agg(
        F.countDistinct("c").cast("bigint").alias("n_pred_clusters"),
        F.countDistinct("g").cast("bigint").alias("n_gold_clusters"),
    )
    p = F.col("p_micro").cast("double") / (
        F.lit(float(BCUBED_MICRO)) * F.col("n_docs").cast("double")
    )
    r = F.col("r_micro").cast("double") / (
        F.lit(float(BCUBED_MICRO)) * F.col("n_docs").cast("double")
    )
    return sums.crossJoin(sizes).select(
        "n_docs",
        "n_pred_clusters",
        "n_gold_clusters",
        F.when(F.col("n_docs") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(p, 6)).alias("bcubed_p"),
        F.when(F.col("n_docs") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(r, 6)).alias("bcubed_r"),
        F.when(F.col("n_docs") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.when(
                    F.col("p_micro") + F.col("r_micro") == 0, F.lit(0.0)
                ).otherwise(F.lit(2.0) * p * r / (p + r)),
                6,
            )
        ).alias("bcubed_f"),
    )


_BCUBED_SQL = f"""
WITH RECURSIVE sh0 AS ({{shingles}}),
sh AS (SELECT * FROM sh0 WHERE doc_id < {DEDUP_EVAL_MAX_ID}),
cnts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM common
  JOIN cnts na ON na.doc_id = doc_a JOIN cnts nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE)
              / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6)
        >= CAST(0.2 AS DOUBLE)
),
pred0 AS ({{pairs}}),
predp AS (SELECT doc_a, doc_b FROM pred0
          WHERE doc_a < {DEDUP_EVAL_MAX_ID} AND doc_b < {DEDUP_EVAL_MAX_ID}),
gu AS (SELECT doc_a AS a, doc_b AS b FROM truth
       UNION SELECT doc_b, doc_a FROM truth),
greach AS (SELECT a, b FROM gu
           UNION SELECT r.a, u.b FROM greach r JOIN gu u ON r.b = u.a),
gcomp AS (SELECT a AS doc_id, least(a, min(b)) AS g FROM greach GROUP BY a),
pu AS (SELECT doc_a AS a, doc_b AS b FROM predp
       UNION SELECT doc_b, doc_a FROM predp),
preach AS (SELECT a, b FROM pu
           UNION SELECT r.a, u.b FROM preach r JOIN pu u ON r.b = u.a),
pcomp AS (SELECT a AS doc_id, least(a, min(b)) AS c FROM preach GROUP BY a),
assign AS (
  SELECT d.doc_id,
         coalesce(p.c, d.doc_id) AS c,
         coalesce(g.g, d.doc_id) AS g
  FROM (SELECT doc_id FROM documents WHERE doc_id < {DEDUP_EVAL_MAX_ID}) d
  LEFT JOIN pcomp p USING (doc_id) LEFT JOIN gcomp g USING (doc_id)
),
cells AS (SELECT c, g, count(*) AS n_cg FROM assign GROUP BY 1, 2),
nc AS (SELECT c, sum(n_cg) AS n_c FROM cells GROUP BY c),
ng AS (SELECT g, sum(n_cg) AS n_g FROM cells GROUP BY g),
sums AS (
  SELECT CAST(coalesce(sum((n_cg * n_cg * {BCUBED_MICRO}) // n_c), 0)
              AS BIGINT) AS p_micro,
         CAST(coalesce(sum((n_cg * n_cg * {BCUBED_MICRO}) // n_g), 0)
              AS BIGINT) AS r_micro,
         CAST(coalesce(sum(n_cg), 0) AS BIGINT) AS n_docs
  FROM cells JOIN nc USING (c) JOIN ng USING (g)
),
sizes AS (
  SELECT CAST(count(DISTINCT c) AS BIGINT) AS n_pred_clusters,
         CAST(count(DISTINCT g) AS BIGINT) AS n_gold_clusters
  FROM assign
)
SELECT n_docs, n_pred_clusters, n_gold_clusters,
       CASE WHEN n_docs = 0 THEN NULL ELSE
       round(CAST(p_micro AS DOUBLE) / ({BCUBED_MICRO}.0 * n_docs), 6) END
         AS bcubed_p,
       CASE WHEN n_docs = 0 THEN NULL ELSE
       round(CAST(r_micro AS DOUBLE) / ({BCUBED_MICRO}.0 * n_docs), 6) END
         AS bcubed_r,
       CASE WHEN n_docs = 0 THEN NULL ELSE
       round(CASE WHEN p_micro + r_micro = 0 THEN 0.0 ELSE
             2.0 * (CAST(p_micro AS DOUBLE) / ({BCUBED_MICRO}.0 * n_docs))
                 * (CAST(r_micro AS DOUBLE) / ({BCUBED_MICRO}.0 * n_docs))
               / (CAST(p_micro AS DOUBLE) / ({BCUBED_MICRO}.0 * n_docs)
                  + CAST(r_micro AS DOUBLE) / ({BCUBED_MICRO}.0 * n_docs)) END,
             6) END AS bcubed_f
FROM sums, sizes
"""


def cluster_agreement_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-counting and information-theoretic agreement between the
    banded near-dup clustering and the exact-Jaccard gold clustering
    (the bcubed_eval pairing): Adjusted Rand Index (Hubert & Arabie
    1985) computed in EXACT integer arithmetic end-to-end (choose-2
    sums, the expected-index product, one final divide), plus
    homogeneity / completeness / V-measure (Rosenberg & Hirschberg
    2007) with each entropy term H = -sum p*ln(p) accumulated in 1e-6
    micro-unit BIGINTs (each term is one deterministic double from
    integer counts, quantized before the sum — the bcubed discipline).

    Scale shape: shares the bounded-sample components with bcubed_eval;
    everything past the cell table is alphabet-sized arithmetic.
    """
    cells = _dedup_eval_cells(spark, sf_dir)
    # choose-2 sums: all exact BIGINT (integer div — n(n-1) is even)
    ch2 = lambda col: F.expr(f"({col} * ({col} - 1)) div 2")  # noqa: E731
    cell_s = cells.agg(
        F.coalesce(F.sum(ch2("n_cg")), F.lit(0)).cast("bigint").alias("s_cells"),
        F.coalesce(F.sum("n_cg"), F.lit(0)).cast("bigint").alias("n_docs"),
    )
    nc = cells.groupBy("c").agg(F.sum("n_cg").alias("n_c"))
    ng = cells.groupBy("g").agg(F.sum("n_cg").alias("n_g"))
    s_c = nc.agg(F.coalesce(F.sum(ch2("n_c")), F.lit(0)).cast("bigint").alias("s_pred"))
    s_g = ng.agg(F.coalesce(F.sum(ch2("n_g")), F.lit(0)).cast("bigint").alias("s_gold"))
    # entropy micro-sums: term(count) = -count/N * ln(count/N)
    def ent_mu(df, col, n_docs_col):  # noqa: ANN001
        p = F.col(col).cast("double") / F.col(n_docs_col).cast("double")
        t = -p * F.log(p)
        return F.coalesce(
            F.sum(F.floor(t * F.lit(1e6) + F.lit(0.5)).cast("bigint")), F.lit(0)
        ).cast("bigint")

    base = cell_s.crossJoin(s_c).crossJoin(s_g)
    h_cg = cells.crossJoin(cell_s.select("n_docs")).agg(
        ent_mu(None, "n_cg", "n_docs").alias("h_cg_mu")
    )
    h_c = nc.crossJoin(cell_s.select("n_docs")).agg(
        ent_mu(None, "n_c", "n_docs").alias("h_c_mu")
    )
    h_g = ng.crossJoin(cell_s.select("n_docs")).agg(
        ent_mu(None, "n_g", "n_docs").alias("h_g_mu")
    )
    out = base.crossJoin(h_cg).crossJoin(h_c).crossJoin(h_g)
    n2 = (F.col("n_docs") * (F.col("n_docs") - 1) / F.lit(2)).cast("bigint")
    # ARI = (S_cells - S_pred*S_gold/N2) / ((S_pred+S_gold)/2 - S_pred*S_gold/N2)
    exp_idx = F.col("s_pred").cast("double") * F.col("s_gold").cast("double") / n2.cast(
        "double"
    )
    ari_num = F.col("s_cells").cast("double") - exp_idx
    ari_den = (
        (F.col("s_pred") + F.col("s_gold")).cast("double") / F.lit(2.0) - exp_idx
    )
    hom_den = F.col("h_g_mu").cast("double")  # H(gold)
    com_den = F.col("h_c_mu").cast("double")  # H(pred)
    # H(gold|pred) = H(cells) - H(pred); homogeneity = 1 - that / H(gold)
    h_g_given_c = (F.col("h_cg_mu") - F.col("h_c_mu")).cast("double")
    h_c_given_g = (F.col("h_cg_mu") - F.col("h_g_mu")).cast("double")
    hom = F.when(F.col("h_g_mu") == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - h_g_given_c / hom_den
    )
    com = F.when(F.col("h_c_mu") == 0, F.lit(1.0)).otherwise(
        F.lit(1.0) - h_c_given_g / com_den
    )
    small = F.col("n_docs") < 2  # n2 = 0: every ratio is 0/0, emit NULLs
    return out.select(
        "n_docs",
        "s_cells",
        "s_pred",
        "s_gold",
        F.when(small, F.lit(None).cast("double"))
        .when(ari_den == 0, F.lit(1.0))
        .otherwise(F.round(ari_num / ari_den, 6))
        .alias("ari"),
        F.when(small, F.lit(None).cast("double")).otherwise(F.round(hom, 6))
        .alias("homogeneity"),
        F.when(small, F.lit(None).cast("double")).otherwise(F.round(com, 6))
        .alias("completeness"),
        F.when(small, F.lit(None).cast("double")).otherwise(
            F.round(
                F.when(hom + com == 0, F.lit(0.0)).otherwise(
                    F.lit(2.0) * hom * com / (hom + com)
                ),
                6,
            )
        ).alias("v_measure"),
    )


_AGREE_SQL = f"""
WITH RECURSIVE sh0 AS ({{shingles}}),
sh AS (SELECT * FROM sh0 WHERE doc_id < {DEDUP_EVAL_MAX_ID}),
cnts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b FROM common
  JOIN cnts na ON na.doc_id = doc_a JOIN cnts nb ON nb.doc_id = doc_b
  WHERE round(CAST(n_common AS DOUBLE)
              / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE), 6)
        >= CAST(0.2 AS DOUBLE)
),
pred0 AS ({{pairs}}),
predp AS (SELECT doc_a, doc_b FROM pred0
          WHERE doc_a < {DEDUP_EVAL_MAX_ID} AND doc_b < {DEDUP_EVAL_MAX_ID}),
gu AS (SELECT doc_a AS a, doc_b AS b FROM truth
       UNION SELECT doc_b, doc_a FROM truth),
greach AS (SELECT a, b FROM gu
           UNION SELECT r.a, u.b FROM greach r JOIN gu u ON r.b = u.a),
gcomp AS (SELECT a AS doc_id, least(a, min(b)) AS g FROM greach GROUP BY a),
pu AS (SELECT doc_a AS a, doc_b AS b FROM predp
       UNION SELECT doc_b, doc_a FROM predp),
preach AS (SELECT a, b FROM pu
           UNION SELECT r.a, u.b FROM preach r JOIN pu u ON r.b = u.a),
pcomp AS (SELECT a AS doc_id, least(a, min(b)) AS c FROM preach GROUP BY a),
assign AS (
  SELECT coalesce(p.c, d.doc_id) AS c,
         coalesce(g.g, d.doc_id) AS g
  FROM (SELECT doc_id FROM documents WHERE doc_id < {DEDUP_EVAL_MAX_ID}) d
  LEFT JOIN pcomp p USING (doc_id) LEFT JOIN gcomp g USING (doc_id)
),
cells AS (SELECT c, g, count(*) AS n_cg FROM assign GROUP BY 1, 2),
cell_s AS (
  SELECT CAST(coalesce(sum(n_cg * (n_cg - 1) // 2), 0) AS BIGINT) AS s_cells,
         CAST(coalesce(sum(n_cg), 0) AS BIGINT) AS n_docs
  FROM cells),
nc AS (SELECT c, sum(n_cg) AS n_c FROM cells GROUP BY c),
ng AS (SELECT g, sum(n_cg) AS n_g FROM cells GROUP BY g),
s_c AS (SELECT CAST(coalesce(sum(n_c * (n_c - 1) // 2), 0) AS BIGINT)
          AS s_pred FROM nc),
s_g AS (SELECT CAST(coalesce(sum(n_g * (n_g - 1) // 2), 0) AS BIGINT)
          AS s_gold FROM ng),
h_cg AS (SELECT CAST(coalesce(sum(CAST(floor(
           -(CAST(n_cg AS DOUBLE) / n_docs) * ln(CAST(n_cg AS DOUBLE) / n_docs)
           * 1e6 + 0.5) AS BIGINT)), 0) AS BIGINT) AS h_cg_mu
         FROM cells, cell_s),
h_c AS (SELECT CAST(coalesce(sum(CAST(floor(
          -(CAST(n_c AS DOUBLE) / n_docs) * ln(CAST(n_c AS DOUBLE) / n_docs)
          * 1e6 + 0.5) AS BIGINT)), 0) AS BIGINT) AS h_c_mu
        FROM nc, cell_s),
h_g AS (SELECT CAST(coalesce(sum(CAST(floor(
          -(CAST(n_g AS DOUBLE) / n_docs) * ln(CAST(n_g AS DOUBLE) / n_docs)
          * 1e6 + 0.5) AS BIGINT)), 0) AS BIGINT) AS h_g_mu
        FROM ng, cell_s),
fin AS (
  SELECT n_docs, s_cells, s_pred, s_gold, h_cg_mu, h_c_mu, h_g_mu,
         CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS n2
  FROM cell_s, s_c, s_g, h_cg, h_c, h_g)
SELECT n_docs, s_cells, s_pred, s_gold,
       CASE WHEN n_docs < 2 THEN NULL
            WHEN (CAST(s_pred + s_gold AS DOUBLE) / 2.0
                  - CAST(s_pred AS DOUBLE) * s_gold / n2) = 0 THEN 1.0
            ELSE round((CAST(s_cells AS DOUBLE)
                        - CAST(s_pred AS DOUBLE) * s_gold / n2)
                       / (CAST(s_pred + s_gold AS DOUBLE) / 2.0
                          - CAST(s_pred AS DOUBLE) * s_gold / n2), 6) END AS ari,
       CASE WHEN n_docs < 2 THEN NULL ELSE
       round(CASE WHEN h_g_mu = 0 THEN 1.0
             ELSE 1.0 - CAST(h_cg_mu - h_c_mu AS DOUBLE) / h_g_mu END, 6) END
         AS homogeneity,
       CASE WHEN n_docs < 2 THEN NULL ELSE
       round(CASE WHEN h_c_mu = 0 THEN 1.0
             ELSE 1.0 - CAST(h_cg_mu - h_g_mu AS DOUBLE) / h_c_mu END, 6) END
         AS completeness,
       CASE WHEN n_docs < 2 THEN NULL ELSE
       round(CASE WHEN (CASE WHEN h_g_mu = 0 THEN 1.0
                        ELSE 1.0 - CAST(h_cg_mu - h_c_mu AS DOUBLE) / h_g_mu END)
                  + (CASE WHEN h_c_mu = 0 THEN 1.0
                     ELSE 1.0 - CAST(h_cg_mu - h_g_mu AS DOUBLE) / h_c_mu END) = 0
             THEN 0.0
             ELSE 2.0
                  * (CASE WHEN h_g_mu = 0 THEN 1.0
                     ELSE 1.0 - CAST(h_cg_mu - h_c_mu AS DOUBLE) / h_g_mu END)
                  * (CASE WHEN h_c_mu = 0 THEN 1.0
                     ELSE 1.0 - CAST(h_cg_mu - h_g_mu AS DOUBLE) / h_c_mu END)
                  / ((CASE WHEN h_g_mu = 0 THEN 1.0
                      ELSE 1.0 - CAST(h_cg_mu - h_c_mu AS DOUBLE) / h_g_mu END)
                     + (CASE WHEN h_c_mu = 0 THEN 1.0
                        ELSE 1.0 - CAST(h_cg_mu - h_g_mu AS DOUBLE) / h_c_mu END))
             END, 6) END AS v_measure
FROM fin
"""


# --- language-ID confusion matrix (round 4) ---------------------------------


def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the stopword-profile language classifier:
    (gold, guess) counts plus each cell's share of its gold class (the
    per-class recall on the diagonal) — the evaluation pass that turns a
    classifier query into a quality dashboard, mirroring ann_recall_eval
    for the retrieval side.

    Scale shape: composes the deterministic lang_id plan with one
    (gold, guess) aggregate (cardinality = |langs|², tiny) and a
    broadcast join against per-gold totals. Exact integer counts; one
    rounded division per cell.
    """
    pred = lang_id(spark, sf_dir)
    cells = pred.groupBy("lang", "guess").agg(F.count(F.lit(1)).alias("n"))
    totals = pred.groupBy("lang").agg(F.count(F.lit(1)).alias("tot"))
    return (
        cells.join(F.broadcast(totals), "lang")
        .select(
            "lang",
            "guess",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("tot").cast("double"), 6
            ).alias("gold_frac"),
        )
    )


def _langid_confusion_sql() -> str:
    return f"""
WITH pred AS ({_lang_id_sql()}),
cells AS (SELECT lang, guess, count(*) AS n FROM pred GROUP BY 1, 2),
totals AS (SELECT lang, count(*) AS tot FROM pred GROUP BY 1)
SELECT cells.lang, cells.guess, cells.n,
       round(CAST(cells.n AS DOUBLE) / CAST(totals.tot AS DOUBLE), 6) AS gold_frac
FROM cells JOIN totals ON cells.lang = totals.lang
"""


# --- weighted reservoir sampling (round 4) ----------------------------------

WRS_K = 5


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted reservoir sampling (A-Res), top-k per
    source: each doc draws a deterministic uniform u from its id hash and
    is ranked by ln(u)/w — the monotone form of the paper's u^(1/w) key —
    with w = n_chars, so longer docs win proportionally more slots.
    Completes the sampling family: stratified_sample (unweighted gate),
    importance_resample (probabilistic keep), this (exact-k weighted).

    Determinism at 100 TB: the key is a pure function of (doc_id,
    n_chars) — identical under re-runs, partition retries, and engine
    choice (the md5-hex-to-int arithmetic is the shared hashes.py kernel;
    u = (h16 + 0.5)/65536 keeps ln away from 0). Scale shape: stateless
    key projection + per-source top-k window — one shuffle on source,
    never a global sort; at extreme group cardinality swap the window for
    a groupBy/max_by-k aggregate (same semantics, pre-aggregated).
    """
    from ..functions.hashes import hex4_to_int

    d = load(spark, sf_dir, "documents")
    u = (
        hex4_to_int(F.md5(F.col("doc_id").cast("string"))) + F.lit(0.5)
    ) / F.lit(65536.0)
    key = F.log(u) / F.col("n_chars").cast("double")
    scored = d.select(
        "source", "doc_id", "n_chars", F.round(key, 6).alias("res_key")
    )
    w = W.partitionBy("source").orderBy(F.col("res_key").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= WRS_K)
        .select("source", "doc_id", "n_chars", "res_key", "rank")
    )


def _weighted_sample_sql() -> str:
    from ..functions.hashes import hex4_to_int_sql

    h = hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")
    return f"""
WITH scored AS (
  SELECT source, doc_id, n_chars,
         round(ln(({h} + CAST(0.5 AS DOUBLE)) / CAST(65536.0 AS DOUBLE))
               / CAST(n_chars AS DOUBLE), 6) AS res_key
  FROM documents
)
SELECT source, doc_id, n_chars, res_key, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY res_key DESC, doc_id) AS rank
  FROM scored) t
WHERE rank <= {WRS_K}
"""


# --- TextRank keyword scoring (round 4) ------------------------------------

TEXTRANK_DAMPING = 0.85
TEXTRANK_ITERS = 3


def textrank_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank: PageRank over the directed word-adjacency graph (nodes =
    vocabulary, edge w1->w2 weighted by adjacent-bigram count) — the
    keyword-extraction primitive, and the registry's weighted ITERATIVE
    float graph algorithm (connected components covers the integer
    min-propagation case). 3 damped power iterations:
    PR'(v) = (1-d)/N + d * sum_u PR(u) * wt(u,v) / outw(u).

    Scale shape per iteration: one edge->rank equi-join (edges are
    vocabulary²-bounded — Zipf keeps this tiny next to the corpus), one
    target-keyed aggregate, a broadcast out-weight table and a 1-row N.
    Dangling mass (words with no outgoing edge) follows the simplified
    PageRank convention — dropped identically in both engines.

    Determinism: the per-target contribution sum is a sequential left-fold
    over sources sorted by word (the ivf_centroids discipline) so both
    engines add in the same order. At web-graph scale the in-degree fold
    array is the bound to watch — swap for plain F.sum when bitwise oracle
    parity isn't required (float sum is order-nondeterministic but
    tolerance-stable).
    """
    toks = _doc_words(spark, sf_dir)
    edges = _adjacent_pair_counts(toks, "wt")
    outw = edges.groupBy("w1").agg(F.sum("wt").alias("ow"))
    nodes = toks.select(F.explode("ws").alias("w")).distinct()
    ncnt = nodes.agg(F.count(F.lit(1)).cast("double").alias("nn"))

    dmp = TEXTRANK_DAMPING
    pr = nodes.crossJoin(F.broadcast(ncnt)).select(
        "w", (F.lit(1.0) / F.col("nn")).alias("pr")
    )
    for _ in range(TEXTRANK_ITERS):
        contrib = (
            edges.join(pr.withColumnRenamed("w", "w1"), "w1")
            .join(F.broadcast(outw), "w1")
            .select(
                "w2",
                F.struct(
                    "w1",
                    (
                        F.col("pr")
                        * F.col("wt").cast("double")
                        / F.col("ow").cast("double")
                    ).alias("c"),
                ).alias("s"),
            )
            .groupBy("w2")
            .agg(F.array_sort(F.collect_list("s")).alias("ss"))
            .select(
                F.col("w2").alias("w"),
                F.aggregate(
                    "ss", F.lit(0.0), lambda a, s: a + s.getField("c")
                ).alias("contrib"),
            )
        )
        pr = (
            nodes.join(contrib, "w", "left")
            .crossJoin(F.broadcast(ncnt))
            .select(
                "w",
                (
                    F.lit(1.0 - dmp) / F.col("nn")
                    + F.lit(dmp) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("pr"),
            )
        )
    return pr.select("w", F.round("pr", 6).alias("pr"))


def _textrank_sql() -> str:
    d = TEXTRANK_DAMPING
    body = f"""
WITH toks AS ({_TOKS_SQL}),
edges AS ({_bigram_counts_sql("wt")}
),
outw AS (SELECT w1, sum(wt) AS ow FROM edges GROUP BY w1),
nodes AS (SELECT DISTINCT w FROM (SELECT unnest(ws) AS w FROM toks)),
n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
pr0 AS (SELECT w, 1.0 / nn AS pr FROM nodes CROSS JOIN n)"""
    prev = "pr0"
    for i in range(1, TEXTRANK_ITERS + 1):
        body += f""",
c{i} AS (
  SELECT e.w2 AS w,
         list_reduce(list(p.pr * CAST(e.wt AS DOUBLE) / CAST(o.ow AS DOUBLE)
                          ORDER BY e.w1),
                     (a, b) -> a + b) AS contrib
  FROM edges e JOIN {prev} p ON e.w1 = p.w JOIN outw o ON e.w1 = o.w1
  GROUP BY e.w2
),
pr{i} AS (
  SELECT nodes.w,
         CAST({1.0 - d} AS DOUBLE) / nn
         + CAST({d} AS DOUBLE) * coalesce(contrib, CAST(0.0 AS DOUBLE)) AS pr
  FROM nodes CROSS JOIN n LEFT JOIN c{i} USING (w)
)"""
        prev = f"pr{i}"
    return body + f"\nSELECT w, round(pr, 6) AS pr FROM {prev}"


# --- hybrid retrieval: reciprocal rank fusion (round 5) ----------------------

RRF_K = 60
RRF_TOPK = 10


def _sem_leg(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Semantic retrieval leg shared by rrf_fusion and
    hard_negative_mining: exact cosine top-k for query vector 0 over the
    BM25-aligned doc-id range, via the ONE shared kernel
    (operators/similarity.py:brute_force_topk) so the rounding/tiebreak
    discipline lives in a single place. Malformed (ragged) embeddings are
    excluded on both engines — zip_with over ragged arrays yields NULL
    sims that silently sort last instead of failing loudly."""
    e = _emb_ok(spark, sf_dir).filter(F.col("vec_id") < BM25_MAX_ID)
    v = to_double(F.col("embedding"))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), v.alias("q_vec")
    )
    c = e.select(F.col("vec_id").alias("c_id"), v.alias("c_vec"))
    return brute_force_topk(q, c, k).select(
        F.col("c_id").alias("doc_id"),
        "cos_sim",
        F.col("rank").alias("sem_rank"),
    )


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: reciprocal-rank fusion of the LEXICAL ranking (BM25
    over the fixed query terms) and the SEMANTIC ranking (exact cosine to
    query vector 0) on the shared doc-id space — score(d) = sum over lists
    of 1/(K + rank_d), the standard no-tuning fusion a RAG retrieval stack
    runs over its keyword and vector legs.

    Scale shape: both legs end in top-k lists (TakeOrderedAndProject), so
    the fusion join touches 2k rows — driver-light, shuffle-trivial —
    regardless of corpus size; the heavy lifting stays in the legs, which
    are already scale-shaped (term-filtered postings / broadcast query).
    Determinism: ranks are exact ints; the two 1/(K+r) terms fold in a
    fixed order and round 6 dp before the fused re-rank (doc_id
    tiebreak).
    """
    lex = bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    sem = _sem_leg(spark, sf_dir, RRF_TOPK).select("doc_id", "sem_rank")
    contrib = lambda r: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col(r).cast("double")),
        F.lit(0.0),
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(contrib("lex_rank") + contrib("sem_rank"), 6).alias("rrf"),
    )
    w = W.orderBy(F.col("rrf").desc(), "doc_id")
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("fused_rank") <= RRF_TOPK)
    )


_RRF_SQL = f"""
WITH lex AS (
  SELECT doc_id, rank AS lex_rank FROM ({_BM25_SQL}) lt
),
emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE vec_id < {BM25_MAX_ID} AND len(embedding) = {EMB_DIM}
),
qv AS (SELECT vec AS q_vec FROM emb WHERE vec_id = 0),
sem0 AS (
  SELECT e.vec_id AS doc_id,
         round({cosine_sql('e.vec', 'qv.q_vec')}, 6) AS cos_sim
  FROM emb e CROSS JOIN qv WHERE e.vec_id != 0
),
sem AS (
  SELECT doc_id, CAST(rank AS BIGINT) AS sem_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank
    FROM sem0) st
  WHERE rank <= {RRF_TOPK}
),
fused AS (
  SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
         round(coalesce({dlit(1.0)} / ({dlit(float(RRF_K))} + CAST(lex_rank AS DOUBLE)), {dlit(0.0)})
             + coalesce({dlit(1.0)} / ({dlit(float(RRF_K))} + CAST(sem_rank AS DOUBLE)), {dlit(0.0)}),
               6) AS rrf
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf, fused_rank FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank
  FROM fused) ft
WHERE fused_rank <= {RRF_TOPK}
"""


# --- retrieval quality: nDCG of the ANN ranking (round 5) --------------------

NDCG_MAX_REL = 6  # rel = NDCG_MAX_REL - exact_rank for exact top-5, else 0


def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded retrieval eval: nDCG@3 of the LSH-bucketed ranking against
    exact-cosine ground truth — recall@k (llm_ann_recall_eval) says WHETHER
    the right docs surfaced; nDCG says whether they surfaced IN ORDER,
    discounting late hits by 1/log2(rank+1). Relevance is graded from the
    exact ranking (rank 1 -> 5 ... rank 5 -> 1, absent -> 0).

    Scale shape: both inputs are per-query top-k lists, so this is
    arithmetic over k rows per query — one shuffle on q_id. Determinism:
    DCG and ideal-DCG are sequential folds over rank order; log2 is
    written as ln(x)/ln(2) with the SAME op order in both engines; one
    round 6 at the end.
    """
    exact = cosine_topk(spark, sf_dir).select(
        "q_id", "c_id", F.col("rank").alias("ex_rank")
    )
    approx = lsh_topk(spark, sf_dir).select(
        "q_id", "c_id", F.col("rank").alias("ap_rank")
    )
    ln2 = F.log(F.lit(2.0))
    rel = F.coalesce(
        F.lit(float(NDCG_MAX_REL)) - F.col("ex_rank").cast("double"),
        F.lit(0.0),
    )
    gain = rel * ln2 / F.log(F.col("ap_rank").cast("double") + F.lit(1.0))
    dcg_terms = (
        approx.join(exact, ["q_id", "c_id"], "left")
        .select("q_id", F.struct(F.col("ap_rank").alias("r"), gain.alias("g")).alias("t"))
        .groupBy("q_id")
        .agg(F.array_sort(F.collect_list("t")).alias("ts"))
        .select(
            "q_id",
            F.aggregate("ts", F.lit(0.0), lambda a, s: a + s.getField("g")).alias("dcg"),
        )
    )
    igain = (
        F.lit(float(NDCG_MAX_REL)) - F.col("ex_rank").cast("double")
    ) * ln2 / F.log(F.col("ex_rank").cast("double") + F.lit(1.0))
    idcg_terms = (
        exact.filter(F.col("ex_rank") <= 3)
        .select("q_id", F.struct(F.col("ex_rank").alias("r"), igain.alias("g")).alias("t"))
        .groupBy("q_id")
        .agg(F.array_sort(F.collect_list("t")).alias("ts"))
        .select(
            "q_id",
            F.aggregate("ts", F.lit(0.0), lambda a, s: a + s.getField("g")).alias("idcg"),
        )
    )
    return dcg_terms.join(idcg_terms, "q_id").select(
        "q_id",
        F.round("dcg", 6).alias("dcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


_NDCG_SQL = f"""
WITH exact AS (
  SELECT q_id, c_id, rank AS ex_rank FROM ({_COSINE_TOPK_SQL}) et
),
approx AS (
  SELECT q_id, c_id, rank AS ap_rank FROM ({_LSH_TOPK_SQL}) at
),
dcg AS (
  SELECT a.q_id,
         list_reduce(list_prepend({dlit(0.0)}, list(
           coalesce({dlit(float(NDCG_MAX_REL))} - CAST(e.ex_rank AS DOUBLE), {dlit(0.0)})
           * ln({dlit(2.0)}) / ln(CAST(a.ap_rank AS DOUBLE) + {dlit(1.0)})
           ORDER BY a.ap_rank)), (x, y) -> x + y) AS dcg
  FROM approx a LEFT JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
),
idcg AS (
  SELECT q_id,
         list_reduce(list_prepend({dlit(0.0)}, list(
           ({dlit(float(NDCG_MAX_REL))} - CAST(ex_rank AS DOUBLE))
           * ln({dlit(2.0)}) / ln(CAST(ex_rank AS DOUBLE) + {dlit(1.0)})
           ORDER BY ex_rank)), (x, y) -> x + y) AS idcg
  FROM exact WHERE ex_rank <= 3 GROUP BY q_id
)
SELECT dcg.q_id, round(dcg.dcg, 6) AS dcg,
       round(dcg.dcg / idcg.idcg, 6) AS ndcg
FROM dcg JOIN idcg ON dcg.q_id = idcg.q_id
"""


# --- matryoshka truncation recall (round 5) ----------------------------------

MRL_DIM = 16
MRL_K = 5


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style evaluation: re-rank with only the FIRST 16 of 64
    embedding dims and measure top-5 overlap against the full-dim exact
    ranking — the dimension-budget study run before shipping truncated
    embeddings to a cheaper index. recall@5 per query, exact integer
    overlap.

    Scale shape: two broadcast-query rankings (the truncated one folds
    16-element arrays — 4x cheaper per pair) ending in per-query top-k;
    the overlap join touches k rows per query. The query set (not the
    corpus) bounds driver-side size.
    """
    e = _emb_ok(spark, sf_dir)
    full_v = to_double(F.col("embedding"))
    tr_v = to_double(F.slice(F.col("embedding"), 1, MRL_DIM))
    full = brute_force_topk(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), full_v.alias("q_vec")
        ),
        fan_out(e).select(F.col("vec_id").alias("c_id"), full_v.alias("c_vec")),
        MRL_K,
    ).select("q_id", "c_id")
    trunc = brute_force_topk(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("q_id"), tr_v.alias("q_vec")
        ),
        fan_out(e).select(F.col("vec_id").alias("c_id"), tr_v.alias("c_vec")),
        MRL_K,
    ).select("q_id", "c_id")
    hits = (
        full.join(trunc, ["q_id", "c_id"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    qs = e.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("q_id"))
    return qs.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("overlap"), F.lit(0)).cast("bigint").alias("overlap"),
        F.round(
            F.coalesce(F.col("overlap"), F.lit(0)).cast("double")
            / F.lit(float(MRL_K)),
            6,
        ).alias("recall_at_k"),
    )


_MRL_SQL = f"""
WITH ok AS (SELECT * FROM embeddings WHERE len(embedding) = {EMB_DIM}),
q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec,
                  (embedding[1:{MRL_DIM}])::DOUBLE[] AS q_tr
           FROM ok WHERE vec_id < 10),
c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec,
             (embedding[1:{MRL_DIM}])::DOUBLE[] AS c_tr
      FROM ok),
full_r AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY round({cosine_sql('q_vec', 'c_vec')}, 6) DESC, c_id) AS rank
    FROM c CROSS JOIN q WHERE q_id != c_id) t WHERE rank <= {MRL_K}
),
tr_r AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY round({cosine_sql('q_tr', 'c_tr')}, 6) DESC, c_id) AS rank
    FROM c CROSS JOIN q WHERE q_id != c_id) t WHERE rank <= {MRL_K}
),
hits AS (
  SELECT f.q_id, count(*) AS overlap
  FROM full_r f JOIN tr_r t ON f.q_id = t.q_id AND f.c_id = t.c_id
  GROUP BY f.q_id
)
SELECT q.q_id, CAST(coalesce(hits.overlap, 0) AS BIGINT) AS overlap,
       round(CAST(coalesce(hits.overlap, 0) AS DOUBLE) / {dlit(float(MRL_K))}, 6) AS recall_at_k
FROM q LEFT JOIN hits ON q.q_id = hits.q_id
"""


# --- Zipf rank-frequency fit (round 5) ---------------------------------------

ZIPF_TOPN = 100


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law diagnostic: OLS fit of ln(freq) against ln(rank) over
    the top-100 vocabulary — the slope (~-1 for natural text) is the
    corpus-health number that flags template/boilerplate-dominated crawls
    (flat slopes) before they poison a tokenizer or LM.

    Scale shape: word counts are one map-side-combining aggregate; the
    top-100 is TakeOrderedAndProject (never a full vocab sort); the OLS
    sums are four sequential folds over the SAME rank-sorted 100-element
    array. Determinism: ranks exact ints, ln on integer-valued doubles,
    folds in rank order, round 6 at the end.
    """
    d = fan_out(load(spark, sf_dir, "documents"))
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.col("cnt").desc(), "w").limit(ZIPF_TOPN)
    ranked = top.select(
        F.row_number()
        .over(W.orderBy(F.col("cnt").desc(), "w"))
        .cast("double")
        .alias("r"),
        F.col("cnt").cast("double").alias("f"),
    ).select(
        "r", F.log("r").alias("lx"), F.log("f").alias("ly")
    )
    arr = ranked.agg(
        F.array_sort(
            F.collect_list(F.struct("r", "lx", "ly"))
        ).alias("ts"),
        F.count(F.lit(1)).alias("n_words"),
    )
    fold = lambda expr: F.aggregate("ts", F.lit(0.0), expr)  # noqa: E731
    sx = fold(lambda a, s: a + s.getField("lx"))
    sy = fold(lambda a, s: a + s.getField("ly"))
    sxx = fold(lambda a, s: a + s.getField("lx") * s.getField("lx"))
    sxy = fold(lambda a, s: a + s.getField("lx") * s.getField("ly"))
    n = F.col("n_words").cast("double")
    # an ungrouped agg yields one row even on an empty corpus — drop it
    # rather than emit NaN slopes from the 0/0
    stats = arr.filter(F.col("n_words") > 0).select(
        "n_words", sx.alias("sx"), sy.alias("sy"), sxx.alias("sxx"), sxy.alias("sxy")
    )
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return stats.select(
        "n_words",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 6).alias("zipf_intercept"),
    )


_ZIPF_SQL = f"""
WITH counts AS (
  SELECT w, count(*) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE len(w) > 0 GROUP BY w
),
top AS (SELECT w, cnt FROM counts ORDER BY cnt DESC, w LIMIT {ZIPF_TOPN}),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, w) AS DOUBLE) AS r,
         CAST(cnt AS DOUBLE) AS f
  FROM top
),
lg AS (SELECT r, ln(r) AS lx, ln(f) AS ly FROM ranked),
stats AS (
  SELECT count(*) AS n_words,
         list_reduce(list_prepend({dlit(0.0)}, list(lx ORDER BY r)), (a, x) -> a + x) AS sx,
         list_reduce(list_prepend({dlit(0.0)}, list(ly ORDER BY r)), (a, x) -> a + x) AS sy,
         list_reduce(list_prepend({dlit(0.0)}, list(lx * lx ORDER BY r)), (a, x) -> a + x) AS sxx,
         list_reduce(list_prepend({dlit(0.0)}, list(lx * ly ORDER BY r)), (a, x) -> a + x) AS sxy
  FROM lg
)
SELECT n_words,
       round((CAST(n_words AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_words AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (CAST(n_words AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_words AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n_words AS DOUBLE), 6) AS zipf_intercept
FROM stats WHERE n_words > 0
"""


HEAPS_CKPTS = 10


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law diagnostic — the vocabulary GROWTH companion to the
    Zipf frequency fit and the coverage curve: V(N) = K * N^beta fitted by
    log-log OLS over HEAPS_CKPTS corpus prefixes (checkpoints at fixed
    doc_id boundaries max_id*i/10, the scale-safe choice: rank-based
    deciles would need a global order statistic). beta ~0.4-0.6 for
    natural text; beta near 0 flags template/duplicate-dominated crawls
    (vocabulary stops growing), beta near 1 flags noise/ids (every token
    new) — read next to zipf_slope before sizing a tokenizer.

    One row per non-degenerate checkpoint (ckpt, n_tokens, vocab) plus
    the constant fitted columns (beta, k_coef). Determinism: prefix token
    counts and vocab sizes are EXACT integer conditional aggregates (a
    word is in prefix i iff its min doc_id <= boundary_i); ln runs on
    integer-valued doubles; the four OLS sums fold over the <=10
    checkpoints in ckpt order. Scale: the first-occurrence table is ONE
    vocabulary-sized map-side-combining min-aggregate; both conditional
    aggregates explode rows x10 (a constant) before combining map-side;
    no global window, no order statistic, no per-doc state."""
    d = fan_out(load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: F.length(x) > 0).alias("ws"),
    )
    docs = d.select("doc_id", F.size("ws").cast("bigint").alias("n_tok"))
    first = (
        d.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.min("doc_id").alias("fd"))
    )
    return heaps_fit_from(docs, first)


def heaps_fit_from(docs: DataFrame, first: DataFrame) -> DataFrame:
    """The checkpoint/OLS tail over a (doc_id, n_tok) frame and a
    (w, fd) first-occurrence table — shared with the streaming mirror:
    token counts union across batches (doc ids are unique) and first
    occurrences merge by MIN (associative/commutative), so the fit is
    arrival-order-free by construction."""
    bdf = (
        docs.agg(F.max("doc_id").alias("mx"))
        .select(
            F.explode(
                F.array(*[F.lit(i) for i in range(1, HEAPS_CKPTS + 1)])
            ).alias("ckpt"),
            "mx",
        )
        .select(
            F.col("ckpt").cast("bigint").alias("ckpt"),
            F.expr(f"(mx * ckpt) div {HEAPS_CKPTS}").alias("bnd"),
        )
    )
    nn = (
        docs.crossJoin(F.broadcast(bdf))
        .groupBy("ckpt")
        .agg(
            F.sum(F.when(F.col("doc_id") <= F.col("bnd"), F.col("n_tok")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    vv = (
        first.crossJoin(F.broadcast(bdf))
        .groupBy("ckpt")
        .agg(
            F.sum(F.when(F.col("fd") <= F.col("bnd"), F.lit(1)).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("vocab")
        )
    )
    ck = (
        nn.join(vv, "ckpt")
        .filter((F.col("n_tokens") > 0) & (F.col("vocab") > 0))
        .select(
            "ckpt",
            "n_tokens",
            "vocab",
            F.log(F.col("n_tokens").cast("double")).alias("lx"),
            F.log(F.col("vocab").cast("double")).alias("ly"),
        )
    )
    # <=10 rows, but its lineage is the whole two-aggregate pipeline and
    # BOTH the fit and the output rows consume it — materialize once
    from ..operators.checkpoints import tracked_local_checkpoint

    ck, _ = tracked_local_checkpoint(ck)
    arr = ck.agg(
        F.array_sort(F.collect_list(F.struct("ckpt", "lx", "ly"))).alias("ts"),
        F.count(F.lit(1)).alias("p"),
    ).filter(F.col("p") > 1)
    fold = lambda expr: F.aggregate("ts", F.lit(0.0), expr)  # noqa: E731
    sx = fold(lambda a, s: a + s.getField("lx"))
    sy = fold(lambda a, s: a + s.getField("ly"))
    sxx = fold(lambda a, s: a + s.getField("lx") * s.getField("lx"))
    sxy = fold(lambda a, s: a + s.getField("lx") * s.getField("ly"))
    n = F.col("p").cast("double")
    stats = arr.select(
        "p", sx.alias("sx"), sy.alias("sy"), sxx.alias("sxx"), sxy.alias("sxy")
    )
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = stats.select(
        F.round(slope, 6).alias("beta"),
        F.round(F.exp((F.col("sy") - slope * F.col("sx")) / n), 6).alias("k_coef"),
    )
    return ck.crossJoin(F.broadcast(fit)).select(
        "ckpt", "n_tokens", "vocab", "beta", "k_coef"
    )


_HEAPS_SQL = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
  FROM documents),
docs AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tok FROM d),
b AS (
  SELECT CAST(ckpt AS BIGINT) AS ckpt, (mx.mx * ckpt) // {HEAPS_CKPTS} AS bnd
  FROM (SELECT unnest(generate_series(1, {HEAPS_CKPTS})) AS ckpt) g,
       (SELECT max(doc_id) AS mx FROM docs) mx),
nn AS (
  SELECT b.ckpt,
         CAST(sum(CASE WHEN docs.doc_id <= b.bnd THEN n_tok ELSE 0 END)
              AS BIGINT) AS n_tokens
  FROM docs, b GROUP BY b.ckpt),
first_ AS (
  SELECT w, min(doc_id) AS fd
  FROM (SELECT doc_id, unnest(ws) AS w FROM d) t GROUP BY w),
vv AS (
  SELECT b.ckpt,
         CAST(sum(CASE WHEN fd <= b.bnd THEN 1 ELSE 0 END) AS BIGINT) AS vocab
  FROM first_, b GROUP BY b.ckpt),
ck AS (
  SELECT nn.ckpt, n_tokens, vocab,
         ln(CAST(n_tokens AS DOUBLE)) AS lx, ln(CAST(vocab AS DOUBLE)) AS ly
  FROM nn JOIN vv USING (ckpt)
  WHERE n_tokens > 0 AND vocab > 0),
stats AS (
  SELECT count(*) AS p,
         list_reduce(list_prepend({dlit(0.0)}, list(lx ORDER BY ckpt)),
                     (a, x) -> a + x) AS sx,
         list_reduce(list_prepend({dlit(0.0)}, list(ly ORDER BY ckpt)),
                     (a, x) -> a + x) AS sy,
         list_reduce(list_prepend({dlit(0.0)}, list(lx * lx ORDER BY ckpt)),
                     (a, x) -> a + x) AS sxx,
         list_reduce(list_prepend({dlit(0.0)}, list(lx * ly ORDER BY ckpt)),
                     (a, x) -> a + x) AS sxy
  FROM ck),
fit AS (
  SELECT round((CAST(p AS DOUBLE) * sxy - sx * sy)
               / (CAST(p AS DOUBLE) * sxx - sx * sx), 6) AS beta,
         round(exp((sy - (CAST(p AS DOUBLE) * sxy - sx * sy)
                         / (CAST(p AS DOUBLE) * sxx - sx * sx) * sx)
                   / CAST(p AS DOUBLE)), 6) AS k_coef
  FROM stats WHERE p > 1)
SELECT ck.ckpt, ck.n_tokens, ck.vocab, fit.beta, fit.k_coef
FROM ck CROSS JOIN fit
"""


# --- vocabulary coverage curve (round 5) -------------------------------------

COVERAGE_CHECKPOINTS = (50, 100, 200, 500, 1000)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level vocabulary coverage curve: what fraction of all token
    occurrences the top-N words cover, at N = 50/100/200/500/1000 — the
    size-the-vocabulary study a tokenizer design starts from (per-doc OOV
    rates are llm_vocab_coverage; this is the corpus aggregate that picks
    K in the first place). Checkpoints past the actual vocabulary clamp to
    the last rank, so the curve is total-coverage-terminated, not missing.

    Scale shape: word counts are one map-side-combining aggregate; only
    the top max(checkpoint) words rank (TakeOrderedAndProject, never a
    full vocab sort), so the window runs over <= 1000 rows. The running
    total is an EXACT int64 cumulative sum — the one float is the final
    coverage division, rounded 6 dp.
    """
    d = fan_out(load(spark, sf_dir, "documents"))
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = counts.agg(F.sum("freq").alias("total_tokens"))
    top = counts.orderBy(F.col("freq").desc(), "w").limit(
        max(COVERAGE_CHECKPOINTS)
    )
    w_ = W.orderBy(F.col("freq").desc(), "w")
    ranked = top.select(
        F.row_number().over(w_).cast("bigint").alias("rank"),
        "freq",
    ).withColumn(
        "cum",
        F.sum("freq").over(
            W.orderBy("rank").rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    vmax = ranked.agg(F.max("rank").alias("vmax"))
    cps = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(c).cast("bigint") for c in COVERAGE_CHECKPOINTS])
        ).alias("vocab_size")
    )
    eff = cps.crossJoin(F.broadcast(vmax)).select(
        "vocab_size", F.least("vocab_size", "vmax").alias("rank")
    )
    return (
        eff.join(ranked.select("rank", "cum"), "rank")
        .crossJoin(F.broadcast(total))
        .select(
            "vocab_size",
            F.col("cum").alias("cum_tokens"),
            "total_tokens",
            F.round(
                F.col("cum").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


_COVERAGE_CPS_SQL = ", ".join(f"({c})" for c in COVERAGE_CHECKPOINTS)
_COVERAGE_CURVE_SQL = f"""
WITH counts AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE len(w) > 0 GROUP BY w
),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total_tokens FROM counts),
top AS (SELECT w, freq FROM counts ORDER BY freq DESC, w LIMIT {max(COVERAGE_CHECKPOINTS)}),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank,
         freq
  FROM top
),
cum AS (
  SELECT rank, CAST(sum(freq) OVER (ORDER BY rank) AS BIGINT) AS cum
  FROM ranked
),
vmax AS (SELECT max(rank) AS vmax FROM ranked),
cps(vocab_size) AS (VALUES {_COVERAGE_CPS_SQL}),
eff AS (
  SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
         least(CAST(vocab_size AS BIGINT), vmax) AS rank
  FROM cps CROSS JOIN vmax
)
SELECT eff.vocab_size, cum.cum AS cum_tokens, tot.total_tokens,
       round(CAST(cum.cum AS DOUBLE) / CAST(tot.total_tokens AS DOUBLE), 6) AS coverage
FROM eff JOIN cum ON eff.rank = cum.rank CROSS JOIN tot
"""


# --- per-domain quota sampling (round 5) -------------------------------------

QUOTA_PER_SOURCE = 10


def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota curation: keep at most QUOTA docs per source,
    chosen by quality score (doc_id tiebreak) — the anti-domination cap a
    pretraining mix applies so one crawl domain can't swamp the corpus.
    Complements stratified (fixed fractions) and weighted (global scores)
    sampling: this one is a per-group TOP-K BY QUALITY.

    Scale shape: one shuffle on source, per-group rank, no global sort.
    A skewed mega-domain makes one hot partition — at 100 TB the rank
    runs per (source, salt) first and re-ranks the QUOTA*salts survivors
    (same two-phase trick as top-k); domains here are tiny so the direct
    window is the right plan.
    """
    d = load(spark, sf_dir, "documents").withColumn(
        "q", quality_score(F.col("text"))
    )
    w = W.partitionBy("source").orderBy(F.col("q").desc(), "doc_id")
    return (
        d.withColumn("src_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("src_rank") <= QUOTA_PER_SOURCE)
        .select("source", "doc_id", "q", "src_rank")
    )


_QUOTA_SQL = f"""
SELECT source, doc_id, q, CAST(src_rank AS BIGINT) AS src_rank FROM (
  SELECT source, doc_id, {quality_score_sql('text')} AS q,
         row_number() OVER (PARTITION BY source
                            ORDER BY {quality_score_sql('text')} DESC, doc_id) AS src_rank
  FROM documents) t
WHERE src_rank <= {QUOTA_PER_SOURCE}
"""


# --- audio frame energy / silence detection (round 5) ------------------------

AUDIO_SILENCE_ENERGY = 100_000_000


def audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame audio energy + silence flag over REAL WAV bytes — the
    voice-activity primitive an audio-curation pass runs before keeping or
    trimming clips. The Arrow kernel (operators/multimodal.py:frame_energy)
    re-parses the genuine RIFF chunk list; energy is the EXACT int64 sum
    of squared samples per frame, so the only float is the rms sqrt.
    The silence threshold applies JVM-side on the exact integer.

    Oracle recomputes every frame closed-form from the synthetic sample
    formula (md5 digest bytes as little-endian int16s) without touching
    payload bytes — full byte-format round-trip value check.
    """
    from ..operators.multimodal import attach_wav_payload, frame_energy

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    fe = frame_energy(attach_wav_payload(d))
    return fe.select(
        "doc_id",
        "frame_idx",
        "channels",
        "energy",
        F.round("rms", 6).alias("rms"),
        (F.col("energy") < F.lit(AUDIO_SILENCE_ENERGY)).alias("is_silence"),
    )


def _audio_energy_sql() -> str:
    s = "md5(text)"

    def sq(k: int) -> str:
        a = _md5_abs_i16_sql(s, k)
        return f"({a} * {a})"

    selects = []
    for f in range(8):
        mono = sq(f)
        if 2 * f + 1 < 8:
            stereo = f"({sq(2 * f)} + {sq(2 * f + 1)})"
        else:
            stereo = "0"  # dead: stereo docs have only 4 frames
        selects.append(
            f"SELECT doc_id, CAST({f} AS INTEGER) AS frame_idx, "
            f"CAST(doc_id % 2 + 1 AS INTEGER) AS channels, "
            f"CAST(CASE WHEN doc_id % 2 = 0 THEN {mono} ELSE {stereo} END AS BIGINT) AS energy "
            f"FROM documents WHERE doc_id < 300 AND {f} < 8 // (doc_id % 2 + 1)"
        )
    base = " UNION ALL ".join(selects)
    return f"""
SELECT doc_id, frame_idx, channels, energy,
       round(sqrt(CAST(energy AS DOUBLE) / CAST(channels AS DOUBLE)), 6) AS rms,
       energy < {AUDIO_SILENCE_ENERGY} AS is_silence
FROM ({base}) t
"""


# --- audio near-dup: energy-envelope fingerprint banding (round 8) -----------

AUDIO_ND_MAX_HAMMING = 2
# 3 bands over the 8 envelope chars; Hamming <= 2 touches <= 2 bands, so
# at least one band matches exactly (pigeonhole) — the band-blocked join
# is RECALL-COMPLETE for the envelope metric, like image_near_dup.
AUDIO_ENV_BANDS: tuple[tuple[int, int], ...] = ((1, 3), (4, 3), (7, 2))


def audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs — closes the audio modality the way
    image_near_dup closed images: energy-envelope fingerprint (one hex
    level per PCM16 sample, integer-threshold quantized — see
    operators/multimodal.py:audio_envelope) -> band-blocked equi-join ->
    exact Hamming verify <= AUDIO_ND_MAX_HAMMING.

    Scale shape: each clip ships only its 8-char fingerprint, exploded
    into 3 (band_id, band_value) keys; candidates come from the equi-join
    on that key (content-subdivided buckets — skew-safe where a
    duration/sample-rate block is not), dedup on the pair before the
    8-comparison codegen verify. Pigeonhole makes the block exact for the
    metric, so the output equals a true all-pairs Hamming join (pinned by
    the brute-force pytest). Oracle recomputes the envelope closed-form
    from the synthetic sample formula without touching payload bytes."""
    from ..operators.multimodal import attach_wav_payload, audio_envelope

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    env = audio_envelope(attach_wav_payload(d))
    bands = env.select(
        "doc_id",
        "envelope",
        F.posexplode(
            F.array(
                *[F.substring("envelope", st, ln) for st, ln in AUDIO_ENV_BANDS]
            )
        ).alias("band", "key"),
    )
    cand = band_pairs(bands, carry=("envelope",))
    ham = sum(
        F.when(
            F.substring("envelope_a", i + 1, 1)
            != F.substring("envelope_b", i + 1, 1),
            1,
        ).otherwise(0)
        for i in range(8)
    ).cast("bigint")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= AUDIO_ND_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def _audio_envelope_char_sql(k: int) -> str:
    """Hex level char of sample k's energy, closed-form from md5(text)."""
    a = _md5_abs_i16_sql("md5(text)", k)
    e = f"({a} * {a})"
    lvl = " + ".join(
        f"CASE WHEN {e} >= {4 ** j} THEN 1 ELSE 0 END" for j in range(1, 16)
    )
    return f"substr('0123456789abcdef', ({lvl}) + 1, 1)"


def _audio_near_dup_sql() -> str:
    env = " || ".join(_audio_envelope_char_sql(k) for k in range(8))
    band_rows = ", ".join(
        f"({i}, {st}, {ln})" for i, (st, ln) in enumerate(AUDIO_ENV_BANDS)
    )
    ham = " + ".join(
        f"CASE WHEN substr(env_a, {i + 1}, 1) != substr(env_b, {i + 1}, 1)"
        " THEN 1 ELSE 0 END"
        for i in range(8)
    )
    return f"""
WITH env AS MATERIALIZED (
  SELECT doc_id, {env} AS envelope
  FROM documents WHERE doc_id < 300
),
bands AS (
  SELECT doc_id, envelope, bd.band_id,
         substr(envelope, bd.start, bd.len) AS band_val
  FROM env, (VALUES {band_rows}) bd(band_id, start, len)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.envelope AS env_a, b.envelope AS env_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS BIGINT) AS hamming
FROM cand WHERE {ham} <= {AUDIO_ND_MAX_HAMMING}
"""


# --- MMR diversified re-ranking (round 5) ------------------------------------

MMR_LAMBDA = 0.7
MMR_POOL = 10  # candidate pool (exact top-k for the query)
MMR_SELECT = 5  # greedy picks


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from the exact cosine top-10
    for query vector 0, greedily pick 5 results maximizing
    lambda*sim(q,c) - (1-lambda)*max_{s in S} sim(c,s) — the diversity
    pass a RAG retriever runs so five near-identical chunks don't fill
    the context window.

    Scale shape: the expensive part (corpus-wide top-k) is the already
    scale-shaped retrieval leg; MMR itself runs on the K-candidate pool —
    the K x K pairwise sims are computed ONCE (tiny broadcast cross join)
    and each greedy step is an anti-join + max-aggregate over <= K rows.
    The greedy loop is unrolled MMR_SELECT times (fixed plan depth, no
    driver collect). Determinism: every sim rounds 6 dp before any
    comparison; argmax tiebreak on c_id; scores recomputed identically in
    the oracle's unrolled CTE chain.
    """
    e = _emb_ok(spark, sf_dir)
    v = to_double(F.col("embedding"))
    q = e.filter(F.col("vec_id") == 0).select(v.alias("q_vec"))
    c = e.filter(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("c_id"), v.alias("c_vec")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "c_id",
        "c_vec",
        F.round(cosine(F.col("c_vec"), F.col("q_vec")), 6).alias("q_sim"),
    )
    cand = scored.orderBy(F.col("q_sim").desc(), "c_id").limit(MMR_POOL)
    # the K-row pool feeds every unrolled greedy step: checkpoint it once
    # so the corpus-wide top-k subplan doesn't re-execute per step
    from ..operators.checkpoints import tracked_local_checkpoint

    cand, _ = tracked_local_checkpoint(cand)
    a = cand.select(F.col("c_id").alias("a"), F.col("c_vec").alias("va"))
    b = cand.select(F.col("c_id").alias("b"), F.col("c_vec").alias("vb"))
    ps = (
        a.crossJoin(b)
        .filter(F.col("a") != F.col("b"))
        .select(
            "a", "b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("sim")
        )
    )
    # the K*K pairwise-sim frame feeds every greedy step — materialize its
    # ~K^2 rows once instead of re-deriving the cross join per step
    ps, _ = tracked_local_checkpoint(ps)
    pool = cand.select("c_id", "q_sim")
    lam, inv = F.lit(MMR_LAMBDA), F.lit(1.0 - MMR_LAMBDA)
    selected = (
        pool.orderBy(F.col("q_sim").desc(), "c_id")
        .limit(1)
        .select(
            "c_id",
            F.lit(1).cast("bigint").alias("mmr_rank"),
            F.round(lam * F.col("q_sim"), 6).alias("mmr_score"),
        )
    )
    from ..operators.checkpoints import release

    prev_ids: set[int] = set()
    for step in range(2, MMR_SELECT + 1):
        # each step references `selected` twice (anti-join + max-sim), so
        # without a per-step lineage cut the unrolled plan DOUBLES per
        # step (2^MMR_SELECT replays of the retrieval leg) — the ladder
        # materializes <= MMR_SELECT rows per step. Each new rung is
        # self-contained once materialized, so the superseded rung is
        # released immediately (the fitter-ladder discipline) instead of
        # pinning MMR_SELECT obsolete frames until teardown.
        selected, ids = tracked_local_checkpoint(selected)
        if prev_ids:
            release(spark, prev_ids)
        prev_ids = ids
        remaining = pool.join(selected.select("c_id"), "c_id", "left_anti")
        mx = (
            ps.join(selected.select(F.col("c_id").alias("b")), "b")
            .groupBy("a")
            .agg(F.max("sim").alias("mx"))
        )
        pick = (
            remaining.join(mx, remaining.c_id == mx.a)
            .select(
                "c_id",
                F.round(lam * F.col("q_sim") - inv * F.col("mx"), 6).alias(
                    "score"
                ),
            )
            .orderBy(F.col("score").desc(), "c_id")
            .limit(1)
            .select(
                "c_id",
                F.lit(step).cast("bigint").alias("mmr_rank"),
                F.col("score").alias("mmr_score"),
            )
        )
        selected = selected.unionAll(pick)
    return selected


def _mmr_sql() -> str:
    lam, inv = dlit(MMR_LAMBDA), dlit(1.0 - MMR_LAMBDA)
    parts = [
        f"""cand AS (
  SELECT c_id, c_vec, q_sim FROM (
    SELECT e.vec_id AS c_id, e.vec AS c_vec,
           round({cosine_sql('e.vec', 'qv.q_vec')}, 6) AS q_sim
    FROM (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
          WHERE vec_id != 0 AND len(embedding) = {EMB_DIM}) e
    CROSS JOIN (SELECT embedding::DOUBLE[] AS q_vec FROM embeddings
                WHERE vec_id = 0 AND len(embedding) = {EMB_DIM}) qv) t
  ORDER BY q_sim DESC, c_id LIMIT {MMR_POOL}
)""",
        f"""ps AS (
  SELECT x.c_id AS a, y.c_id AS b,
         round({cosine_sql('x.c_vec', 'y.c_vec')}, 6) AS sim
  FROM cand x CROSS JOIN cand y WHERE x.c_id != y.c_id
)""",
        f"""sel1 AS (
  SELECT c_id, CAST(1 AS BIGINT) AS mmr_rank,
         round({lam} * q_sim, 6) AS mmr_score
  FROM cand ORDER BY q_sim DESC, c_id LIMIT 1
)""",
    ]
    for step in range(2, MMR_SELECT + 1):
        prev = f"sel{step - 1}"
        parts.append(
            f"""pick{step} AS (
  SELECT r.c_id, CAST({step} AS BIGINT) AS mmr_rank,
         round({lam} * r.q_sim - {inv} * m.mx, 6) AS mmr_score
  FROM cand r
  JOIN (SELECT a, max(sim) AS mx FROM ps
        WHERE b IN (SELECT c_id FROM {prev}) GROUP BY a) m ON r.c_id = m.a
  WHERE r.c_id NOT IN (SELECT c_id FROM {prev})
  ORDER BY mmr_score DESC, r.c_id LIMIT 1
)""",
        )
        parts.append(
            f"sel{step} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{step})"
        )
    body = ",\n".join(parts)
    return f"WITH {body}\nSELECT c_id, mmr_rank, mmr_score FROM sel{MMR_SELECT}"


# --- hard-negative mining (round 5) ------------------------------------------


def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives: documents the LEXICAL leg
    ranks in its top-k but the SEMANTIC leg does not — lexically
    confusable, semantically off, exactly the negatives an embedding
    trainer wants. The complement of llm_rrf_fusion over the same two
    legs: fusion rewards agreement, this harvests disagreement.

    Scale shape: both legs are already top-k (TakeOrderedAndProject);
    the mining is a k-row anti-join. Output re-ranks the survivors by
    lexical rank (exact ints end to end — the only floats are the legs'
    own rounded scores, passed through).
    """
    lex = bm25_topk(spark, sf_dir).select(
        "doc_id", "bm25", F.col("rank").alias("lex_rank")
    )
    sem = _sem_leg(spark, sf_dir, RRF_TOPK)
    mined = lex.join(sem.select("doc_id"), "doc_id", "left_anti")
    w = W.orderBy("lex_rank")
    return mined.select(
        "doc_id",
        "bm25",
        "lex_rank",
        F.row_number().over(w).cast("bigint").alias("neg_rank"),
    )


_HARDNEG_SQL = f"""
WITH lex AS (
  SELECT doc_id, bm25, rank AS lex_rank FROM ({_BM25_SQL}) lt
),
emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
  WHERE vec_id < {BM25_MAX_ID} AND len(embedding) = {EMB_DIM}
),
qv AS (SELECT vec AS q_vec FROM emb WHERE vec_id = 0),
sem AS (
  SELECT doc_id FROM (
    SELECT e.vec_id AS doc_id,
           row_number() OVER (
             ORDER BY round({cosine_sql('e.vec', 'qv.q_vec')}, 6) DESC, e.vec_id) AS rank
    FROM emb e CROSS JOIN qv WHERE e.vec_id != 0) st
  WHERE rank <= {RRF_TOPK}
)
SELECT doc_id, bm25, lex_rank,
       CAST(row_number() OVER (ORDER BY lex_rank) AS BIGINT) AS neg_rank
FROM lex WHERE doc_id NOT IN (SELECT doc_id FROM sem)
"""


# --- embedding-space outlier detection (round 5) -----------------------------

EMB_OUTLIER_Z = -1.5


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality filter: each vector's cosine to its OWN
    label centroid, z-scored within the label — vectors far below their
    cluster's typical self-similarity are mislabeled/noisy candidates the
    curation pass reviews before training. The z-score discipline of
    llm_zscore_groups applied to the ivf_centroids kernel.

    Scale shape: centroids are one (label, dim) aggregate (broadcast
    back); sims are map-side; the per-label mean/std is a second bounded
    aggregate with sequential folds over members sorted by vec_id.
    Labels with zero sim spread (degenerate) drop out identically in
    both engines via the std > 0 guard.
    """
    from ..operators.similarity import ivf_centroids

    e = _emb_ok(spark, sf_dir)
    cents = ivf_centroids(e, EMB_DIM).select(
        "label", F.col("centroid").alias("cvec")
    )
    v = e.select("vec_id", "label", to_double(F.col("embedding")).alias("vec"))
    sims = v.join(F.broadcast(cents), "label").select(
        "vec_id",
        "label",
        F.round(cosine(F.col("vec"), F.col("cvec")), 6).alias("sim"),
    )
    per = sims.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "sim"))).alias("xs"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = F.aggregate(
        "xs", F.lit(0.0), lambda a, s: a + s.getField("sim")
    ) / F.col("n").cast("double")
    stats = per.select("label", mean.alias("mu"), "xs", "n")
    var = F.aggregate(
        "xs",
        F.lit(0.0),
        lambda a, s: a
        + (s.getField("sim") - F.col("mu")) * (s.getField("sim") - F.col("mu")),
    ) / F.col("n").cast("double")
    stats = stats.select("label", "mu", F.sqrt(var).alias("sd"))
    return (
        sims.join(F.broadcast(stats), "label")
        .filter(F.col("sd") > 0.0)
        .select(
            "vec_id",
            "label",
            "sim",
            F.round((F.col("sim") - F.col("mu")) / F.col("sd"), 6).alias("z"),
        )
        .withColumn("is_outlier", F.col("z") < F.lit(EMB_OUTLIER_Z))
    )


_EMB_OUTLIER_SQL = f"""
WITH emb AS (SELECT * FROM embeddings WHERE len(embedding) = {EMB_DIM}),
ex AS (
  SELECT label, vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM emb, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
cent AS (
  SELECT label, pos,
         list_reduce(list(x ORDER BY vec_id), (acc, y) -> acc + y) / count(*) AS m
  FROM ex GROUP BY label, pos
),
cents AS (SELECT label, list(m ORDER BY pos) AS cvec FROM cent GROUP BY label),
v AS (SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM emb),
sims AS (
  SELECT v.vec_id, v.label,
         round({cosine_sql('v.vec', 'cents.cvec')}, 6) AS sim
  FROM v JOIN cents ON v.label = cents.label
),
st AS (
  SELECT label,
         list_reduce(list_prepend({dlit(0.0)}, list(sim ORDER BY vec_id)),
                     (a, x) -> a + x) / CAST(count(*) AS DOUBLE) AS mu,
         count(*) AS n
  FROM sims GROUP BY label
),
st2 AS (
  SELECT s.label, st.mu,
         sqrt(list_reduce(list_prepend({dlit(0.0)},
                list((s.sim - st.mu) * (s.sim - st.mu) ORDER BY s.vec_id)),
              (a, x) -> a + x) / CAST(st.n AS DOUBLE)) AS sd
  FROM sims s JOIN st ON s.label = st.label
  GROUP BY s.label, st.mu, st.n
)
SELECT sims.vec_id, sims.label, sims.sim,
       round((sims.sim - st2.mu) / st2.sd, 6) AS z,
       round((sims.sim - st2.mu) / st2.sd, 6) < {dlit(EMB_OUTLIER_Z)} AS is_outlier
FROM sims JOIN st2 ON sims.label = st2.label
WHERE st2.sd > {dlit(0.0)}
"""


# --- class-based TF-IDF keywords (round 5) -----------------------------------

CTFIDF_TOPK = 5


def ctfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF (the BERTopic c-TF-IDF shape): treat each source
    as one concatenated class document, score terms by
    tf_class * ln(1 + A / f_w) with A = average words per class and f_w =
    the term's corpus-wide count, and keep the top-5 keywords per class —
    the label-the-clusters step after any grouping (here the crawl
    source; the same plan labels k-means or semdedup cells).

    Scale shape: two map-side-combining aggregates (term-per-class and
    term-global) plus one tiny 1-row stats broadcast; top-k per class is
    a bounded window over the class's own vocabulary. Exact int counts;
    one double formula; round 6 before ranking.
    """
    d = fan_out(load(spark, sf_dir, "documents"))
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") > 0)
    tf = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("tf"))
    fw = tf.groupBy("w").agg(F.sum("tf").alias("fw"))
    stats = tf.groupBy("source").agg(F.sum("tf").alias("cw")).agg(
        (
            F.sum("cw").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("a")
    )
    score = F.round(
        F.col("tf").cast("double")
        * F.log(F.lit(1.0) + F.col("a") / F.col("fw").cast("double")),
        6,
    )
    scored = (
        tf.join(F.broadcast(fw), "w")
        .crossJoin(F.broadcast(stats))
        .select("source", "w", "tf", score.alias("ctfidf"))
    )
    w_ = W.partitionBy("source").orderBy(F.col("ctfidf").desc(), "w")
    return (
        scored.withColumn("kw_rank", F.row_number().over(w_).cast("bigint"))
        .filter(F.col("kw_rank") <= CTFIDF_TOPK)
    )


_CTFIDF_SQL = f"""
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
tf AS (
  SELECT source, w, count(*) AS tf FROM toks WHERE len(w) > 0
  GROUP BY source, w
),
fw AS (SELECT w, sum(tf) AS fw FROM tf GROUP BY w),
stats AS (
  SELECT CAST(sum(cw) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS a
  FROM (SELECT source, sum(tf) AS cw FROM tf GROUP BY source) t
),
scored AS (
  SELECT tf.source, tf.w, CAST(tf.tf AS BIGINT) AS tf,
         round(CAST(tf.tf AS DOUBLE)
               * ln({dlit(1.0)} + stats.a / CAST(fw.fw AS DOUBLE)), 6) AS ctfidf
  FROM tf JOIN fw ON tf.w = fw.w CROSS JOIN stats
)
SELECT source, w, tf, ctfidf, CAST(kw_rank AS BIGINT) AS kw_rank FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY ctfidf DESC, w) AS kw_rank
  FROM scored) t
WHERE kw_rank <= {CTFIDF_TOPK}
"""


# --- PCA power iteration (round 5) -------------------------------------------

PCA_V0 = 0.125  # 1/sqrt(64): exact in binary, so the seed adds no noise


def pca_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: u = X^T (X v0) from the deterministic uniform unit seed,
    reported as the normalized 64-dim loading vector — the embedding-drift
    /anisotropy probe (and the building block of iterative PCA, which
    loops this plan with a localCheckpoint per step like kmeans_refine).

    Scale shape per step: the projection s_i = <x_i, v0> is map-side (v0
    is a literal); u is ONE (dim)-keyed aggregate — 64 groups however big
    the corpus; the normalization is a 1-row broadcast. Nothing all-pairs,
    no driver matrices. Determinism: both the per-vector projection and
    the per-dim accumulation are sequential folds (vec order / vec_id
    order); round 6 only at output.
    """
    e = _emb_ok(spark, sf_dir)
    v = e.select("vec_id", to_double(F.col("embedding")).alias("vec"))
    s = v.select(
        "vec_id",
        "vec",
        F.aggregate(
            F.transform("vec", lambda x: x * F.lit(PCA_V0)),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("s"),
    )
    ex = s.select(
        "vec_id", "s", F.posexplode("vec").alias("pos", "x")
    )
    u = (
        ex.select(
            "pos", F.struct("vec_id", (F.col("s") * F.col("x")).alias("t")).alias("st")
        )
        .groupBy("pos")
        .agg(F.array_sort(F.collect_list("st")).alias("sts"))
        .select(
            "pos",
            F.aggregate("sts", F.lit(0.0), lambda a, s_: a + s_.getField("t")).alias("u"),
        )
    )
    nrm = u.agg(
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "u"))),
                    lambda s_: s_.getField("u") * s_.getField("u"),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("nrm")
    )
    return u.crossJoin(F.broadcast(nrm)).select(
        F.col("pos").cast("bigint").alias("pos"),
        F.round(F.col("u") / F.col("nrm"), 6).alias("loading"),
    )


_PCA_SQL = f"""
WITH emb AS (SELECT vec_id, embedding FROM embeddings WHERE len(embedding) = {EMB_DIM}),
s AS (
  SELECT vec_id,
         list_reduce(list_prepend({dlit(0.0)},
           [CAST(embedding[i] AS DOUBLE) * {dlit(PCA_V0)}
            for i in generate_series(1, len(embedding))]),
           (a, x) -> a + x) AS s
  FROM emb
),
ex AS (
  SELECT e.vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM emb e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
u AS (
  SELECT pos,
         list_reduce(list_prepend({dlit(0.0)},
           list(s.s * ex.x ORDER BY ex.vec_id)), (a, x) -> a + x) AS u
  FROM ex JOIN s USING (vec_id) GROUP BY pos
),
n AS (
  SELECT sqrt(list_reduce(list_prepend({dlit(0.0)},
           list(u * u ORDER BY pos)), (a, x) -> a + x)) AS nrm
  FROM u
)
SELECT CAST(pos AS BIGINT) AS pos, round(u / nrm, 6) AS loading
FROM u CROSS JOIN n
"""


# --- corpus-internal repeated spans: winnowing fingerprints (round 6) ---------
#
# Lee et al. ("Deduplicating Training Data Makes Language Models Better")
# style exact repeated-span detection WITHIN the corpus itself — licence
# blocks, navigation chrome, quoted passages inside otherwise-unique docs —
# via Schleimer et al.'s winnowing (SIGMOD'03): hash every word-K-gram,
# slide a window of W consecutive gram hashes, select the minimum per
# window (ties: rightmost). Guarantee: any repeated run of
# >= K + W - 1 words shares at least one selected fingerprint, while only
# ~2/(W+1) of grams are selected — the index is ~2.5x smaller than the
# full gram set at W=4 with zero recall loss above the guarantee length.

WINNOW_K = 8  # words per gram (a "long" shingle: spans, not topic overlap)
WINNOW_W = 4  # winnowing window, in gram positions
# Matched fingerprints closer than this merge into one span. Equals the
# guarantee length K+W-1, and is >= K-1, so merged spans never overlap
# (adjacent islands are > GAP positions apart but extend only K-1 words).
SPAN_MERGE_GAP = WINNOW_K + WINNOW_W - 1
_WINNOW_POSBASE = 1_000_000_000  # > any gram position; makes min() pick max pos


def _winnow_fp_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnow-selected fingerprints: distinct (doc_id, fp_pos, h, gram).

    The per-window argmin (min hash, ties -> rightmost position) is ONE
    string min over a composed key ``md5(gram) || lpad(POSBASE - pos) ||
    gram``: the fixed-width hash prefix orders by hash, the fixed-width
    inverted-position middle breaks ties toward the RIGHTMOST gram (bigger
    pos => smaller lpad field), and the gram tail rides along so the
    verify step never re-reads the document. Both engines compare strings
    bytewise, so the selection is bitwise identical.

    Scale shape: gram construction is codegen'd projection after one
    explode (the exploded_shingles idiom, functions/text.py:90); the
    sliding window is a doc_id-partitioned window frame of W rows — ONE
    shuffle on doc_id, O(W) frame state; distinct folds the ~P-W+1 window
    rows to the ~2P/(W+1) expected selected set before anything joins.
    """
    d = fan_out(load(spark, sf_dir, "documents"))
    return winnow_fp_from(d)


def winnow_fp_from(
    d: DataFrame, k: int = WINNOW_K, w_win: int = WINNOW_W
) -> DataFrame:
    """DataFrame-input form of :func:`_winnow_fp_rows` — shared with the
    streaming incremental repeated-span pipeline, which winnows one
    micro-batch at a time (streaming/documents_stream.py). ``k``/``w_win``
    parameterize the gram length and winnow window for the K-sensitivity
    sweep (defaults reproduce the canonical pipeline bitwise)."""
    d = d.select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    # npos (the last gram position) IS the sequence upper bound — carried
    # per row from the explode instead of a second max-over-doc window pass
    grams = d.select(
        "doc_id",
        w.alias("__w"),
        F.greatest(F.size(w) - (k - 1), F.lit(1)).alias("npos"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size(w) - (k - 1), F.lit(1)))
        ).alias("pos"),
    ).select(
        "doc_id",
        "pos",
        "npos",
        F.concat_ws(
            " ", *[F.get("__w", F.col("pos") + j - 1) for j in range(k)]
        ).alias("gram"),
    )
    # The selection key is DEFINED (and oracle-evaluated) as the string
    # md5(gram) || lpad(POSBASE - pos, 10, '0') || gram; a struct with the
    # same three segments orders identically (each segment is fixed-width
    # or compared only on ties), so min(struct) selects the same site —
    # without building a per-gram composite string or re-parsing it with
    # three substrings afterward.
    key = F.struct(
        F.md5("gram").alias("h"),
        (F.lit(_WINNOW_POSBASE) - F.col("pos")).cast("bigint").alias("ip"),
        F.col("gram").alias("g"),
    )
    frame = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, w_win - 1)
    )
    sel = grams.select(
        "pos",
        "doc_id",
        "npos",
        F.min(key).over(frame).alias("wkey"),
    ).filter(
        # full windows only: window starts past npos-(W-1) are suffixes of
        # the last full window (docs shorter than W grams keep their one
        # truncated window — winnowing of a short doc is its global min)
        F.col("pos")
        <= F.greatest(F.col("npos") - (w_win - 1), F.lit(1))
    )
    return sel.select(
        "doc_id",
        (F.lit(_WINNOW_POSBASE) - F.col("wkey.ip")).alias("fp_pos"),
        F.col("wkey.h").alias("h"),
        F.col("wkey.g").alias("gram"),
    ).distinct()


def _winnow_fp_sql(k: int = WINNOW_K, w_win: int = WINNOW_W) -> str:
    """SQL twin of :func:`winnow_fp_from`, parameterized the same way."""
    return f"""
SELECT DISTINCT doc_id,
       {_WINNOW_POSBASE} - CAST(substr(wkey, 33, 10) AS BIGINT) AS fp_pos,
       substr(wkey, 1, 32) AS h,
       substr(wkey, 43) AS gram
FROM (
  SELECT doc_id, pos,
         min(md5(gram) || lpad(CAST({_WINNOW_POSBASE} - pos AS VARCHAR), 10, '0')
             || gram)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w_win - 1} FOLLOWING) AS wkey,
         max(pos) OVER (PARTITION BY doc_id) AS npos
  FROM (
    SELECT doc_id, i AS pos,
           array_to_string((w)[i:i+{k - 1}], ' ') AS gram
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
         LATERAL (SELECT unnest(generate_series(
                    1, greatest(len(w) - {k - 1}, 1))) AS i) t
  ) g
) s
WHERE pos <= greatest(npos - {w_win - 1}, 1)
"""


_WINNOW_FP_SQL = _winnow_fp_sql()


def winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing fingerprint stats: gram count, selected count,
    selection density. Theory says density -> 2/(W+1) = 0.4 on random
    text; a doc whose density collapses is internally repetitive (many
    windows agree on one min). Exposes the selection machinery behind
    llm_repeated_spans as its own oracle-checked query.
    """
    fps = _winnow_fp_rows(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    n_grams = d.select(
        "doc_id",
        F.greatest(F.size(w) - (WINNOW_K - 1), F.lit(1))
        .cast("bigint")
        .alias("n_grams"),
    )
    n_sel = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_selected"))
    return n_grams.join(n_sel, "doc_id").select(
        "doc_id",
        "n_grams",
        "n_selected",
        F.round(
            F.col("n_selected").cast("double") / F.col("n_grams").cast("double"), 6
        ).alias("density"),
    )


_WINNOW_STATS_SQL = f"""
WITH fp AS ({_WINNOW_FP_SQL}),
ng AS (
  SELECT doc_id,
         CAST(greatest(len(string_split(text, ' ')) - {WINNOW_K - 1}, 1) AS BIGINT)
           AS n_grams
  FROM documents),
ns AS (SELECT doc_id, count(*) AS n_selected FROM fp GROUP BY doc_id)
SELECT ng.doc_id, ng.n_grams, CAST(ns.n_selected AS BIGINT) AS n_selected,
       round(CAST(ns.n_selected AS DOUBLE) / CAST(ng.n_grams AS DOUBLE), 6)
         AS density
FROM ng JOIN ns ON ng.doc_id = ns.doc_id
"""


def repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal repeated-span accounting: for every doc containing
    at least one span repeated ANYWHERE in the corpus (another doc or
    elsewhere in the same doc), report how many merged spans it has and
    what fraction of its words they cover — the scrub ledger a Lee
    et al.-style span-dedup pass would act on.

    A fingerprint is "repeated" when its exact gram is winnow-selected at
    >= 2 distinct (doc, pos) sites. The repeat test is a COUNT WINDOW
    over (h, gram) — one pass over the single winnow subtree, the same
    move span_scrub_apply measured at 17.7 s -> 3 s (a groupBy + join
    back computes the whole winnow pipeline twice; measured again here:
    3.3 s -> 2.2 s at sf0.1). Same structural properties as the group
    form: hash-collision verification is structural (same h, different
    gram lands in a different partition) and hot grams cost F window
    rows, never F^2 join pairs. Matched positions then
    merge into spans per doc via gaps-and-islands (window lag + running
    sum: one doc_id shuffle, reusing the fingerprint table's partitioning),
    islands closer than SPAN_MERGE_GAP fuse, and each island extends K-1
    words past its last fingerprint. Island spacing > GAP >= K-1
    guarantees merged spans never overlap, so the per-doc word sum never
    double-counts (least() clips the lone truncated-gram case of docs
    shorter than K words).
    """
    fps = _winnow_fp_rows(spark, sf_dir)
    wg = W.partitionBy("h", "gram")
    matched = (
        fps.withColumn("n_occ", F.count(F.lit(1)).over(wg))
        .filter(F.col("n_occ") >= 2)
        .select("doc_id", "fp_pos")
        .distinct()
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return repeated_span_accounting(matched, d)


def _merge_islands(matched: DataFrame, gap: int = SPAN_MERGE_GAP) -> DataFrame:
    """Gaps-and-islands merge of matched (doc_id, fp_pos) sites: sites
    closer than ``gap`` (default SPAN_MERGE_GAP) fuse into one island;
    returns (doc_id, island, s, e). Shared by repeated_span_accounting and
    span_scrub_apply so the merge semantics can never drift apart."""
    order = W.partitionBy("doc_id").orderBy("fp_pos")
    run = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        matched.withColumn("prev", F.lag("fp_pos").over(order))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev").isNull()
                | (F.col("fp_pos") - F.col("prev") > gap),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(run))
        .groupBy("doc_id", "island")
        .agg(F.min("fp_pos").alias("s"), F.max("fp_pos").alias("e"))
    )


def repeated_span_accounting(
    matched: DataFrame,
    docs: DataFrame,
    k: int = WINNOW_K,
    gap: int = SPAN_MERGE_GAP,
) -> DataFrame:
    """Gaps-and-islands span merge + per-doc scrub ledger over matched
    (doc_id, fp_pos) fingerprint sites — shared by the batch query above
    and the streaming incremental pipeline, which accumulates the matched
    sites across micro-batches (streaming/documents_stream.py).
    ``k``/``gap`` parameterize span extension and island fusing for the
    K-sensitivity sweep (defaults reproduce the canonical pipeline)."""
    doc_words = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("doc_words")
    )
    return repeated_span_accounting_words(matched, doc_words, k=k, gap=gap)


def repeated_span_accounting_words(
    matched: DataFrame,
    doc_words: DataFrame,
    k: int = WINNOW_K,
    gap: int = SPAN_MERGE_GAP,
) -> DataFrame:
    """The accounting over a precomputed (doc_id, doc_words) frame — the
    entry point for streams that landed word counts as per-batch partials
    and must not re-read raw text at emission time."""
    per_doc = _merge_islands(matched, gap=gap).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + k).cast("bigint").alias("raw_words"),
    )
    return per_doc.join(doc_words, "doc_id").select(
        "doc_id",
        "n_spans",
        F.least(F.col("raw_words"), F.col("doc_words")).alias("span_words"),
        "doc_words",
        F.round(
            F.least(F.col("raw_words"), F.col("doc_words")).cast("double")
            / F.col("doc_words").cast("double"),
            6,
        ).alias("repeated_frac"),
    )


def _islands_cte_sql(src: str, gap: int = SPAN_MERGE_GAP, sfx: str = "") -> str:
    """The flagged -> isl -> spans CTE chain (gaps-and-islands merge) over a
    (doc_id, fp_pos) source CTE — the SQL twin of ``_merge_islands``, shared
    by _REPEATED_SPANS_SQL and _SPAN_SCRUB_SQL so the merge semantics can
    never drift between the two oracles. ``sfx`` suffixes the CTE names so
    the K-sweep oracle can instantiate the chain once per K in one WITH."""
    return f"""flagged{sfx} AS (
  SELECT doc_id, fp_pos,
         CASE WHEN lag(fp_pos) OVER w IS NULL
                   OR fp_pos - lag(fp_pos) OVER w > {gap}
              THEN 1 ELSE 0 END AS new_island
  FROM {src}
  WINDOW w AS (PARTITION BY doc_id ORDER BY fp_pos)),
isl{sfx} AS (
  SELECT doc_id, fp_pos,
         sum(new_island) OVER (PARTITION BY doc_id ORDER BY fp_pos
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged{sfx}),
spans0{sfx} AS (
  SELECT doc_id, island, min(fp_pos) AS s, max(fp_pos) AS e
  FROM isl{sfx} GROUP BY doc_id, island)"""


_REPEATED_SPANS_SQL = f"""
WITH fp AS ({_WINNOW_FP_SQL}),
rep AS (
  SELECT h, gram FROM fp GROUP BY h, gram HAVING count(*) >= 2),
matched AS (
  SELECT DISTINCT fp.doc_id, fp.fp_pos
  FROM fp SEMI JOIN rep ON fp.h = rep.h AND fp.gram = rep.gram),
{_islands_cte_sql('matched')},
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s + {WINNOW_K}) AS BIGINT) AS raw_words
  FROM spans0 GROUP BY doc_id),
dw AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_words
  FROM documents)
SELECT p.doc_id, p.n_spans,
       least(p.raw_words, dw.doc_words) AS span_words,
       dw.doc_words,
       round(CAST(least(p.raw_words, dw.doc_words) AS DOUBLE)
             / CAST(dw.doc_words AS DOUBLE), 6) AS repeated_frac
FROM per_doc p JOIN dw ON p.doc_id = dw.doc_id
"""


# K values for the repeated-span sensitivity sweep. Lee et al. run exact
# substring dedup at a fixed 50-token threshold; the winnowing analogue's
# knob is the gram length K (detection guarantee K+W-1 words). Small K
# fires on short boilerplate (high recall, big index), large K only on
# long verbatim spans (small index, misses short repeats).
SPAN_SWEEP_KS = (4, 8, 16)


def repeated_spans_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span K-sensitivity: one summary row per gram length K in
    SPAN_SWEEP_KS, reporting detection yield vs index cost — selected
    fingerprints (cost: the index the scrubber must build/shuffle),
    matched repeat sites, docs flagged, scrubbed word volume, and the
    corpus-wide repeated-word fraction. The parameter study behind
    WINNOW_K=8, the sibling of llm_contamination_by_n's n-sweep: K=4
    fires on short boilerplate, K=16 only on long verbatim spans
    (detection guarantee K+W-1 words at fixed W).

    Each K runs the canonical pipeline — winnow_fp_from(k) → (h, gram)
    count-window repeat test → repeated_span_accounting(k, gap=K+W-1) —
    so the sweep measures exactly what the production pass would do at
    that K, then collapses to a 1-row aggregate per K; the union ships
    |KS| rows. Scale: |KS| passes over the corpus, each the
    llm_repeated_spans shape (gram windows per doc, one (h,gram)
    shuffle); a production sweep could share the max-K explode, at the
    cost of diverging from the per-K production plan it is meant to
    measure."""
    d = fan_out(load(spark, sf_dir, "documents"))
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus_words = docs.select(
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("bigint")
        .alias("corpus_words")
    )
    out = None
    for k in SPAN_SWEEP_KS:
        fps = winnow_fp_from(d, k=k)
        wg = W.partitionBy("h", "gram")
        matched = (
            fps.withColumn("n_occ", F.count(F.lit(1)).over(wg))
            .filter(F.col("n_occ") >= 2)
            .select("doc_id", "fp_pos")
            .distinct()
        )
        acct = repeated_span_accounting(
            matched, docs, k=k, gap=k + WINNOW_W - 1
        )
        row = (
            fps.agg(F.count(F.lit(1)).cast("bigint").alias("n_fps"))
            .crossJoin(
                matched.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_matched_sites")
                )
            )
            .crossJoin(
                acct.agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_docs_flagged"),
                    F.coalesce(F.sum("span_words"), F.lit(0))
                    .cast("bigint")
                    .alias("span_words"),
                )
            )
            .crossJoin(corpus_words)
            .select(
                F.lit(k).cast("int").alias("k"),
                "n_fps",
                "n_matched_sites",
                "n_docs_flagged",
                "span_words",
                F.round(
                    F.col("span_words").cast("double")
                    / F.col("corpus_words").cast("double"),
                    6,
                ).alias("repeated_word_frac"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _span_k_sweep_sql() -> str:
    ctes = [
        """cw AS (
  SELECT CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS corpus_words
  FROM documents),
dwx AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_words
  FROM documents)"""
    ]
    legs = []
    for k in SPAN_SWEEP_KS:
        sfx = f"_{k}"
        ctes.append(f"fp{sfx} AS ({_winnow_fp_sql(k=k)})")
        ctes.append(
            f"""matched{sfx} AS (
  SELECT DISTINCT doc_id, fp_pos
  FROM (SELECT doc_id, fp_pos,
               count(*) OVER (PARTITION BY h, gram) AS n_occ
        FROM fp{sfx}) t
  WHERE n_occ >= 2)"""
        )
        ctes.append(
            _islands_cte_sql(f"matched{sfx}", gap=k + WINNOW_W - 1, sfx=sfx)
        )
        ctes.append(
            f"""per_doc{sfx} AS (
  SELECT doc_id, CAST(sum(e - s + {k}) AS BIGINT) AS raw_words
  FROM spans0{sfx} GROUP BY doc_id),
acct{sfx} AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs_flagged,
         CAST(coalesce(sum(least(p.raw_words, d.doc_words)), 0) AS BIGINT)
           AS span_words
  FROM per_doc{sfx} p JOIN dwx d ON p.doc_id = d.doc_id)"""
        )
        legs.append(
            f"""
SELECT CAST({k} AS INTEGER) AS k, s.n_fps, m.n_matched_sites,
       a.n_docs_flagged, a.span_words,
       round(CAST(a.span_words AS DOUBLE) / CAST(cw.corpus_words AS DOUBLE), 6)
         AS repeated_word_frac
FROM (SELECT CAST(count(*) AS BIGINT) AS n_fps FROM fp{sfx}) s
CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_matched_sites
            FROM matched{sfx}) m
CROSS JOIN acct{sfx} a
CROSS JOIN cw"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(legs)


def span_scrub_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of repeated-span dedup (Lee et al. semantics): every
    repeated span keeps exactly ONE copy — the corpus-wide first site
    (minimal (doc_id, fp_pos)) — and is scrubbed everywhere else; each doc
    comes back with its surviving text reconstructed.

    Scrub marking stays in the aggregate world: per (h, gram) group, one
    count + one min over the int64 site key doc_id*POSBASE + fp_pos (no
    pairwise join); a site is scrubbed iff its group repeats and it is not
    the group minimum. Marked sites merge into spans exactly like
    repeated_spans; the word-level rebuild is an equi-join on doc_id with
    the span range as residual (spans per doc are few), then one doc-keyed
    sort-rebuild fold — deterministic both engines. At 100 TB every stage
    is a doc_id- or gram-keyed shuffle; nothing is all-pairs and no text
    leaves its executor except the final reconstructed column.
    """
    fps = _winnow_fp_rows(spark, sf_dir)
    # group stats as WINDOW functions over (h, gram): one shuffle, one pass
    # over the single winnow subtree — a groupBy + join-back would compute
    # the whole winnow pipeline twice (the broadcast side defeats
    # ReusedExchange; measured 17.7 s -> 3 s at sf0.01)
    wg = W.partitionBy("h", "gram")
    marked = (
        fps.withColumn("site", F.col("doc_id") * _WINNOW_POSBASE + F.col("fp_pos"))
        .withColumn("n_occ", F.count(F.lit(1)).over(wg))
        .withColumn("first_site", F.min("site").over(wg))
        .filter((F.col("n_occ") >= 2) & (F.col("site") != F.col("first_site")))
        .select("doc_id", "fp_pos")
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    doc_words = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("bigint").alias("dw")
    )
    spans = (
        _merge_islands(marked)
        .join(doc_words, "doc_id")
        .select(
            "doc_id", "s", F.least(F.col("e") + (WINNOW_K - 1), F.col("dw")).alias("e2")
        )
    )
    w = F.split(F.col("text"), " ")
    words = d.select(
        "doc_id",
        w.alias("__w"),
        F.explode(F.sequence(F.lit(1), F.size(w))).alias("i"),
    ).select("doc_id", "i", F.get("__w", F.col("i") - 1).alias("wd"))
    tagged = words.join(
        spans,
        (words.doc_id == spans.doc_id)
        & (F.col("i") >= F.col("s"))
        & (F.col("i") <= F.col("e2")),
        "left",
    ).select(words.doc_id, "i", "wd", F.col("s").isNotNull().alias("rm"))
    # a word can fall in one span only (spans are disjoint), so no distinct
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("rm"), 1).otherwise(0)).cast("bigint").alias("n_removed"),
            F.sum(F.when(F.col("rm"), 0).otherwise(1)).cast("bigint").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(~F.col("rm"), F.struct("i", "wd"))
                        )
                    ),
                    lambda x: x["wd"],
                ),
            ).alias("scrubbed_text"),
        )
    )


_SPAN_SCRUB_SQL = f"""
WITH fp AS ({_WINNOW_FP_SQL}),
sited AS (
  SELECT doc_id, fp_pos,
         doc_id * {_WINNOW_POSBASE} + fp_pos AS site,
         count(*) OVER wg AS n_occ,
         min(doc_id * {_WINNOW_POSBASE} + fp_pos) OVER wg AS first_site
  FROM fp
  WINDOW wg AS (PARTITION BY h, gram)),
marked AS (
  SELECT doc_id, fp_pos FROM sited
  WHERE n_occ >= 2 AND site <> first_site),
{_islands_cte_sql('marked')},
dw AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dw
  FROM documents),
spans AS (
  SELECT sp.doc_id, sp.s,
         least(sp.e + {WINNOW_K - 1}, dw.dw) AS e2
  FROM spans0 sp JOIN dw ON sp.doc_id = dw.doc_id),
words AS (
  SELECT doc_id, i, w[i] AS wd
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
       LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t),
tagged AS (
  SELECT words.doc_id, words.i, words.wd, spans.s IS NOT NULL AS rm
  FROM words LEFT JOIN spans
    ON words.doc_id = spans.doc_id AND words.i >= spans.s AND words.i <= spans.e2)
SELECT doc_id,
       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       CAST(sum(CASE WHEN rm THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
       coalesce(array_to_string(
         list(wd ORDER BY i) FILTER (WHERE NOT rm), ' '), '') AS scrubbed_text
FROM tagged GROUP BY doc_id
"""


# --- URL canonicalization dedup (round 6) -------------------------------------
#
# A real crawl pipeline's FIRST dedup pass: normalize each document's URL
# (lowercase scheme+host, strip default ports, 'www.', tracking params and
# trailing slashes, sort surviving params) and keep the latest crawl per
# canonical URL. The lake has no url column, so one is derived
# deterministically from doc_id — same pattern as states-from-events
# (plans/domain.py:46-77) — with every mess the canonicalizer must fix:
# mixed-case scheme/host, ':80', 'www.', utm_*/fbclid noise, mixed
# tracking+meaningful params, trailing slashes.

_URL_TRACKING_RE = "^(utm_[a-z]+|fbclid|gclid|ref)="


def _raw_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url) with doc_id doubling as crawl recency (bigger = later)."""
    return raw_urls_from(load(spark, sf_dir, "documents"))


def raw_urls_from(docs: DataFrame) -> DataFrame:
    """The URL projection over an arbitrary docs frame (a micro-batch or the
    whole lake) — shared by the batch query and the streaming incremental
    URL dedup so both sides derive byte-identical raw URLs."""
    d = docs.select("doc_id")
    scheme = F.when(F.col("doc_id") % 10 == 0, F.lit("HTTP://")).otherwise(
        F.lit("https://")
    )
    host = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("Example.COM"))
        .when(F.col("doc_id") % 4 == 1, F.lit("example.com:80"))
        .when(F.col("doc_id") % 4 == 2, F.lit("WWW.Data.ORG"))
        .otherwise(F.lit("data.org:443"))
    )
    path = F.concat(F.lit("/item/"), (F.col("doc_id") % 40).cast("string"))
    slash = F.when(F.col("doc_id") % 2 == 0, F.lit("/")).otherwise(F.lit(""))
    q = (
        F.when(F.col("doc_id") % 6 == 0, F.lit("?utm_source=feed"))
        .when(
            F.col("doc_id") % 6 == 1,
            F.concat(F.lit("?page="), (F.col("doc_id") % 3).cast("string")),
        )
        .when(
            F.col("doc_id") % 6 == 2,
            F.concat(
                F.lit("?utm_medium=email&page="),
                (F.col("doc_id") % 3).cast("string"),
            ),
        )
        .when(F.col("doc_id") % 6 == 3, F.lit("?fbclid=abc123"))
        .otherwise(F.lit(""))
    )
    return d.select("doc_id", F.concat(scheme, host, path, slash, q).alias("url"))


_RAW_URLS_SQL = """
SELECT doc_id,
       (CASE WHEN doc_id % 10 = 0 THEN 'HTTP://' ELSE 'https://' END)
       || (CASE WHEN doc_id % 4 = 0 THEN 'Example.COM'
                WHEN doc_id % 4 = 1 THEN 'example.com:80'
                WHEN doc_id % 4 = 2 THEN 'WWW.Data.ORG'
                ELSE 'data.org:443' END)
       || '/item/' || CAST(doc_id % 40 AS VARCHAR)
       || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
       || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed'
                WHEN doc_id % 6 = 1 THEN '?page=' || CAST(doc_id % 3 AS VARCHAR)
                WHEN doc_id % 6 = 2
                  THEN '?utm_medium=email&page=' || CAST(doc_id % 3 AS VARCHAR)
                WHEN doc_id % 6 = 3 THEN '?fbclid=abc123'
                ELSE '' END) AS url
FROM documents
"""


def canonical_url(url: Column) -> Column:
    """Canonicalize a URL with pure string/regexp expressions (stays in
    whole-stage codegen — no UDF): lowercase scheme and host, strip
    default :80/:443 ports, a leading 'www.', tracking query params
    (utm_*/fbclid/gclid/ref) and trailing path slashes; surviving params
    are sorted for order-insensitivity."""
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)", 1))
    host = F.regexp_replace(host, r":(80|443)$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+(/[^?]*)?", 1)
    path = F.regexp_replace(path, "/+$", "")
    q = F.regexp_extract(url, r"\?(.*)$", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(q, "&"),
                lambda p: (p != "") & ~p.rlike(_URL_TRACKING_RE),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
    )


def _canonical_url_sql(url: str) -> str:
    scheme = f"lower(regexp_extract({url}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    host = (
        f"regexp_replace(regexp_replace(lower(regexp_extract({url},"
        f" '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]+)', 1)), ':(80|443)$', ''),"
        f" '^www\\.', '')"
    )
    path = (
        f"regexp_replace(regexp_extract({url},"
        f" '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]+(/[^?]*)?', 1), '/+$', '')"
    )
    params = (
        f"array_to_string(list_sort(list_filter(string_split("
        f"regexp_extract({url}, '\\?(.*)$', 1), '&'),"
        f" p -> p <> '' AND NOT regexp_matches(p, '{_URL_TRACKING_RE}'))), '&')"
    )
    return (
        f"{scheme} || '://' || {host} || {path}"
        f" || (CASE WHEN {params} <> '' THEN '?' || {params} ELSE '' END)"
    )


def url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-crawl-wins dedup on the canonical URL: per canonical URL,
    how many crawls collapsed into it, which doc survived (the latest =
    max doc_id), and that survivor's RAW url.

    One map-side-combining aggregate on the canonical key — cheaper than
    the row-preserving window of operators/dedup.py:21 (last_wins_dedup)
    because only the survivor's id/url are needed, not the whole row; the
    canonicalizer itself is pure regexp/string projection, so at 100 TB
    this is scan -> codegen'd normalize -> one shuffle on canonical_url.
    ``max_by`` ties are impossible (doc_id is unique)."""
    u = _raw_urls(spark, sf_dir)
    return (
        u.select("doc_id", "url", canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_crawls"),
            F.max("doc_id").alias("kept_doc_id"),
            F.max_by("url", "doc_id").alias("kept_url"),
        )
    )


_URL_DEDUP_SQL = f"""
WITH raw AS ({_RAW_URLS_SQL}),
canon AS (
  SELECT doc_id, url, {_canonical_url_sql('url')} AS canonical_url FROM raw)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_crawls,
       CAST(max(doc_id) AS BIGINT) AS kept_doc_id,
       max_by(url, doc_id) AS kept_url
FROM canon GROUP BY canonical_url
"""


# --- product quantization ANN (round 6) ----------------------------------------
#
# The remaining classic in the ANN family next to LSH (bucket join), IVF
# (cell probe) and int8 scalar quantization (llm_quantized_topk): split
# each vector into M subspaces, learn a K-entry codebook per subspace, and
# answer queries with an Asymmetric Distance Computation — one 128-entry
# query-side lookup table replaces all float math against the corpus,
# whose vectors compress to M small codes (64 dims x 8 bytes -> 8 codes,
# 64x less corpus traffic). Codebook training is deterministic: Knuth-hash
# init (the semdedup subcell discipline) + ONE Lloyd reassignment step,
# every float reduction a sequential fold in pinned order.

PQ_M = 8  # subspaces
PQ_DSUB = EMB_DIM // PQ_M  # dims per subspace
PQ_CODES = 16  # codebook entries per subspace
PQ_TOPK = 3
PQ_SHORTLIST = 30  # ADC shortlist fed to exact rerank in the recall eval


def _pq_subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sub, sv[PQ_DSUB]) subvector rows with a DENSE hash-init
    code: the Knuth-hash bucket is re-indexed through a distinct->rank dim
    table so code0 is always 0..K_eff-1 with NO holes, whatever vec_id
    residues the lake contains (2654435761 % 16 == 1, so the raw bucket is
    literally vec_id % 16 — a lake of all-even ids would otherwise leave
    half the codebook empty and shift every positional LUT lookup; the ADC
    index math derives K_eff from the LUT length, so it stays correct at
    any density)."""
    e = _emb_ok(spark, sf_dir)
    raw = (F.col("vec_id") % 2147483648) * 2654435761 % 2147483648 % PQ_CODES
    base = e.select(
        "vec_id", to_double(F.col("embedding")).alias("dv"), raw.alias("code_raw")
    )
    dim = (
        base.select("code_raw")
        .distinct()
        .withColumn("code0", F.row_number().over(W.orderBy("code_raw")) - 1)
    )
    base = base.join(F.broadcast(dim), "code_raw")
    sub = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("sub")
    return base.select("vec_id", sub, F.col("dv"), F.col("code0")).select(
        "vec_id",
        "sub",
        "code0",
        F.slice(F.col("dv"), F.col("sub") * PQ_DSUB + 1, PQ_DSUB).alias("sv"),
    )


def _pq_centroids(sv: DataFrame) -> DataFrame:
    """(sub, code, centroid[PQ_DSUB]) means of the hash-init buckets —
    the shared centroid_fold kernel keyed on (sub, code)
    (operators/similarity.py: one bitwise-critical fold, three users)."""
    return centroid_fold(
        sv.select("sub", F.col("code0").alias("code"), "vec_id", "sv"),
        ("sub", "code"),
        vec_col="sv",
        already_double=True,
    )


def _sqdist(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance (pinned element order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )


def _pq_assign(sv: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, sub, code, qerr): one Lloyd step — each subvector moves to
    its nearest hash-init centroid (ties -> lowest code). Takes the
    already-built subvector/centroid frames so one plan never computes the
    centroid subtree twice (the broadcast side defeats ReusedExchange —
    the span_scrub_apply lesson)."""
    scored = sv.join(F.broadcast(cents), "sub").withColumn(
        "qerr", _sqdist(F.col("sv"), F.col("centroid"))
    )
    w = W.partitionBy("vec_id", "sub").orderBy("qerr", "code")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "code", "qerr")
    )


_PQ_RAW_CODE = f"(vec_id % 2147483648) * 2654435761 % 2147483648 % {PQ_CODES}"

_PQ_SV_SQL = f"""
SELECT vec_id, sub, code0,
       dv[sub * {PQ_DSUB} + 1 : sub * {PQ_DSUB} + {PQ_DSUB}] AS sv
FROM (
  SELECT e.vec_id, e.dv, d.code0
  FROM (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS dv,
               {_PQ_RAW_CODE} AS code_raw
        FROM embeddings WHERE len(embedding) = {EMB_DIM}) e
  JOIN (SELECT code_raw, row_number() OVER (ORDER BY code_raw) - 1 AS code0
        FROM (SELECT DISTINCT {_PQ_RAW_CODE} AS code_raw
              FROM embeddings WHERE len(embedding) = {EMB_DIM}) u) d
    ON e.code_raw = d.code_raw) b,
     LATERAL (SELECT unnest(generate_series(0, {PQ_M - 1})) AS sub) s
"""

_PQ_CENTS_SQL = f"""
SELECT sub, code, list(m ORDER BY pos) AS centroid
FROM (
  SELECT sub, code0 AS code, pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(x ORDER BY vec_id)), (a, x) -> a + x) / count(*) AS m
  FROM (
    SELECT vec_id, sub, code0, i AS pos, sv[i] AS x
    FROM ({_PQ_SV_SQL}) t,
         LATERAL (SELECT unnest(generate_series(1, {PQ_DSUB})) AS i) g)
  GROUP BY sub, code0, pos)
GROUP BY sub, code
"""

_SQDIST_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " [({a}[i] - {b}[i]) * ({a}[i] - {b}[i])"
    f" for i in generate_series(1, {{n}})]), (acc, d) -> acc + d)"
)

_PQ_ASSIGN_SQL = f"""
SELECT vec_id, sub, code, qerr FROM (
  SELECT sv.vec_id, sv.sub, c.code,
         {_SQDIST_SQL.format(a='sv.sv', b='c.centroid', n=PQ_DSUB)} AS qerr,
         row_number() OVER (PARTITION BY sv.vec_id, sv.sub
                            ORDER BY {_SQDIST_SQL.format(a='sv.sv', b='c.centroid', n=PQ_DSUB)},
                                     c.code) AS rn
  FROM ({_PQ_SV_SQL}) sv JOIN ({_PQ_CENTS_SQL}) c ON sv.sub = c.sub) t
WHERE rn = 1
"""


def pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook health per (subspace, code) after the Lloyd step: how many
    subvectors landed on each centroid and their mean squared quantization
    error — the distortion report that sizes PQ_CODES before indexing.

    Scale shape: codebook is PQ_M x PQ_CODES rows (broadcast-sized at any
    corpus); assignment joins the broadcast codebook onto subvector rows
    map-side; this summary is one (sub, code)-keyed aggregate with the
    mean-of-qerr as a vec_id-ordered sequential fold.
    """
    sv = _pq_subvectors(spark, sf_dir)
    a = _pq_assign(sv, _pq_centroids(sv))
    per = a.groupBy("sub", "code").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.array_sort(F.collect_list(F.struct("vec_id", "qerr"))).alias("qs"),
    )
    mean_err = F.aggregate(
        F.col("qs"), F.lit(0.0), lambda acc, s: acc + s.getField("qerr")
    ) / F.size("qs")
    return per.select(
        F.col("sub").cast("bigint").alias("sub"),
        F.col("code").cast("bigint").alias("code"),
        "n_assigned",
        F.round(mean_err, 6).alias("avg_qerr"),
    )


_PQ_CODEBOOK_SQL = f"""
SELECT sub, code, CAST(count(*) AS BIGINT) AS n_assigned,
       round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(qerr ORDER BY vec_id)), (a, x) -> a + x) / count(*), 6)
         AS avg_qerr
FROM ({_PQ_ASSIGN_SQL}) a
GROUP BY sub, code
"""


def _pq_index(spark: SparkSession, sf_dir: str):
    """(codes, lut): the corpus code table (c_id, codes[PQ_M]) and the
    per-query ADC lookup table (q_id, lut[PQ_M * K_eff]) — the two frames
    every PQ consumer joins (flat ADC here, cell-pruned IVFPQ below)."""
    sv = _pq_subvectors(spark, sf_dir)
    cents = _pq_centroids(sv)
    codes = (
        _pq_assign(sv, cents)
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub", "code"))).alias("sc"))
        .select(
            F.col("vec_id").alias("c_id"),
            F.transform(F.col("sc"), lambda s: s.getField("code")).alias("codes"),
        )
    )
    q = sv.filter(F.col("vec_id") < 10)
    lut = (
        q.join(F.broadcast(cents), "sub")
        .withColumn("d", _sqdist(F.col("sv"), F.col("centroid")))
        .groupBy("vec_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.col("sub") * PQ_CODES + F.col("code")).alias("idx"), "d"
                    )
                )
            ).alias("id_")
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.transform(F.col("id_"), lambda s: s.getField("d")).alias("lut"),
        )
    )
    return codes, lut


def _pq_adc_col() -> Column:
    """The ADC estimate as a column over rows carrying ``lut`` and
    ``codes``: a sequential fold of PQ_M positional lookups; the
    per-subspace stride K_eff is derived from the LUT length, so the fold
    is correct at any dense-codebook size."""
    k_eff = (F.size("lut") / F.lit(PQ_M)).cast("int")
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0.0),
        lambda acc, sub: acc
        + F.element_at(
            F.col("lut"),
            (sub * k_eff + F.element_at(F.col("codes"), sub + 1) + 1).cast("int"),
        ),
    )


def _pq_adc_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance ranking (full, rank-filtered by callers:
    pq_adc_topk at PQ_TOPK, pq_recall_eval at PQ_SHORTLIST): each query
    precomputes a
    PQ_M x PQ_CODES lookup table of exact query-subvector -> centroid
    distances; a corpus vector's distance estimate is then a PURE TABLE
    LOOKUP sum over its 8 codes — no float vector math against the corpus
    at query time.

    Scale shape: the per-query LUT (128 doubles) and the 10-query side
    broadcast; the corpus side carries only (vec_id, codes[8]) — 64x less
    traffic than raw vectors; the ADC fold is codegen'd element access in
    pinned sub order, and top-k is rank-filtered per query.
    """
    codes, lut = _pq_index(spark, sf_dir)
    pairs = (
        F.broadcast(lut)
        .crossJoin(codes)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("adc_dist", F.round(_pq_adc_col(), 6))
    )
    w = W.partitionBy("q_id").orderBy("adc_dist", "c_id")
    return pairs.withColumn("rank", F.row_number().over(w).cast("bigint")).select(
        "q_id", "c_id", "adc_dist", "rank"
    )


def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_adc_ranked(spark, sf_dir).filter(F.col("rank") <= PQ_TOPK)


_PQ_ADC_RANKED_SQL = f"""
WITH sv AS ({_PQ_SV_SQL}),
cents AS ({_PQ_CENTS_SQL}),
codes AS (
  SELECT vec_id AS c_id, list(code ORDER BY sub) AS codes
  FROM ({_PQ_ASSIGN_SQL}) a GROUP BY vec_id),
lut AS (
  SELECT sv.vec_id AS q_id,
         list(d ORDER BY idx) AS lut
  FROM (
    SELECT sv.vec_id, sv.sub * {PQ_CODES} + c.code AS idx,
           {_SQDIST_SQL.format(a='sv.sv', b='c.centroid', n=PQ_DSUB)} AS d
    FROM sv JOIN cents c ON sv.sub = c.sub
    WHERE sv.vec_id < 10) sv
  GROUP BY sv.vec_id),
pairs AS (
  SELECT q_id, c_id,
         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           [lut[sub * (len(lut) // {PQ_M}) + codes[sub + 1] + 1]
            for sub in generate_series(0, {PQ_M - 1})]),
           (acc, d) -> acc + d), 6) AS adc_dist
  FROM lut CROSS JOIN codes WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, c_id)
              AS BIGINT) AS rank
  FROM pairs)
SELECT q_id, c_id, adc_dist, rank FROM ranked
"""

_PQ_ADC_SQL = f"""
SELECT q_id, c_id, adc_dist, rank FROM ({_PQ_ADC_RANKED_SQL}) r
WHERE rank <= {PQ_TOPK}
"""


def pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality measurement: recall@PQ_TOPK of the ADC SHORTLIST against exact
    squared-L2 ground truth (the metric ADC approximates — cosine ground
    truth would grade it on a test it never sat). Composes the two plans
    and joins on (q_id, c_id); deterministic, so the recall itself is
    oracle-checked — the PQ counterpart of llm_ann_recall_eval (LSH).

    Scale note: the exact leg is the eval-only broadcast kernel (10 query
    rows x corpus); ADC is the scale path being graded.
    """
    e = _emb_ok(spark, sf_dir)
    base = e.select("vec_id", to_double(F.col("embedding")).alias("dv"))
    q = base.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("dv").alias("q_vec")
    )
    c = base.select(F.col("vec_id").alias("c_id"), F.col("dv").alias("c_vec"))
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("d", _sqdist(F.col("q_vec"), F.col("c_vec")))
    )
    w = W.partitionBy("q_id").orderBy("d", "c_id")
    truth = (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("q_id", "c_id")
    )
    adc = (
        _pq_adc_ranked(spark, sf_dir)
        .filter(F.col("rank") <= PQ_SHORTLIST)
        .select("q_id", "c_id", F.lit(1).alias("hit"))
    )
    j = truth.join(adc, ["q_id", "c_id"], "left")
    return j.groupBy("q_id").agg(
        F.round(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1)), 6
        ).alias("recall_pq")
    )


def _pq_recall_sql() -> str:
    return f"""
WITH base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS dv
  FROM embeddings WHERE len(embedding) = {EMB_DIM}),
pairs AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {_SQDIST_SQL.format(a='q.dv', b='c.dv', n=EMB_DIM)} AS d
  FROM (SELECT * FROM base WHERE vec_id < 10) q
  CROSS JOIN base c WHERE q.vec_id <> c.vec_id),
truth AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY d, c_id) AS rank
    FROM pairs) t
  WHERE rank <= {PQ_TOPK}),
adc AS (SELECT q_id, c_id, 1 AS hit FROM ({_PQ_ADC_RANKED_SQL}) t
        WHERE rank <= {PQ_SHORTLIST})
SELECT truth.q_id,
       round(sum(coalesce(hit, 0)) / CAST(count(*) AS DOUBLE), 6) AS recall_pq
FROM truth
LEFT JOIN adc ON truth.q_id = adc.q_id AND truth.c_id = adc.c_id
GROUP BY truth.q_id
"""


IVFPQ_NPROBE = 2


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the billion-scale index architecture (FAISS IVFPQ,
    non-residual variant): the coarse IVF quantizer prunes the corpus to
    the query's IVFPQ_NPROBE nearest cells, then PQ ADC scores ONLY those
    candidates from the per-query lookup table. Cells buy candidate
    pruning, codes buy per-candidate cost — together: no exact float math
    against the corpus and no full-corpus scan per query. (True FAISS
    encodes the residual x - centroid; this composition scores raw-vector
    codes — documented, and graded against its own ADC metric.)

    Scale shape: coarse centroids and PQ codebook both broadcast-sized;
    corpus carries (cell, codes[8]); the q_cells ⋈ c_cells equi-join on
    cell replaces the flat ADC's query x corpus nested loop.
    """
    from ..operators.similarity import ivf_centroids

    codes, lut = _pq_index(spark, sf_dir)
    e = _emb_ok(spark, sf_dir)
    coarse = ivf_centroids(e, EMB_DIM).withColumn("ncent", norm(F.col("centroid")))
    base = e.select("vec_id", to_double(F.col("embedding")).alias("v")).withColumn(
        "nv", norm(F.col("v"))
    )

    def nearest_cells(df: DataFrame, n: int) -> DataFrame:
        scored = df.crossJoin(F.broadcast(coarse)).withColumn(
            "cell_sim",
            dot(F.col("v"), F.col("centroid")) / (F.col("nv") * F.col("ncent")),
        )
        w = W.partitionBy("vec_id").orderBy(F.col("cell_sim").desc(), F.col("label"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .select("vec_id", F.col("label").alias("cell"))
        )

    c_cells = nearest_cells(base, 1).select(
        F.col("vec_id").alias("c_id"), "cell"
    )
    q_cells = nearest_cells(base.filter(F.col("vec_id") < 10), IVFPQ_NPROBE).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    cand = q_cells.join(c_cells, "cell").filter(F.col("q_id") != F.col("c_id"))
    pairs = (
        cand.join(F.broadcast(lut), "q_id")
        .join(codes, "c_id")
        .withColumn("adc_dist", F.round(_pq_adc_col(), 6))
    )
    w = W.partitionBy("q_id").orderBy("adc_dist", "c_id")
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= PQ_TOPK)
        .select("q_id", "c_id", "adc_dist", "rank")
    )


def _ivfpq_sql() -> str:
    return f"""
WITH sv AS ({_PQ_SV_SQL}),
cents AS ({_PQ_CENTS_SQL}),
codes AS (
  SELECT vec_id AS c_id, list(code ORDER BY sub) AS codes
  FROM ({_PQ_ASSIGN_SQL}) a GROUP BY vec_id),
lut AS (
  SELECT sv.vec_id AS q_id,
         list(d ORDER BY idx) AS lut
  FROM (
    SELECT sv.vec_id, sv.sub * {PQ_CODES} + c.code AS idx,
           {_SQDIST_SQL.format(a='sv.sv', b='c.centroid', n=PQ_DSUB)} AS d
    FROM sv JOIN cents c ON sv.sub = c.sub
    WHERE sv.vec_id < 10) sv
  GROUP BY sv.vec_id),
ex AS (
  SELECT label, vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
  WHERE len(embedding) = {EMB_DIM}),
cent AS (
  SELECT label, pos,
         list_reduce(list(x ORDER BY vec_id), (acc, y) -> acc + y) / count(*) AS m
  FROM ex GROUP BY label, pos),
coarse AS (SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label),
base AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
  FROM embeddings WHERE len(embedding) = {EMB_DIM}),
c_cells AS (
  SELECT vec_id AS c_id, cell FROM (
    SELECT base.vec_id, coarse.label AS cell,
           row_number() OVER (PARTITION BY base.vec_id
                              ORDER BY {cosine_sql('v', 'centroid')} DESC,
                                       coarse.label) AS rn
    FROM base CROSS JOIN coarse) t WHERE rn = 1),
q_cells AS (
  SELECT vec_id AS q_id, cell FROM (
    SELECT base.vec_id, coarse.label AS cell,
           row_number() OVER (PARTITION BY base.vec_id
                              ORDER BY {cosine_sql('v', 'centroid')} DESC,
                                       coarse.label) AS rn
    FROM base CROSS JOIN coarse WHERE base.vec_id < 10) t
  WHERE rn <= {IVFPQ_NPROBE}),
pairs AS (
  SELECT q_id, c_id,
         round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           [lut[sub * (len(lut) // {PQ_M}) + codes[sub + 1] + 1]
            for sub in generate_series(0, {PQ_M - 1})]),
           (acc, d) -> acc + d), 6) AS adc_dist
  FROM q_cells JOIN c_cells USING (cell)
  JOIN lut USING (q_id) JOIN codes USING (c_id)
  WHERE q_id <> c_id),
ranked AS (
  SELECT q_id, c_id, adc_dist,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc_dist, c_id)
              AS BIGINT) AS rank
  FROM pairs)
SELECT q_id, c_id, adc_dist, rank FROM ranked WHERE rank <= {PQ_TOPK}
"""


# --- train/val split leakage (round 6) ----------------------------------------


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-boundary leakage eval: for each held-out split (val, test),
    the fraction of its distinct word-3-gram shingles that also occur in
    the train split — the pre-training counterpart of benchmark
    contamination (llm_substring_contamination checks against an external
    benchmark; this checks the pipeline's OWN split boundary, where
    near-dup docs straddling the hash split silently inflate eval
    scores). Uses the same deterministic md5 split as train_val_split, so
    leakage is reproducible under reshuffling and appends.

    Scale shape: two distinct-shingle sets (map-side-combining
    aggregates), one gram-keyed LEFT join of the small held-out side
    against train, one 2-row aggregate. Nothing pairwise.
    """
    d = load(spark, sf_dir, "documents")
    bucket = _hex4_to_int(F.md5(F.col("doc_id").cast("string"))) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN, "train")
        .when(bucket < SPLIT_VAL, "val")
        .otherwise("test")
    )
    sh = exploded_shingles(
        d.select(split.alias("split"), "text"), "text"
    ).distinct()
    train = sh.filter(F.col("split") == "train").select("s").distinct()
    held = sh.filter(F.col("split") != "train")
    j = held.join(train.withColumn("leak", F.lit(1)), "s", "left")
    return j.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("leak"), F.lit(0))).cast("bigint").alias("n_leaked"),
        F.round(
            F.sum(F.coalesce(F.col("leak"), F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("leak_frac"),
    )


_SPLIT_LEAK_SQL = f"""
WITH lab AS (
  SELECT CASE WHEN {_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % 100
                   < {SPLIT_TRAIN} THEN 'train'
              WHEN {_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR))")} % 100
                   < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split,
         text
  FROM documents),
sh AS (
  SELECT DISTINCT split, unnest({shingles_sql('text')}) AS s FROM lab),
train AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
held AS (SELECT split, s FROM sh WHERE split <> 'train')
SELECT held.split,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN train.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked,
       round(CAST(sum(CASE WHEN train.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS leak_frac
FROM held LEFT JOIN train ON held.s = train.s
GROUP BY held.split
"""


# --- embedding centroid drift (round 6) ----------------------------------------


def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-over-batch embedding drift monitor: split the corpus into two
    halves by vec_id parity (the deterministic stand-in for "yesterday's
    batch vs today's"), compute each label's per-half centroid with the
    ivf_centroids fold discipline, and report the cosine between the two
    half-centroids plus the population split — the embedding-space
    counterpart of schema drift checks. A label whose centroid cosine
    falls below ~0.9 between ingests usually means the upstream encoder
    changed or the label's content shifted.

    Scale shape: one posexplode aggregate keyed (label, half, pos) — the
    same single-shuffle centroid build as IVF; the drift math runs on
    2 x n_labels centroid rows (driver-free, broadcast-sized).
    """
    e = _emb_ok(spark, sf_dir)
    cents = centroid_fold(
        e.select("label", (F.col("vec_id") % 2).alias("half"), "vec_id", "embedding"),
        ("label", "half"),
        with_count=True,
    )
    a = cents.filter(F.col("half") == 0).select(
        "label", F.col("centroid").alias("ca"), F.col("n_members").alias("n_even")
    )
    b = cents.filter(F.col("half") == 1).select(
        "label", F.col("centroid").alias("cb"), F.col("n_members").alias("n_odd")
    )
    return a.join(b, "label").select(
        "label",
        "n_even",
        "n_odd",
        F.round(cosine(F.col("ca"), F.col("cb")), 6).alias("centroid_cos"),
    )


_EMB_DRIFT_SQL = f"""
WITH ex AS (
  SELECT label, vec_id % 2 AS half, vec_id AS i, pos - 1 AS pos,
         CAST(embedding[pos] AS DOUBLE) AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS pos) g
  WHERE len(embedding) = {EMB_DIM}),
per_dim AS (
  SELECT label, half, pos,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list(x ORDER BY i)), (a, x) -> a + x) / count(*) AS m,
         CAST(count(*) AS BIGINT) AS cnt
  FROM ex GROUP BY label, half, pos),
cents AS (
  SELECT label, half, list(m ORDER BY pos) AS c, min(cnt) AS n_members
  FROM per_dim GROUP BY label, half)
SELECT a.label, a.n_members AS n_even, b.n_members AS n_odd,
       round({cosine_sql('a.c', 'b.c')}, 6) AS centroid_cos
FROM (SELECT * FROM cents WHERE half = 0) a
JOIN (SELECT * FROM cents WHERE half = 1) b ON a.label = b.label
"""


# --- dedup funnel report (round 6) ---------------------------------------------

REPEATED_FRAC_DUP = 0.5  # repeated_spans ledger: "mostly repeated" threshold


def dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation dashboard: how many documents each dedup modality
    would remove, side by side — exact text, normalized fingerprint,
    canonical URL (latest-wins), minhash near-dup kills, and
    mostly-repeated-span docs — each as removed-count and corpus
    fraction. The numbers do NOT sum (modalities overlap by design);
    the report is the overlap-at-a-glance a pipeline team reads before
    ordering the passes.

    Composes the existing plans; every leg ends in a 1-row count, so the
    report costs one pass per modality and unions 5 single-row frames.
    """
    total_df = load(spark, sf_dir, "documents").select(
        F.count(F.lit(1)).alias("n_total")
    )

    def leg(name: str, cnt_df: DataFrame) -> DataFrame:
        # n_total = 0 (empty lake) must yield a zero-row dashboard, not an
        # ANSI DIVIDE_BY_ZERO — Spark 4 errors even on double division
        nr = F.coalesce(F.col("n_removed"), F.lit(0)).cast("bigint")
        frac = F.when(
            F.col("n_total") > 0,
            F.round(nr.cast("double") / F.col("n_total").cast("double"), 6),
        ).otherwise(F.lit(0.0))
        return cnt_df.crossJoin(F.broadcast(total_df)).select(
            F.lit(name).alias("modality"),
            nr.alias("n_removed"),
            frac.alias("removed_frac"),
        )

    exact = dedup_exact(spark, sf_dir).agg(
        F.sum(F.col("n_copies") - 1).alias("n_removed")
    )
    fp = dedup_fingerprint(spark, sf_dir).agg(
        F.sum(F.col("n_copies") - 1).alias("n_removed")
    )
    url = url_dedup(spark, sf_dir).agg(
        F.sum(F.col("n_crawls") - 1).alias("n_removed")
    )
    d = load(spark, sf_dir, "documents")
    minhash = d.join(
        minhash_near_dup_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct(),
        "doc_id",
        "leftsemi",
    ).agg(F.count(F.lit(1)).alias("n_removed"))
    spans = (
        repeated_spans(spark, sf_dir)
        .filter(F.col("repeated_frac") >= REPEATED_FRAC_DUP)
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    out = leg("exact_text", exact)
    for name, df_ in (
        ("fingerprint", fp),
        ("canonical_url", url),
        ("minhash_near_dup", minhash),
        ("repeated_span_mostly", spans),
    ):
        out = out.unionByName(leg(name, df_))
    return out


def _dedup_funnel_sql() -> str:
    return f"""
WITH total AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM documents),
exact_cnt AS (
  SELECT CAST(coalesce(sum(n_copies - 1), 0) AS BIGINT) AS n_removed
  FROM ({DEDUP_EXACT_SQL}) t),
fp_cnt AS (
  SELECT CAST(coalesce(sum(n_copies - 1), 0) AS BIGINT) AS n_removed
  FROM ({DEDUP_FP_SQL}) t),
url_cnt AS (
  SELECT CAST(coalesce(sum(n_crawls - 1), 0) AS BIGINT) AS n_removed
  FROM ({_URL_DEDUP_SQL}) t),
mh_cnt AS (
  SELECT CAST(count(DISTINCT doc_b) AS BIGINT) AS n_removed
  FROM ({_MINHASH_PAIRS_SQL}) t),
span_cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_removed
  FROM ({_REPEATED_SPANS_SQL}) t
  WHERE repeated_frac >= {dlit(REPEATED_FRAC_DUP)})
SELECT m AS modality, n_removed,
       CASE WHEN n_total > 0
            THEN round(CAST(n_removed AS DOUBLE) / n_total, 6)
            ELSE CAST(0.0 AS DOUBLE) END AS removed_frac
FROM (
  SELECT 'exact_text' AS m, n_removed FROM exact_cnt
  UNION ALL SELECT 'fingerprint', n_removed FROM fp_cnt
  UNION ALL SELECT 'canonical_url', n_removed FROM url_cnt
  UNION ALL SELECT 'minhash_near_dup', n_removed FROM mh_cnt
  UNION ALL SELECT 'repeated_span_mostly', n_removed FROM span_cnt) u
CROSS JOIN total
"""


# --- audio silence trim + exact image payload dedup (round 6) ----------------


def audio_silence_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-gate trim ledger per audio clip — the VAD-shaped pass a
    speech-data pipeline runs before paying for transcription: per doc the
    frame count, silent-frame count/ratio (energy < AUDIO_SILENCE_ENERGY),
    the first/last voiced frame and the surviving frame span after
    trimming leading/trailing silence (all-silent clips keep 0 frames).

    Builds on ``audio_frame_energy``'s real WAV-byte frame kernel; the trim
    itself is ONE doc-keyed map-side-combining aggregate over frame rows
    (min/max/count partials), so at 100 TB the shuffle carries 5 longs per
    clip regardless of clip length.
    """
    fe = audio_frame_energy(spark, sf_dir)
    voiced = F.when(~F.col("is_silence"), F.col("frame_idx"))
    n_sil = F.sum(F.col("is_silence").cast("long"))
    return (
        fe.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_frames"),
            n_sil.alias("n_silent"),
            F.min(voiced).alias("first_voiced"),
            F.max(voiced).alias("last_voiced"),
        )
        .select(
            "doc_id",
            "n_frames",
            "n_silent",
            F.round(
                F.col("n_silent").cast("double") / F.col("n_frames").cast("double"),
                6,
            ).alias("silence_ratio"),
            "first_voiced",
            "last_voiced",
            F.when(
                F.col("first_voiced").isNull(), F.lit(0)
            )
            .otherwise(F.col("last_voiced") - F.col("first_voiced") + 1)
            .cast("bigint")
            .alias("kept_frames"),
        )
    )


def _audio_trim_sql() -> str:
    fv = "min(CASE WHEN NOT is_silence THEN frame_idx END)"
    lv = "max(CASE WHEN NOT is_silence THEN frame_idx END)"
    return f"""
WITH fe AS ({_audio_energy_sql()})
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(CASE WHEN is_silence THEN 1 ELSE 0 END) AS BIGINT) AS n_silent,
       round(CAST(sum(CASE WHEN is_silence THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS silence_ratio,
       {fv} AS first_voiced,
       {lv} AS last_voiced,
       CAST(CASE WHEN {fv} IS NULL THEN 0 ELSE {lv} - {fv} + 1 END AS BIGINT)
           AS kept_frames
FROM fe GROUP BY doc_id
"""


def image_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multimodal dedup on the raw payload bytes: sha256 over each
    BMP payload groups bit-identical images; each group keeps its lowest
    doc_id and reports copy count plus the survivor's REAL decoded header
    metadata (width/height/file size re-parsed from the kept payload, not
    trusted from upstream).

    Scale shape: payload bytes never cross a shuffle — executors digest
    them in the Arrow kernel and only (doc_id, 32-byte digest) rows reach
    the groupBy; survivors (one per group) re-attach and decode. The
    oracle never sees the bytes: the synthetic BMP is a pure function of
    (doc_id % 16, doc_id//16 % 8, md5(text)), so grouping by that derived
    key partitions rows identically (pinned by the byte-flip pytest).
    """
    from ..operators.multimodal import attach_bmp_payload, decode_bmp_meta

    d = load(spark, sf_dir, "documents")
    digests = attach_bmp_payload(d).select(
        "doc_id", F.sha2(F.col("payload"), 256).alias("digest")
    )
    groups = digests.groupBy("digest").agg(
        F.min("doc_id").alias("kept_doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
    )
    survivors = d.join(
        groups.select(F.col("kept_doc_id").alias("doc_id")), "doc_id", "leftsemi"
    )
    meta = decode_bmp_meta(attach_bmp_payload(survivors)).select(
        F.col("doc_id").alias("kept_doc_id"), "width", "height", "n_bytes"
    )
    return groups.select("kept_doc_id", "n_copies").join(meta, "kept_doc_id")


_IMG_EXACT_SQL = """
WITH g AS (
  SELECT doc_id % 16 AS wk, (doc_id // 16) % 8 AS hk, md5(text) AS pix,
         doc_id
  FROM documents
),
grp AS (
  SELECT wk, hk, CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
         CAST(count(*) AS BIGINT) AS n_copies
  FROM g GROUP BY wk, hk, pix
)
SELECT kept_doc_id, n_copies,
       CAST(wk + 1 AS INTEGER) AS width,
       CAST(hk + 1 AS INTEGER) AS height,
       CAST(54 + ((wk + 1) * 3 + 3) // 4 * 4 * (hk + 1) AS BIGINT) AS n_bytes
FROM grp
"""


# --- language temperature sampling + length bucketing (round 6) --------------

LANG_TEMP_BASE = 0.5  # keep rate for a lang at exactly corpus-average share


def lang_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-sqrt language temperature sampling (the mT5/XLM-R move):
    keep rate r_l = min(1, BASE * sqrt(N / n_l)) upsamples rare languages
    relative to their corpus share — the α=0.5 temperature reweighting a
    multilingual pretraining mix applies so English doesn't drown
    everything. Per language: corpus count, the rate, kept count and
    realized rate; membership is the stateless md5 hash gate shared with
    dataset_mixing, so the subsample is stable under re-runs and appends.

    Determinism across engines: sqrt is IEEE-exact (unlike pow, which is
    why α is pinned at 0.5), and the rate is one divide + one sqrt + one
    multiply + min — no cross-language float sum anywhere. Scale: two
    map-side-combining aggregates (lang is low-cardinality) and a
    broadcast 1-row total.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    rate = F.least(
        F.lit(1.0),
        F.lit(LANG_TEMP_BASE)
        * F.sqrt(F.col("n_total").cast("double") / F.col("n_docs").cast("double")),
    )
    # ':' delimiter keeps the gate injective — md5('12'+'en') == md5('1'+'2en')
    # would alias two docs if lang values ever started with a digit
    hv = _hex4_to_int(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang")))
    )
    per = d.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    rated = per.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs", "n_total", F.round(rate, 6).alias("keep_rate")
    )
    kept = (
        d.select("lang", hv.alias("hv"))
        .join(F.broadcast(rated.select("lang", "keep_rate")), "lang")
        .filter(F.col("hv") / F.lit(65536.0) < F.col("keep_rate"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
    )
    return (
        rated.join(kept, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "keep_rate",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.round(
                F.coalesce(F.col("n_kept"), F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("realized_rate"),
        )
    )


_LANG_TEMP_SQL = f"""
WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
per AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
rated AS (
  SELECT lang, n_docs,
         round(least(CAST(1.0 AS DOUBLE),
                     CAST({dlit(LANG_TEMP_BASE)} AS DOUBLE)
                     * sqrt(CAST(n_total AS DOUBLE) / CAST(n_docs AS DOUBLE))), 6)
             AS keep_rate
  FROM per CROSS JOIN tot
),
kept AS (
  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
  FROM documents d JOIN rated r ON d.lang = r.lang
  WHERE {_hex4_to_int_sql("md5(CAST(doc_id AS VARCHAR) || ':' || d.lang)")}
        / CAST(65536.0 AS DOUBLE) < r.keep_rate
  GROUP BY d.lang
)
SELECT r.lang, r.n_docs, r.keep_rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       round(CAST(coalesce(k.n_kept, 0) AS DOUBLE) / CAST(r.n_docs AS DOUBLE), 6)
           AS realized_rate
FROM rated r LEFT JOIN kept k ON r.lang = k.lang
"""


LENGTH_BUCKETS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
LENGTH_OVERFLOW = 8192


def length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching study: docs are assigned the smallest
    power-of-two bucket holding their token count, and each bucket
    reports its padding waste (tokens padded / tokens allocated) — the
    pad-to-bucket vs pad-to-global-max decision every trainer makes
    before batching sequences.

    The bucket assignment is a codegen'd CASE ladder over the fixed
    power-of-two boundaries (no join, no log2 float edge cases at exact
    powers); everything stays exact int64 until each bucket's ONE final
    division. Docs longer than LENGTH_OVERFLOW land in the overflow
    bucket with padding clamped at 0 (they would be truncated, not
    padded, by the trainer) — without the clamp pad_tokens/waste_frac go
    negative for over-long docs. Scale: explode-free scan + one
    low-cardinality aggregate.
    """
    d = load(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    bucket = F.lit(LENGTH_OVERFLOW)
    for b in reversed(LENGTH_BUCKETS):
        bucket = F.when(F.col("n_tok") <= b, F.lit(b)).otherwise(bucket)
    return (
        d.select("n_tok", bucket.cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("sum_tokens"),
            F.sum(F.greatest(F.col("bucket") - F.col("n_tok"), F.lit(0)))
            .cast("bigint")
            .alias("pad_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "sum_tokens",
            "pad_tokens",
            F.round(
                F.col("pad_tokens").cast("double")
                / (F.col("n_docs") * F.col("bucket")).cast("double"),
                6,
            ).alias("waste_frac"),
        )
    )


def _length_bucketing_sql() -> str:
    ladder = f"CAST({LENGTH_OVERFLOW} AS BIGINT)"
    for b in reversed(LENGTH_BUCKETS):
        ladder = f"CASE WHEN n_tok <= {b} THEN CAST({b} AS BIGINT) ELSE {ladder} END"
    return f"""
WITH d AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents
),
b AS (SELECT n_tok, {ladder} AS bucket FROM d)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       CAST(sum(greatest(bucket - n_tok, 0)) AS BIGINT) AS pad_tokens,
       round(CAST(sum(greatest(bucket - n_tok, 0)) AS DOUBLE)
             / CAST(count(*) * bucket AS DOUBLE), 6) AS waste_frac
FROM b GROUP BY bucket
"""


# --- n-gram LM perplexity quality scoring (round 7) --------------------------

PPL_SMOOTH_K = 1  # add-k smoothing constant (add-one: exact integer counts)
XENT_MAX = 3.45  # nats/token keep threshold for the filter audit


def lm_token_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TOKEN-LEVEL bigram log-probability and perplexity
    under the corpus's own add-one-smoothed bigram LM:
    P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V) over <s>/</s>-padded bigrams,
    xent = -logprob/n in nats, ppl = e^xent. Complements
    ``lm_perplexity`` (llm_lm_perplexity, the CCNet bits-per-token score
    over count-weighted DISTINCT bigrams, alpha=0.5): this one walks
    every token position in order, so its logprob is the exact sequence
    log-likelihood a streaming scorer would emit, and it feeds the
    threshold-gated keep/drop audit below.

    Determinism: counts and V are exact integers; each term is ONE divide
    + ln of identical doubles in both engines; the per-doc sum is a
    position-sorted sequential fold (the entropy/zipf discipline); ppl
    exponentiates the 6-dp-ROUNDED xent so both engines call exp on the
    identical double. Scale: bigram/context tables are distinct-n-gram
    sized with map-side combine; scoring is two shuffled equi-joins on
    the word keys (Zipf-hot heads split by AQE skew handling, same
    posture as ngram_novelty) plus a 1-row broadcast V; the fold state is
    one doc's terms.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_logprob_from_pairs(lm_bigram_pairs(d))


def lm_bigram_pairs(d: DataFrame) -> DataFrame:
    """<s>/</s>-padded positional bigram stream (doc_id, pos, w1, w2) of a
    (doc_id, text) frame — the tokenized projection the streaming mirror
    lands per micro-batch (tokenize once; raw text never re-read)."""
    w = F.split(F.col("text"), " ")
    lhs = F.concat(F.array(F.lit("<s>")), w)
    rhs = F.concat(w, F.array(F.lit("</s>")))
    return d.select(
        "doc_id",
        F.posexplode(F.arrays_zip(lhs.alias("w1"), rhs.alias("w2"))).alias(
            "pos", "bg"
        ),
    ).select("doc_id", "pos", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def lm_logprob_from_pairs(pairs: DataFrame) -> DataFrame:
    """Add-one bigram LM scoring over a positional bigram stream — shared
    by the batch query above and the streaming composition mirror: the
    bigram/context/V tables are integer aggregates of the stream (sums of
    partials merge exactly), and the per-doc fold is position-sorted, so
    the score is identical however the stream was sliced into batches."""
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    v = pairs.agg(F.count_distinct("w2").alias("v"))
    num = (F.col("c_bg") + F.lit(PPL_SMOOTH_K)).cast("double")
    den = (F.col("c_ctx") + F.lit(PPL_SMOOTH_K) * F.col("v")).cast("double")
    terms = (
        pairs.join(bg, ["w1", "w2"])
        .join(ctx, ["w1"])
        .crossJoin(F.broadcast(v))
        .select("doc_id", "pos", F.log(num / den).alias("term"))
    )
    per = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sort_array(F.collect_list(F.struct("pos", "term"))).alias("ts"),
    )
    lp = F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x["term"])
    xent = F.round(-lp / F.col("n_bigrams").cast("double"), 6)
    return per.select(
        "doc_id",
        "n_bigrams",
        F.round(lp, 6).alias("logprob"),
        xent.alias("xent"),
        F.round(F.exp(xent), 6).alias("ppl"),
    )


_LM_BASE_SQL = """
t AS (
  SELECT doc_id, list_prepend('<s>', string_split(text, ' ')) AS l,
         list_append(string_split(text, ' '), '</s>') AS r
  FROM documents),
bgp AS (
  SELECT doc_id, i AS pos, l[i] AS w1, r[i] AS w2
  FROM t, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) s),
bg AS (SELECT w1, w2, count(*) AS c_bg FROM bgp GROUP BY 1, 2),
ctx AS (SELECT w1, count(*) AS c_ctx FROM bgp GROUP BY 1)"""

_LM_TERMS_SQL = f"""{_LM_BASE_SQL},
v AS (SELECT count(DISTINCT w2) AS v FROM bgp),
terms AS (
  SELECT p.doc_id, p.pos,
         ln(CAST(b.c_bg + {PPL_SMOOTH_K} AS DOUBLE)
            / CAST(c.c_ctx + {PPL_SMOOTH_K} * v.v AS DOUBLE)) AS term
  FROM bgp p JOIN bg b ON p.w1 = b.w1 AND p.w2 = b.w2
             JOIN ctx c ON p.w1 = c.w1
             CROSS JOIN v),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         list_reduce(list(term ORDER BY pos), (acc, x) -> acc + x) AS lp
  FROM terms GROUP BY doc_id)"""

_LM_LOGPROB_SQL = f"""
WITH {_LM_TERMS_SQL}
SELECT doc_id, n_bigrams, round(lp, 6) AS logprob,
       round(-lp / CAST(n_bigrams AS DOUBLE), 6) AS xent,
       round(exp(round(-lp / CAST(n_bigrams AS DOUBLE), 6)), 6) AS ppl
FROM per
"""


DSIR_B = 1024  # hashed-feature buckets (2^20 at 100 TB; the plan is B-free)
DSIR_TARGET_SRC = "src0"  # the "target domain" whose distribution is matched


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (Xie et al., "Data Selection
    for Language Models via Importance Resampling", NeurIPS 2023 — the
    standard recipe for selecting pretraining data that matches a target
    domain): hash each <s>/</s>-padded word bigram into one of DSIR_B
    buckets, estimate add-one-smoothed bucket distributions for the
    TARGET domain (source = DSIR_TARGET_SRC) and for the RAW corpus, and
    score every document with its log importance ratio
    w(doc) = sum_b n_doc(b) * [ln p_target(b) - ln p_raw(b)].
    kept = w > 0 marks docs more target-like than the raw average; a
    deployment resamples proportionally to exp(w) — the weights are the
    full artifact.

    Determinism: bucket counts are exact integers; each bucket's
    log-ratio is two ln calls on identical doubles; per-doc summation is
    a bucket-ascending sorted fold of identical products (the
    feature_hashing / lm_token_logprob discipline); weight rounds to 6dp
    at the boundary only. Scale: the bigram stream shuffles ONCE into
    (doc_id, bucket) counts with map-side combine; both distribution
    tables are <= DSIR_B rows, so the log-ratio table broadcasts; the
    per-doc fold adds no further shuffle. Reuses ``lm_bigram_pairs`` —
    the featurizer is shared with the LM-scoring family."""
    from .tables import fan_out

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return dsir_from_feats(dsir_feats(fan_out(docs)))


def dsir_feats(d: DataFrame, n_buckets: int = DSIR_B) -> DataFrame:
    """Per-doc hashed-bigram feature counts (doc_id, source, b, c) — the
    DISTRIBUTIVE partial the streaming mirror lands per micro-batch: a
    document lives wholly in one batch, so merged partials equal the
    one-shot feature table row-for-row (exact integers). ``n_buckets``
    defaults preserve the registered query; the width-stability audit
    passes other values."""
    pairs = lm_bigram_pairs(d.select("doc_id", "text"))
    feats = (
        pairs.select(
            "doc_id",
            (
                _hex4_to_int(F.md5(F.concat_ws(" ", "w1", "w2"))) % n_buckets
            ).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return feats.join(d.select("doc_id", "source"), "doc_id")


def dsir_from_feats(feats: DataFrame, n_buckets: int = DSIR_B) -> DataFrame:
    """Weights from merged feature partials — shared by the batch query
    and the streaming mirror (the nb_partials posture: emission reruns
    this kernel over COUNT ROWS, never raw text, because BOTH bucket
    distributions move with every batch and every landed doc's weight
    moves with them)."""
    src = feats.select("doc_id", "source").distinct()
    raw = feats.groupBy("b").agg(F.sum("c").cast("bigint").alias("c_r"))
    tgt = (
        feats.join(
            src.filter(F.col("source") == DSIR_TARGET_SRC), "doc_id", "left_semi"
        )
        .groupBy("b")
        .agg(F.sum("c").cast("bigint").alias("c_t"))
    )
    tots = raw.agg(
        F.coalesce(F.sum("c_r"), F.lit(0)).cast("bigint").alias("n_r")
    ).crossJoin(
        tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).cast("bigint").alias("n_t"))
    )
    lr = F.log(
        (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("n_t") + F.lit(n_buckets)).cast("double")
    ) - F.log(
        (F.col("c_r") + F.lit(1)).cast("double")
        / (F.col("n_r") + F.lit(n_buckets)).cast("double")
    )
    lrt = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select("b", lr.alias("lr"))
    )
    per = (
        feats.join(F.broadcast(lrt), "b")
        .select(
            "doc_id",
            "b",
            "c",
            (F.col("c").cast("double") * F.col("lr")).alias("v"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            F.count(F.lit(1)).cast("bigint").alias("nnz"),
            F.sort_array(F.collect_list(F.struct("b", "v"))).alias("ts"),
        )
    )
    wsum = F.aggregate(F.col("ts"), F.lit(0.0), lambda a, x: a + x["v"])
    return (
        per.select("doc_id", "n_feats", "nnz", wsum.alias("wsum"))
        .join(src, "doc_id")
        .select(
            "doc_id",
            "source",
            "n_feats",
            "nnz",
            F.round("wsum", 6).alias("weight"),
            (F.col("wsum") > 0).cast("int").alias("kept"),
        )
    )


def _dsir_sql(n_buckets: int = DSIR_B) -> str:
    return f"""
WITH {_LM_BASE_SQL},
feats AS (
  SELECT doc_id, {_hex4_to_int_sql("md5(w1 || ' ' || w2)")} % {n_buckets} AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM bgp GROUP BY 1, 2),
raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS c_r FROM feats GROUP BY 1),
tgt AS (
  SELECT f.b, CAST(sum(f.c) AS BIGINT) AS c_t
  FROM feats f JOIN documents d USING (doc_id)
  WHERE d.source = '{DSIR_TARGET_SRC}' GROUP BY 1),
tot AS (
  SELECT CAST((SELECT coalesce(sum(c_r), 0) FROM raw) AS BIGINT) AS n_r,
         CAST((SELECT coalesce(sum(c_t), 0) FROM tgt) AS BIGINT) AS n_t),
lrt AS (
  SELECT r.b,
         ln(CAST(coalesce(t.c_t, 0) + 1 AS DOUBLE)
            / CAST(n_t + {n_buckets} AS DOUBLE))
         - ln(CAST(r.c_r + 1 AS DOUBLE)
              / CAST(n_r + {n_buckets} AS DOUBLE)) AS lr
  FROM raw r LEFT JOIN tgt t ON r.b = t.b CROSS JOIN tot),
per AS (
  SELECT f.doc_id, CAST(sum(f.c) AS BIGINT) AS n_feats,
         CAST(count(*) AS BIGINT) AS nnz,
         list_reduce(list(CAST(f.c AS DOUBLE) * l.lr ORDER BY f.b),
                     (a, x) -> a + x) AS wsum
  FROM feats f JOIN lrt l ON f.b = l.b GROUP BY 1)
SELECT p.doc_id, d.source, p.n_feats, p.nnz,
       round(p.wsum, 6) AS weight,
       CAST(p.wsum > 0 AS INTEGER) AS kept
FROM per p JOIN documents d USING (doc_id)
"""


LM_LAMBDA = 0.7  # Jelinek-Mercer bigram weight
LM_LAMBDA2 = 1.0 - LM_LAMBDA  # computed once so both engines see one double


def lm_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM scoring — the smoothing
    family CCNet-style filters actually ship (add-k over-penalizes unseen
    bigrams of common words; interpolation backs off to the unigram):
    P(w2|w1) = lam*c(w1,w2)/c(w1) + (1-lam)*(c(w2)+1)/(N+V), per-doc
    sequence logprob / cross-entropy / perplexity, same output shape as
    lm_token_logprob so the two smoothers are directly comparable.

    Determinism: counts/N/V are exact integers; each term is a fixed dag
    of two divisions, two multiplies, one add, one ln of identical
    doubles; the per-doc sum is the position-sorted sequential fold.
    Scale: same posture as lm_token_logprob plus one unigram join —
    n-gram-table-sized map-side-combining aggregates, Zipf-hot heads
    handled by AQE skew handling."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    lhs = F.concat(F.array(F.lit("<s>")), w)
    rhs = F.concat(w, F.array(F.lit("</s>")))
    pairs = d.select(
        "doc_id",
        F.posexplode(F.arrays_zip(lhs.alias("w1"), rhs.alias("w2"))).alias(
            "pos", "bg"
        ),
    ).select("doc_id", "pos", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    uni = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("c_uni"))
    tot = pairs.agg(
        F.count(F.lit(1)).alias("n_tot"), F.count_distinct("w2").alias("v")
    )
    p_bg = F.col("c_bg").cast("double") / F.col("c_ctx").cast("double")
    p_uni = (F.col("c_uni") + 1).cast("double") / (
        F.col("n_tot") + F.col("v")
    ).cast("double")
    terms = (
        pairs.join(bg, ["w1", "w2"])
        .join(ctx, ["w1"])
        .join(uni, ["w2"])
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "pos",
            F.log(
                F.lit(LM_LAMBDA) * p_bg + F.lit(LM_LAMBDA2) * p_uni
            ).alias("term"),
        )
    )
    per = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sort_array(F.collect_list(F.struct("pos", "term"))).alias("ts"),
    )
    lp = F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x["term"])
    xent = F.round(-lp / F.col("n_bigrams").cast("double"), 6)
    return per.select(
        "doc_id",
        "n_bigrams",
        F.round(lp, 6).alias("logprob"),
        xent.alias("xent"),
        F.round(F.exp(xent), 6).alias("ppl"),
    )


_LM_INTERP_SQL = f"""
WITH {_LM_BASE_SQL},
uni AS (SELECT w2, count(*) AS c_uni FROM bgp GROUP BY 1),
tot AS (SELECT count(*) AS n_tot, count(DISTINCT w2) AS v FROM bgp),
iterms AS (
  SELECT p.doc_id, p.pos,
         ln({dlit(LM_LAMBDA)}
              * (CAST(b.c_bg AS DOUBLE) / CAST(c.c_ctx AS DOUBLE))
            + {dlit(LM_LAMBDA2)}
              * (CAST(u.c_uni + 1 AS DOUBLE)
                 / CAST(t.n_tot + t.v AS DOUBLE))) AS term
  FROM bgp p JOIN bg b ON p.w1 = b.w1 AND p.w2 = b.w2
             JOIN ctx c ON p.w1 = c.w1
             JOIN uni u ON p.w2 = u.w2
             CROSS JOIN tot t),
iper AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         list_reduce(list(term ORDER BY pos), (acc, x) -> acc + x) AS lp
  FROM iterms GROUP BY doc_id)
SELECT doc_id, n_bigrams, round(lp, 6) AS logprob,
       round(-lp / CAST(n_bigrams AS DOUBLE), 6) AS xent,
       round(exp(round(-lp / CAST(n_bigrams AS DOUBLE), 6)), 6) AS ppl
FROM iper
"""


KN_DISCOUNT = 0.75  # absolute discount D — exactly representable double


def lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram LM scoring — completes the smoothing
    ladder next to add-k (lm_token_logprob) and Jelinek-Mercer
    (lm_interpolated): absolute discounting with the CONTINUATION unigram
    P_cont(w2) = N1+(.,w2) / N1+(.,.) as the back-off (Kneser & Ney 1995;
    Chen & Goodman 1999 — the smoother n-gram filters standardize on):

        P_KN(w2|w1) = max(c(w1,w2) - D, 0)/c(w1)
                      + D * N1+(w1,.)/c(w1) * P_cont(w2)

    Same per-doc output shape (logprob / xent / ppl) so all three
    smoothers are directly comparable per document. Because the corpus is
    scored under its own LM every bigram was observed (c >= 1 > D), so
    the max() never zeroes and every term's log argument is positive.

    Determinism: all five count tables (bigram, context, left/right
    continuation-type counts, total bigram types) are exact integers;
    each term is a fixed dag of doubles evaluated identically in both
    engines; the per-doc sum is the position-sorted sequential fold.
    Scale: the continuation tables are DISTINCT-BIGRAM-sized aggregates
    of the bg table (strictly smaller than the corpus), so this adds two
    cheap word-keyed joins to the lm_token_logprob posture — Zipf-hot
    heads split by AQE skew handling, 1-row type total broadcast."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_kn_from_pairs(lm_bigram_pairs(d))


def lm_kn_from_pairs(pairs: DataFrame) -> DataFrame:
    """KN scoring over a positional bigram stream — shared with the
    streaming mirror: all five count tables are integer aggregates of the
    stream (sums of partials merge exactly) and the per-doc fold is
    position-sorted, so the score is identical however the stream was
    sliced into batches (the lm_logprob_from_pairs discipline)."""
    bg = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    # continuation-type tables: counts of DISTINCT bigram types, not tokens
    n1f = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n1f"))
    n1b = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n1b"))
    tt = bg.agg(F.count(F.lit(1)).alias("tt"))
    disc = (
        F.greatest(
            F.col("c_bg").cast("double") - F.lit(KN_DISCOUNT), F.lit(0.0)
        )
        / F.col("c_ctx").cast("double")
    )
    lam = (
        F.lit(KN_DISCOUNT) * F.col("n1f").cast("double")
    ) / F.col("c_ctx").cast("double")
    pcont = F.col("n1b").cast("double") / F.col("tt").cast("double")
    terms = (
        pairs.join(bg, ["w1", "w2"])
        .join(ctx, ["w1"])
        .join(n1f, ["w1"])
        .join(n1b, ["w2"])
        .crossJoin(F.broadcast(tt))
        .select("doc_id", "pos", F.log(disc + lam * pcont).alias("term"))
    )
    per = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sort_array(F.collect_list(F.struct("pos", "term"))).alias("ts"),
    )
    lp = F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x["term"])
    xent = F.round(-lp / F.col("n_bigrams").cast("double"), 6)
    return per.select(
        "doc_id",
        "n_bigrams",
        F.round(lp, 6).alias("logprob"),
        xent.alias("xent"),
        F.round(F.exp(xent), 6).alias("ppl"),
    )


_LM_KN_SQL = f"""
WITH {_LM_BASE_SQL},
n1f AS (SELECT w1, count(*) AS n1f FROM bg GROUP BY 1),
n1b AS (SELECT w2, count(*) AS n1b FROM bg GROUP BY 1),
tt AS (SELECT count(*) AS tt FROM bg),
kterms AS (
  SELECT p.doc_id, p.pos,
         ln(greatest(CAST(b.c_bg AS DOUBLE) - {dlit(KN_DISCOUNT)},
                     {dlit(0.0)}) / CAST(c.c_ctx AS DOUBLE)
            + (({dlit(KN_DISCOUNT)} * CAST(f.n1f AS DOUBLE))
               / CAST(c.c_ctx AS DOUBLE))
              * (CAST(k.n1b AS DOUBLE) / CAST(t.tt AS DOUBLE))) AS term
  FROM bgp p JOIN bg b ON p.w1 = b.w1 AND p.w2 = b.w2
             JOIN ctx c ON p.w1 = c.w1
             JOIN n1f f ON p.w1 = f.w1
             JOIN n1b k ON p.w2 = k.w2
             CROSS JOIN tt t),
kper AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         list_reduce(list(term ORDER BY pos), (acc, x) -> acc + x) AS lp
  FROM kterms GROUP BY doc_id)
SELECT doc_id, n_bigrams, round(lp, 6) AS logprob,
       round(-lp / CAST(n_bigrams AS DOUBLE), 6) AS xent,
       round(exp(round(-lp / CAST(n_bigrams AS DOUBLE), 6)), 6) AS ppl
FROM kper
"""


def lm_ppl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of perplexity filtering (the decontam_filter shape):
    drop docs whose bigram cross-entropy under the corpus LM exceeds
    XENT_MAX nats/token and report per-source kept/removed docs plus
    characters removed — the audit line the quality gate ships. The
    threshold compares the 6-dp-rounded xent, so engine agreement follows
    from lm_token_logprob's. Scale: composes the scoring plan with one
    per-source aggregate; every doc has >= 2 padded bigrams, so the join
    is inner and complete."""
    scores = lm_token_logprob(spark, sf_dir).select("doc_id", "xent")
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    j = d.join(scores, "doc_id").withColumn(
        "removed", (F.col("xent") > F.lit(XENT_MAX)).cast("int")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("removed").cast("bigint").alias("n_removed"),
        (F.count(F.lit(1)) - F.sum("removed")).cast("bigint").alias("n_kept"),
        F.sum(F.col("n_chars") * F.col("removed"))
        .cast("bigint")
        .alias("chars_removed"),
    )


_LM_PPL_FILTER_SQL = f"""
WITH {_LM_TERMS_SQL},
scores AS (
  SELECT doc_id, round(-lp / CAST(n_bigrams AS DOUBLE), 6) AS xent FROM per),
j AS (
  SELECT d.source, d.n_chars,
         CASE WHEN s.xent > CAST({XENT_MAX} AS DOUBLE) THEN 1 ELSE 0 END AS removed
  FROM documents d JOIN scores s ON d.doc_id = s.doc_id)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(removed) AS BIGINT) AS n_removed,
       CAST(count(*) - sum(removed) AS BIGINT) AS n_kept,
       CAST(sum(n_chars * removed) AS BIGINT) AS chars_removed
FROM j GROUP BY source
"""


# --- Gopher-style quality rule battery (round 7) -----------------------------

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 90
GOPHER_MIN_MEAN_LEN = 4  # mean word length bounds, integer cross-multiplied
GOPHER_MAX_MEAN_LEN = 5
GOPHER_MAX_DIGIT_FRAC10 = 1  # digit words <= n/10
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality audit (Rae et al.): per document,
    the four classic structural rules — word-count bounds, mean-word-length
    bounds, digit-token fraction cap, minimum stop-word count — each as an
    EXACT-integer predicate (mean-length bounds via cross-multiplication:
    lo·n <= chars <= hi·n, so no float ever enters a rule), plus the
    conjunction. Word characters come from the closed form
    len(text) - (n_words - 1) (single-space joined), identical in both
    engines. The model-based complement is lm_token_logprob/lm_ppl_filter;
    this is the cheap first gate a 100 TB curation pass runs in pure
    codegen over the scan — no shuffle at all."""
    return gopher_rules_from(load(spark, sf_dir, "documents"))


def gopher_rules_from(d: DataFrame) -> DataFrame:
    """DataFrame-input form — shared with the streaming mirror, which
    scores each micro-batch independently (per-doc stateless rules, so
    the union of batch outputs IS the batch answer)."""
    d = d.select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    n = F.size(w).cast("bigint")
    chars = (F.length("text") - (n - 1)).cast("bigint")
    stops = stopword_count(F.col("text"), LANG_STOPWORDS["en"])
    digits = F.size(F.filter(w, lambda x: x.rlike("^[0-9]+$"))).cast("bigint")
    r1 = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    r2 = (chars >= GOPHER_MIN_MEAN_LEN * n) & (chars <= GOPHER_MAX_MEAN_LEN * n)
    r3 = digits * 10 <= GOPHER_MAX_DIGIT_FRAC10 * n
    r4 = stops >= GOPHER_MIN_STOPWORDS
    return d.select(
        "doc_id",
        n.alias("n_words"),
        chars.alias("word_chars"),
        stops.alias("n_stop"),
        digits.alias("n_digit"),
        r1.cast("int").alias("r_wordcount"),
        r2.cast("int").alias("r_wordlen"),
        r3.cast("int").alias("r_digits"),
        r4.cast("int").alias("r_stopwords"),
        (r1 & r2 & r3 & r4).cast("int").alias("passes"),
    )


def _gopher_rules_sql() -> str:
    stops = stopword_count_sql("text", LANG_STOPWORDS["en"])
    return f"""
WITH d AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT) AS chars,
         {stops} AS stops,
         CAST(len([w for w in string_split(text, ' ')
                   if regexp_matches(w, '^[0-9]+$')]) AS BIGINT) AS digits
  FROM documents
),
r AS (
  SELECT *,
         CASE WHEN n >= {GOPHER_MIN_WORDS} AND n <= {GOPHER_MAX_WORDS}
              THEN 1 ELSE 0 END AS r1,
         CASE WHEN chars >= {GOPHER_MIN_MEAN_LEN} * n
               AND chars <= {GOPHER_MAX_MEAN_LEN} * n THEN 1 ELSE 0 END AS r2,
         CASE WHEN digits * 10 <= {GOPHER_MAX_DIGIT_FRAC10} * n
              THEN 1 ELSE 0 END AS r3,
         CASE WHEN stops >= {GOPHER_MIN_STOPWORDS} THEN 1 ELSE 0 END AS r4
  FROM d
)
SELECT doc_id, n AS n_words, chars AS word_chars, stops AS n_stop,
       digits AS n_digit,
       CAST(r1 AS INTEGER) AS r_wordcount, CAST(r2 AS INTEGER) AS r_wordlen,
       CAST(r3 AS INTEGER) AS r_digits, CAST(r4 AS INTEGER) AS r_stopwords,
       CAST(r1 * r2 * r3 * r4 AS INTEGER) AS passes
FROM r
"""


def dedup_survivor_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-dedup reweighting: instead of discarding exact duplicates,
    each fingerprint group's survivor (lowest doc_id) carries the group
    multiplicity as a sampling weight — downstream samplers then see the
    corpus-frequency signal (a doc crawled 40 times matters) without the
    40 redundant copies. weight_frac is each survivor's share of total
    corpus mass (one division, rounded). Scale: the same single
    fingerprint aggregate as dedup_exact; weights ride the group row."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    grp = d.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).cast("bigint").alias("weight"),
    )
    tot = grp.agg(F.sum("weight").cast("bigint").alias("total"))
    return (
        grp.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "weight",
            F.round(
                F.col("weight").cast("double") / F.col("total").cast("double"), 6
            ).alias("weight_frac"),
        )
    )


def _survivor_weights_sql() -> str:
    return f"""
WITH g AS (
  SELECT {fingerprint_sql('text')} AS fp,
         CAST(min(doc_id) AS BIGINT) AS doc_id,
         CAST(count(*) AS BIGINT) AS weight
  FROM documents GROUP BY 1
),
t AS (SELECT CAST(sum(weight) AS BIGINT) AS total FROM g)
SELECT doc_id, weight,
       round(CAST(weight AS DOUBLE) / CAST(total AS DOUBLE), 6) AS weight_frac
FROM g CROSS JOIN t
"""


# --- curriculum deciles (round 7) --------------------------------------------

CURR_QS = tuple(k / 10.0 for k in range(1, 10))


def curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordering study: docs bucketed into LM cross-entropy
    deciles (easy → hard), with doc/token volumes and the mean xent per
    decile — the allocation table a curriculum or quality-pacing schedule
    reads. SCALE-CORRECT bucketing: the nine decile boundaries come from
    ONE percentile aggregate (broadcast back, rounded 4 dp so both
    engines compare identical doubles; ties fall to the lower decile) and
    membership is a codegen CASE-sum — never an ntile window over the
    full corpus (a global single-task sort at 100 TB). Mean xent is an
    exact DECIMAL(18,6) sum divided once."""
    x = lm_token_logprob(spark, sf_dir).select("doc_id", "xent")
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    j = x.join(toks, "doc_id")
    bounds = j.agg(
        *[
            F.round(F.percentile("xent", q), 4).alias(f"b{k}")
            for k, q in enumerate(CURR_QS)
        ]
    )
    dec = F.lit(1)
    for k in range(len(CURR_QS)):
        dec = dec + (F.col("xent") > F.col(f"b{k}")).cast("int")
    return (
        j.crossJoin(F.broadcast(bounds))
        .select("doc_id", "xent", "n_tok", dec.cast("int").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.col("xent").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_xent"),
        )
    )


def _curriculum_sql() -> str:
    bcols = ",\n         ".join(
        f"round(quantile_cont(xent, {q!r}), 4) AS b{k}"
        for k, q in enumerate(CURR_QS)
    )
    dec = " + ".join(
        f"CASE WHEN xent > b{k} THEN 1 ELSE 0 END" for k in range(len(CURR_QS))
    )
    return f"""
WITH x AS (SELECT doc_id, xent FROM ({_LM_LOGPROB_SQL})),
toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
j AS (SELECT x.doc_id, x.xent, toks.n_tok FROM x JOIN toks ON x.doc_id = toks.doc_id),
bounds AS (
  SELECT {bcols}
  FROM j
),
labeled AS (
  SELECT doc_id, xent, n_tok, CAST(1 + {dec} AS INTEGER) AS decile
  FROM j CROSS JOIN bounds
)
SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(xent AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_xent
FROM labeled GROUP BY decile
"""


# --- deflated second PCA component (round 7) ---------------------------------


def pca_deflated_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second step of iterative PCA: deflate every vector against the
    first loading direction (x' = x - <x, v1>·v1, with v1 the 6-dp
    loading vector pca_power_iter publishes — both engines deflate
    against the IDENTICAL rounded doubles), then run one power step
    u2 = X'ᵀ(X'v0) on the deflated data and report the normalized
    second loading. Because every x' is orthogonal to v1 by construction,
    u2 — a combination of the x' — is orthogonal to v1 up to deflation
    rounding; the pytest pins <l1, l2> ≈ 0, turning "loops this plan"
    into demonstrated multi-component machinery.

    Scale shape: v1 is a 64-row broadcast; the projection and deflation
    are vec-keyed folds; u2 is the same 64-group aggregate as component
    one. Nothing all-pairs, no driver matrices."""
    v1 = pca_power_iter(spark, sf_dir).select("pos", F.col("loading").alias("l1"))
    e = _emb_ok(spark, sf_dir)
    ex = e.select(
        "vec_id", F.posexplode(to_double(F.col("embedding"))).alias("pos", "x")
    ).join(F.broadcast(v1), "pos")
    proj = (
        ex.select(
            "vec_id", F.struct("pos", (F.col("x") * F.col("l1")).alias("t")).alias("pt")
        )
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list("pt")).alias("pts"))
        .select(
            "vec_id",
            F.aggregate("pts", F.lit(0.0), lambda a, s: a + s.getField("t")).alias(
                "proj"
            ),
        )
    )
    defl = ex.join(proj, "vec_id").select(
        "vec_id", "pos", (F.col("x") - F.col("proj") * F.col("l1")).alias("xd")
    )
    s2 = (
        defl.select(
            "vec_id",
            F.struct("pos", (F.col("xd") * F.lit(PCA_V0)).alias("t")).alias("pt"),
        )
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list("pt")).alias("pts"))
        .select(
            "vec_id",
            F.aggregate("pts", F.lit(0.0), lambda a, s: a + s.getField("t")).alias(
                "s2"
            ),
        )
    )
    u2 = (
        defl.join(s2, "vec_id")
        .select(
            "pos",
            F.struct("vec_id", (F.col("s2") * F.col("xd")).alias("t")).alias("st"),
        )
        .groupBy("pos")
        .agg(F.array_sort(F.collect_list("st")).alias("sts"))
        .select(
            "pos",
            F.aggregate("sts", F.lit(0.0), lambda a, s: a + s.getField("t")).alias(
                "u"
            ),
        )
    )
    nrm = u2.agg(
        F.sqrt(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "u"))),
                    lambda s: s.getField("u") * s.getField("u"),
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("nrm")
    )
    return u2.crossJoin(F.broadcast(nrm)).select(
        F.col("pos").cast("bigint").alias("pos"),
        F.round(F.col("u") / F.col("nrm"), 6).alias("loading2"),
    )


def _pca_deflated_sql() -> str:
    return f"""
WITH pca1 AS ({_PCA_SQL}),
emb AS (SELECT vec_id, embedding FROM embeddings WHERE len(embedding) = {EMB_DIM}),
ex AS (
  SELECT e.vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM emb e, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
),
exj AS (
  SELECT ex.vec_id, ex.pos, ex.x, p.loading AS l1
  FROM ex JOIN pca1 p ON ex.pos = p.pos
),
proj AS (
  SELECT vec_id,
         list_reduce(list_prepend({dlit(0.0)}, list(x * l1 ORDER BY pos)),
                     (a, t) -> a + t) AS proj
  FROM exj GROUP BY vec_id
),
defl AS (
  SELECT e.vec_id, e.pos, e.x - p.proj * e.l1 AS xd
  FROM exj e JOIN proj p ON e.vec_id = p.vec_id
),
s2 AS (
  SELECT vec_id,
         list_reduce(list_prepend({dlit(0.0)},
                     list(xd * {dlit(PCA_V0)} ORDER BY pos)),
                     (a, t) -> a + t) AS s2
  FROM defl GROUP BY vec_id
),
u2 AS (
  SELECT d.pos,
         list_reduce(list_prepend({dlit(0.0)},
                     list(s.s2 * d.xd ORDER BY d.vec_id)),
                     (a, t) -> a + t) AS u
  FROM defl d JOIN s2 s ON d.vec_id = s.vec_id
  GROUP BY d.pos
),
nrm AS (
  SELECT sqrt(list_reduce(list_prepend({dlit(0.0)},
              list(u * u ORDER BY pos)), (a, x) -> a + x)) AS nrm
  FROM u2
)
SELECT CAST(pos AS BIGINT) AS pos, round(u / nrm, 6) AS loading2
FROM u2 CROSS JOIN nrm
"""


# --- contamination n-gram sensitivity sweep (round 7) ------------------------

CONTAM_SWEEP_NS = (3, 5, 8, 13)


def contamination_by_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-detector sensitivity sweep: the fraction of corpus
    docs flagged (>= 1 benchmark shingle hit) at word-n-gram sizes 3, 5,
    8, 13 — the parameter study behind the n choice (3-grams fire on
    topic overlap, GPT-3's 13-gram convention fires only on verbatim
    spans). One row per n with doc counts and the flag rate.

    Scale: each n is the contamination_check shape — bench shingles are
    fixed-size by contract and broadcast; the corpus side ships
    (doc_id, shingle) pairs into a distinct + 1-row count. The union of
    four 1-row frames costs four corpus scans; a production sweep would
    share one explode of the max-n grams and derive the shorter ones."""
    d = fan_out(load(spark, sf_dir, "documents")).select("doc_id", "text")
    out = None
    for n in CONTAM_SWEEP_NS:
        sh = exploded_shingles(d, k=n).distinct()
        bench = sh.filter(F.col("doc_id") < CONTAM_BENCH_MAX_ID).select("s").distinct()
        corp = sh.filter(F.col("doc_id") >= CONTAM_BENCH_MAX_ID)
        flagged = corp.join(F.broadcast(bench), "s").select("doc_id").distinct()
        row = (
            corp.select("doc_id")
            .distinct()
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
            .crossJoin(
                flagged.agg(F.count(F.lit(1)).cast("bigint").alias("n_flagged"))
            )
            .select(
                F.lit(n).cast("int").alias("n_gram"),
                "n_docs",
                "n_flagged",
                F.round(
                    F.col("n_flagged").cast("double") / F.col("n_docs").cast("double"),
                    6,
                ).alias("flag_rate"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _contam_by_n_sql() -> str:
    legs = []
    for n in CONTAM_SWEEP_NS:
        sh = f"""(SELECT DISTINCT doc_id, unnest({shingles_sql('text', n)}) AS s
                 FROM documents)"""
        legs.append(
            f"""
SELECT CAST({n} AS INTEGER) AS n_gram,
       t.n_docs, f.n_flagged,
       round(CAST(f.n_flagged AS DOUBLE) / CAST(t.n_docs AS DOUBLE), 6)
         AS flag_rate
FROM (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM {sh} c WHERE doc_id >= {CONTAM_BENCH_MAX_ID}) t
CROSS JOIN
     (SELECT CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_flagged
      FROM {sh} c
      JOIN (SELECT DISTINCT s FROM {sh} b
            WHERE doc_id < {CONTAM_BENCH_MAX_ID}) bs ON c.s = bs.s
      WHERE c.doc_id >= {CONTAM_BENCH_MAX_ID}) f"""
        )
    return "\nUNION ALL\n".join(legs)


# --- composed pretraining pipeline v2 (round 7) ------------------------------

PIPE2_MAX_REPEATED = 0.5  # drop docs that are mostly repeated spans


def pretrain_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6/7 curation stack as ONE composed lazy plan — the
    second-generation sibling of llm_curation_pipeline (which composes
    the round-2 stages): URL-canonicalization dedup (latest crawl per
    canonical URL) → Gopher structural gate → LM cross-entropy gate →
    drop mostly-repeated-span docs → inverse-sqrt language temperature
    sampling over the SURVIVOR distribution (the realistic order: rates
    re-derive from the cleaned corpus, not the raw crawl) → per-language
    release accounting. Every stage is an already-oracle-checked
    operator; this query value-checks their COMPOSITION.

    Scale: keep/drop sets are doc_id-keyed semi/anti joins; the wide
    stages (winnow, LM scoring) appear exactly once each; the temperature
    rates are a lang-sized broadcast."""
    url_keep = url_dedup(spark, sf_dir).select(F.col("kept_doc_id").alias("doc_id"))
    gop = gopher_rules(spark, sf_dir).filter(F.col("passes") == 1).select("doc_id")
    ppl = (
        lm_token_logprob(spark, sf_dir)
        .filter(F.col("xent") <= XENT_MAX)
        .select("doc_id")
    )
    heavy = (
        repeated_spans(spark, sf_dir)
        .filter(F.col("repeated_frac") > PIPE2_MAX_REPEATED)
        .select("doc_id")
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    surv = (
        d.join(url_keep, "doc_id", "leftsemi")
        .join(gop, "doc_id", "leftsemi")
        .join(ppl, "doc_id", "leftsemi")
        .join(heavy, "doc_id", "left_anti")
    )
    return pretrain_release_accounting(
        surv.select("doc_id", "lang", word_count(F.col("text")).alias("n_tok"))
    )


def pretrain_release_accounting(surv: DataFrame) -> DataFrame:
    """The pipeline's release tail over the survivor set (doc_id, lang,
    n_tok): survivor-distribution temperature rates, deterministic hash
    gate, per-language kept/token accounting. Shared by the batch query
    above and the streaming composition mirror — every aggregate here is
    a count or an int64 sum, so it commutes with any slicing of how the
    survivor set was assembled."""
    # Consume `surv` ONCE: every further consumer re-runs the whole gated
    # subtree (four gate joins over the documents scan). It is aggregated
    # to (lang, hv), at most |langs| x 65,536 rows; n_after_gates is a
    # per-lang window sum over that frame, n_total an unpartitioned one,
    # and the kept totals are conditional sums under the rate.
    hv = _hex4_to_int(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("lang")))
    )
    by_hv = surv.groupBy("lang", hv.alias("hv")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("tok")
    )
    n_after = F.sum("n").over(W.partitionBy("lang")).cast("bigint")
    n_total = F.sum("n").over(W.partitionBy()).cast("bigint")
    rate = F.least(
        F.lit(1.0),
        F.lit(LANG_TEMP_BASE) * F.sqrt(n_total.cast("double") / n_after.cast("double")),
    )
    keep = F.col("hv") / F.lit(65536.0) < F.col("keep_rate")

    def kept(c: str) -> Column:
        return F.coalesce(F.sum(F.when(keep, F.col(c))), F.lit(0)).cast("bigint")

    return (
        by_hv.select("*", n_after.alias("n_after_gates"), F.round(rate, 6).alias("keep_rate"))
        .groupBy("lang", "n_after_gates", "keep_rate")
        .agg(kept("n").alias("n_kept"), kept("tok").alias("n_tokens_kept"))
    )


def _pipeline_v2_sql() -> str:
    gate = f"""
url_keep AS (SELECT kept_doc_id AS doc_id FROM ({_URL_DEDUP_SQL})),
gop AS (SELECT doc_id FROM ({_gopher_rules_sql()}) WHERE passes = 1),
ppl AS (SELECT doc_id FROM ({_LM_LOGPROB_SQL})
        WHERE xent <= CAST({XENT_MAX} AS DOUBLE)),
heavy AS (SELECT doc_id FROM ({_REPEATED_SPANS_SQL})
          WHERE repeated_frac > CAST({PIPE2_MAX_REPEATED} AS DOUBLE)),
surv AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d
  SEMI JOIN url_keep u ON d.doc_id = u.doc_id
  SEMI JOIN gop g ON d.doc_id = g.doc_id
  SEMI JOIN ppl p ON d.doc_id = p.doc_id
  ANTI JOIN heavy h ON d.doc_id = h.doc_id
),
per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_after_gates
        FROM surv GROUP BY lang),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM surv),
rated AS (
  SELECT lang, n_after_gates,
         round(least(CAST(1.0 AS DOUBLE),
                     CAST({dlit(LANG_TEMP_BASE)} AS DOUBLE)
                     * sqrt(CAST(n_total AS DOUBLE)
                            / CAST(n_after_gates AS DOUBLE))), 6) AS keep_rate
  FROM per CROSS JOIN tot
),
kept AS (
  SELECT s.lang, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(sum(len(string_split(s.text, ' '))) AS BIGINT) AS n_tokens_kept
  FROM surv s JOIN rated r ON s.lang = r.lang
  WHERE {_hex4_to_int_sql("md5(CAST(s.doc_id AS VARCHAR) || ':' || s.lang)")}
        / CAST(65536.0 AS DOUBLE) < r.keep_rate
  GROUP BY s.lang
)"""
    return f"""
WITH {gate}
SELECT r.lang, r.n_after_gates, r.keep_rate,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(k.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept
FROM rated r LEFT JOIN kept k ON r.lang = k.lang
"""


# --- dataset snapshot diff (round 7) -----------------------------------------

DIFF_ADD_MOD = 17  # doc_id % 17 == 3: present only in the CURRENT snapshot
DIFF_CHG_MOD = 13  # doc_id % 13 == 5: text differs between snapshots
DIFF_RM_MOD = 19  # doc_id % 19 == 7: spawns a prev-only doc (removed since)
# Sentinel offset for synthetic prev-only ids. Must live FAR outside any real
# or replica-scaled doc_id range: tools/scaling_curve.py densifies lakes by
# adding i*10_000_000 to doc_ids, so a 10M offset here would collide with
# replica-1 ids and silently misclassify rows (r7 ADVICE). 10**12 clears any
# plausible replica count while staying exact in int64 (and in the float
# arithmetic DuckDB may use for the + literal).
DIFF_RM_OFFSET = 10**12


def dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff: current snapshot vs the previous release,
    classified added / removed / changed / unchanged by a full-outer join
    on doc_id with fingerprint comparison — the audit row a dataset card
    carries between versions ("what moved since v1?"). The previous
    snapshot is DERIVED deterministically from the lake (docs % ADD are
    new in current; % CHG had different text before; % RM spawn
    prev-only ids), so the oracle replays the identical construction.
    Output: per-status doc and char volumes.

    Scale: both sides reduce to (doc_id, fingerprint, n_chars) before the
    one doc_id-keyed full-outer join; text never shuffles. At 100 TB the
    prev side is the previous release's manifest, not a re-derivation."""
    cur = load(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fp"), F.col("n_chars")
    )
    d = load(spark, sf_dir, "documents")
    prev_kept = d.filter(F.col("doc_id") % DIFF_ADD_MOD != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % DIFF_CHG_MOD == 5,
            fingerprint(F.concat(F.lit("v1 "), F.col("text"))),
        )
        .otherwise(fingerprint(F.col("text")))
        .alias("fp"),
        "n_chars",
    )
    prev_rm = d.filter(F.col("doc_id") % DIFF_RM_MOD == 7).select(
        (F.col("doc_id") + DIFF_RM_OFFSET).alias("doc_id"),
        fingerprint(F.col("text")).alias("fp"),
        "n_chars",
    )
    prev = prev_kept.unionByName(prev_rm)
    j = cur.alias("c").join(
        prev.alias("p"), F.col("c.doc_id") == F.col("p.doc_id"), "full_outer"
    )
    status = (
        F.when(F.col("p.doc_id").isNull(), F.lit("added"))
        .when(F.col("c.doc_id").isNull(), F.lit("removed"))
        .when(F.col("c.fp") != F.col("p.fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    chars = F.coalesce(F.col("c.n_chars"), F.col("p.n_chars"))
    return (
        j.select(status.alias("status"), chars.alias("nc"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nc").cast("bigint").alias("n_chars"),
        )
    )


def _dataset_diff_sql() -> str:
    return f"""
WITH cur AS (
  SELECT doc_id, {fingerprint_sql('text')} AS fp, n_chars FROM documents
),
prev AS (
  SELECT doc_id,
         CASE WHEN doc_id % {DIFF_CHG_MOD} = 5
              THEN {fingerprint_sql("('v1 ' || text)")}
              ELSE {fingerprint_sql('text')} END AS fp,
         n_chars
  FROM documents WHERE doc_id % {DIFF_ADD_MOD} != 3
  UNION ALL
  SELECT doc_id + {DIFF_RM_OFFSET}, {fingerprint_sql('text')}, n_chars
  FROM documents WHERE doc_id % {DIFF_RM_MOD} = 7
),
j AS (
  SELECT CASE WHEN p.doc_id IS NULL THEN 'added'
              WHEN c.doc_id IS NULL THEN 'removed'
              WHEN c.fp != p.fp THEN 'changed'
              ELSE 'unchanged' END AS status,
         coalesce(c.n_chars, p.n_chars) AS nc
  FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nc) AS BIGINT) AS n_chars
FROM j GROUP BY status
"""


# --- RAG context assembly (round 7) ------------------------------------------

RAG_TOKEN_BUDGET = 300


def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly: the BM25 top-k ranking is packed into a
    fixed token budget in rank order — a doc enters the context iff the
    running token total INCLUDING it stays within budget (the standard
    prefix rule; retrieval rank is the priority, so the first overflow
    truncates the context). Per candidate: rank, token count, cumulative
    tokens, and the selected flag — the packing audit the serving layer
    logs next to every answer.

    Scale: the ranking is already k rows, so the running-sum window costs
    k rows per query whatever the corpus size; token counts join back by
    doc_id from the scan."""
    top = bm25_topk(spark, sf_dir).select("doc_id", "bm25", "rank")
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    w = W.orderBy("rank").rowsBetween(W.unboundedPreceding, W.currentRow)
    j = top.join(toks, "doc_id").withColumn("cum_tok", F.sum("n_tok").over(w))
    return j.select(
        "doc_id",
        "rank",
        "bm25",
        "n_tok",
        F.col("cum_tok").cast("bigint").alias("cum_tok"),
        (F.col("cum_tok") <= RAG_TOKEN_BUDGET).cast("int").alias("selected"),
    )


def _rag_pack_sql() -> str:
    return f"""
WITH top AS ({_BM25_SQL}),
toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
j AS (
  SELECT t.doc_id, t.rank, t.bm25, k.n_tok,
         CAST(sum(k.n_tok) OVER (ORDER BY t.rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tok
  FROM top t JOIN toks k ON t.doc_id = k.doc_id
)
SELECT doc_id, rank, bm25, n_tok, cum_tok,
       CAST(CASE WHEN cum_tok <= {RAG_TOKEN_BUDGET} THEN 1 ELSE 0 END AS INTEGER)
         AS selected
FROM j
"""


# --- quality-signal correlation eval (round 7) -------------------------------


def signal_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the two quality signals agree? Pearson correlation between the
    model-based score (bigram cross-entropy, lm_token_logprob) and the
    heuristic quality_score across the corpus — the calibration check
    before trusting either as a filter. Both inputs are 6-dp-rounded, so
    they cast EXACTLY to DECIMAL(18,6); all five moments are exact
    decimal sums (order-free, fully distributed — the ab_test_zscore
    discipline, no array fold anywhere), converted to double only inside
    the final closed-form r. Scale: one doc-keyed join + a 1-row
    aggregate; at 100 TB the decimal widths widen with the count, nothing
    else changes."""
    x = lm_token_logprob(spark, sf_dir).select("doc_id", F.col("xent").alias("x"))
    y = load(spark, sf_dir, "documents").select(
        "doc_id", quality_score(F.col("text")).alias("y")
    )
    xd = F.col("x").cast("decimal(18,6)")
    yd = F.col("y").cast("decimal(18,6)")
    agg = x.join(y, "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (
        F.col("sxy").cast("double"),
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
    )
    num = nd * sxy - sx * sy
    den = F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)
    return agg.select(
        "n",
        F.round(sx / nd, 6).alias("mean_xent"),
        F.round(sy / nd, 6).alias("mean_quality"),
        F.round(num / den, 6).alias("pearson_r"),
    )


def _signal_corr_sql() -> str:
    return f"""
WITH {_LM_TERMS_SQL},
x AS (
  SELECT doc_id, CAST(round(-lp / CAST(n_bigrams AS DOUBLE), 6)
                      AS DECIMAL(18,6)) AS xd
  FROM per),
y AS (
  SELECT doc_id, CAST({quality_score_sql('text')} AS DECIMAL(18,6)) AS yd
  FROM documents),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x.xd) AS sx, sum(y.yd) AS sy,
         sum(x.xd * y.yd) AS sxy, sum(x.xd * x.xd) AS sxx,
         sum(y.yd * y.yd) AS syy
  FROM x JOIN y ON x.doc_id = y.doc_id)
SELECT n,
       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_xent,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_quality,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS pearson_r
FROM m
"""


# --- embedding whitening / standardization (round 7) -------------------------


def embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension standardization (diagonal whitening) of the embedding
    lake — the preprocessing step before ANN indexing or drift monitors
    when dimensions have wildly different scales: two-pass exact folds
    (per-dim mean over members sorted by vec_id, then per-dim squared
    deviations in the same order), then each vector reports its whitened
    squared norm Σ (x-μ)²/σ² as a pos-ordered fold — ≈ dim for
    well-standardized data, so outliers surface directly.

    No sqrt anywhere (z² uses σ² directly); zero-variance dims are
    excluded identically in both engines. Scale: two (pos)-keyed
    aggregates (64 groups at any corpus size), stats broadcast back, one
    vec-keyed fold."""
    e = _emb_ok(spark, sf_dir)
    ex = e.select(
        "vec_id", F.posexplode(to_double(F.col("embedding"))).alias("pos", "x")
    )
    means = (
        ex.groupBy("pos")
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "x"))).alias("xs"))
        .select(
            "pos",
            (
                F.aggregate(F.col("xs"), F.lit(0.0), lambda a, s: a + s["x"])
                / F.size("xs")
            ).alias("m"),
        )
    )
    dev = ex.join(F.broadcast(means), "pos").select(
        "vec_id",
        "pos",
        "x",
        "m",
        # multiply, not pow(x, 2): pow parity across engines is not IEEE
        ((F.col("x") - F.col("m")) * (F.col("x") - F.col("m"))).alias("d2"),
    )
    vars_ = (
        dev.groupBy("pos")
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "d2"))).alias("ds"))
        .select(
            "pos",
            (
                F.aggregate(F.col("ds"), F.lit(0.0), lambda a, s: a + s["d2"])
                / F.size("ds")
            ).alias("var"),
        )
        .filter(F.col("var") > 0)
    )
    z2 = dev.join(F.broadcast(vars_), "pos").select(
        "vec_id", "pos", (F.col("d2") / F.col("var")).alias("z2")
    )
    return (
        z2.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "z2"))).alias("zs"))
        .select(
            "vec_id",
            F.size("zs").cast("int").alias("n_dims"),
            F.round(
                F.aggregate(F.col("zs"), F.lit(0.0), lambda a, s: a + s["z2"]), 6
            ).alias("wnorm2"),
        )
    )


_WHITEN_SQL = f"""
WITH ex AS (
  SELECT vec_id, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
  WHERE len(embedding) = {EMB_DIM}
),
means AS (
  SELECT pos,
         list_reduce(list(x ORDER BY vec_id), (a, b) -> a + b) / count(*) AS m
  FROM ex GROUP BY pos
),
dev AS (
  SELECT ex.vec_id, ex.pos, (ex.x - means.m) * (ex.x - means.m) AS d2
  FROM ex JOIN means ON ex.pos = means.pos
),
vars_ AS (
  SELECT pos,
         list_reduce(list(d2 ORDER BY vec_id), (a, b) -> a + b) / count(*) AS var
  FROM dev GROUP BY pos
  HAVING list_reduce(list(d2 ORDER BY vec_id), (a, b) -> a + b) / count(*) > 0
),
z2 AS (
  SELECT dev.vec_id, dev.pos, dev.d2 / vars_.var AS z2
  FROM dev JOIN vars_ ON dev.pos = vars_.pos
)
SELECT vec_id, CAST(count(*) AS INTEGER) AS n_dims,
       round(list_reduce(list(z2 ORDER BY pos), (a, b) -> a + b), 6) AS wnorm2
FROM z2 GROUP BY vec_id
"""


# --- T5 span-corruption data prep (round 7) ----------------------------------

SPANC_L = 3  # masked span length in words
SPANC_DIV = 20  # one span per 20 words ~ 15% corruption at L=3


def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption instance prep: each doc masks
    S = n_words // SPANC_DIV non-overlapping L-word spans — one per equal
    word-segment, offset chosen by a deterministic md5 gate (stable under
    re-runs/retries, unlike random masking) — and emits the (input,
    target) pair fingerprints plus the length accounting a trainer's
    batch planner needs. Input replaces each span with its <extra_id_s>
    sentinel; target is sentinel + masked words per span in order.

    Exactness: all span arithmetic is integer (segment bounds (s·n)//S,
    offset = hex4 % room); texts rebuild via position-sorted folds and
    compare as md5 fingerprints. Scale: one posexplode + a doc-keyed
    equi-join with span ranges as residual (spans per doc are few), then
    one doc-keyed aggregate — the chunking/packing family's shape.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.col("text"), " ")
    base = d.select("doc_id", "text", F.size(w).cast("bigint").alias("n"))
    # all span arithmetic in INTEGER division (div), never float-then-cast
    spans = (
        base.withColumn("n_spans", F.expr(f"n div {SPANC_DIV}"))
        .filter(F.col("n_spans") > 0)
        .select(
            "doc_id",
            "n",
            "n_spans",
            F.explode(F.sequence(F.lit(0), (F.col("n_spans") - 1).cast("int"))).alias(
                "s"
            ),
        )
        .withColumn("seg_start", F.expr("(s * n) div n_spans"))
        .withColumn("seg_end", F.expr("((s + 1) * n) div n_spans"))
        .withColumn(
            "room", F.col("seg_end") - F.col("seg_start") - F.lit(SPANC_L - 1)
        )
        .withColumn(
            "off",
            _hex4_to_int(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(":"), F.col("s").cast("string")
                    )
                )
            )
            % F.col("room"),
        )
        .select(
            "doc_id",
            "s",
            (F.col("seg_start") + F.col("off")).alias("sp_start"),
            (F.col("seg_start") + F.col("off") + SPANC_L - 1).alias("sp_end"),
        )
    )
    words = base.select(
        "doc_id",
        F.posexplode(w).alias("pos", "wd"),
    )
    tagged = words.join(
        spans,
        (words.doc_id == spans.doc_id)
        & (F.col("pos") >= F.col("sp_start"))
        & (F.col("pos") <= F.col("sp_end")),
        "left",
    ).select(
        words.doc_id,
        "pos",
        "wd",
        F.col("s").isNotNull().alias("masked"),
        (F.col("pos") == F.col("sp_start")).alias("at_start"),
        "s",
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("s").cast("string"), F.lit(">"))
    in_tok = F.when(~F.col("masked"), F.col("wd")).when(F.col("at_start"), sentinel)
    tgt_tok = F.when(
        F.col("masked") & F.col("at_start"),
        F.concat(sentinel, F.lit(" "), F.col("wd")),
    ).when(F.col("masked"), F.col("wd"))
    agg = tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.col("masked").cast("int")).cast("bigint").alias("masked_words"),
        F.sum((F.col("masked") & F.col("at_start")).cast("int"))
        .cast("bigint")
        .alias("n_spans"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(in_tok.isNotNull(), F.struct("pos", in_tok.alias("t")))
                    )
                ),
                lambda x: x["t"],
            ),
        ).alias("input_text"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(tgt_tok.isNotNull(), F.struct("pos", tgt_tok.alias("t")))
                    )
                ),
                lambda x: x["t"],
            ),
        ).alias("target_text"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_spans",
        "masked_words",
        (F.col("n_words") - F.col("masked_words") + F.col("n_spans"))
        .cast("bigint")
        .alias("input_len"),
        (F.col("masked_words") + F.col("n_spans")).cast("bigint").alias("target_len"),
        F.md5("input_text").alias("input_fp"),
        F.md5("target_text").alias("target_fp"),
    )


def _span_corruption_sql() -> str:
    off_hash = _hex4_to_int_sql(
        "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR))"
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
spans AS (
  SELECT b.doc_id, s,
         (s * b.n) // (b.n // {SPANC_DIV}) AS seg_start0,
         ((s + 1) * b.n) // (b.n // {SPANC_DIV}) AS seg_end0,
         b.n // {SPANC_DIV} AS n_spans
  FROM base b, LATERAL (
    SELECT unnest(generate_series(0, b.n // {SPANC_DIV} - 1)) AS s) g
  WHERE b.n // {SPANC_DIV} > 0
),
spans2 AS (
  SELECT doc_id, s,
         seg_start0 + ({off_hash}
                       % (seg_end0 - seg_start0 - {SPANC_L - 1})) AS sp_start
  FROM spans
),
spans3 AS (SELECT doc_id, s, sp_start, sp_start + {SPANC_L - 1} AS sp_end
           FROM spans2),
words AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS wd
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
       LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
),
tagged AS (
  SELECT w.doc_id, w.pos, w.wd,
         sp.s IS NOT NULL AS masked,
         coalesce(w.pos = sp.sp_start, FALSE) AS at_start,
         sp.s AS s
  FROM words w LEFT JOIN spans3 sp
    ON w.doc_id = sp.doc_id AND w.pos >= sp.sp_start AND w.pos <= sp.sp_end
),
toks AS (
  SELECT doc_id, pos, masked, at_start,
         CASE WHEN NOT masked THEN wd
              WHEN at_start THEN '<extra_id_' || CAST(s AS VARCHAR) || '>'
              ELSE NULL END AS in_tok,
         CASE WHEN masked AND at_start
                THEN '<extra_id_' || CAST(s AS VARCHAR) || '>' || ' ' || wd
              WHEN masked THEN wd ELSE NULL END AS tgt_tok
  FROM tagged
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS masked_words,
         CAST(sum(CASE WHEN masked AND at_start THEN 1 ELSE 0 END) AS BIGINT)
           AS n_spans,
         coalesce(array_to_string(list(in_tok ORDER BY pos)
                           FILTER (WHERE in_tok IS NOT NULL), ' '), '')
           AS input_text,
         coalesce(array_to_string(list(tgt_tok ORDER BY pos)
                           FILTER (WHERE tgt_tok IS NOT NULL), ' '), '')
           AS target_text
  FROM toks GROUP BY doc_id
)
SELECT doc_id, n_words, n_spans, masked_words,
       CAST(n_words - masked_words + n_spans AS BIGINT) AS input_len,
       CAST(masked_words + n_spans AS BIGINT) AS target_len,
       md5(input_text) AS input_fp,
       md5(target_text) AS target_fp
FROM agg
"""


# --- DCT perceptual hash + resize robustness (round 7) -----------------------


def image_dct_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-based perceptual hash (pHash proper) next to the average-hash
    `llm_image_phash`: the same 4x4 luminance grid feeds a 2-D DCT-II and
    the 15 AC coefficients threshold against their own mean
    (operators/multimodal.py:dct_phash_bmp). The oracle recomputes the
    hash closed-form from the synthetic pixel formula with the IDENTICAL
    compile-time cosine-product literals — engine trig parity is never
    relied on."""
    from ..operators.multimodal import attach_bmp_payload, dct_phash_bmp

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return dct_phash_bmp(attach_bmp_payload(d))


def _bmp_hexpair_sql(idx: str) -> str:
    hexd = "0123456789abcdef"
    pos = f"(({idx}) * 2 + 1)"
    c1 = f"substr(md5(text), {pos}, 1)"
    c2 = f"substr(md5(text), {pos} + 1, 1)"
    return f"((strpos('{hexd}', {c1}) - 1) * 16 + (strpos('{hexd}', {c2}) - 1))"


def _bmp_gray_cols_sql(
    prefix: str, w: str, h: str, row_size: str
) -> list[str]:
    """The 16 grid-gray expressions (3-channel byte sums of the synthetic
    md5-cycled pixels) for an image with the given dim expressions."""
    g = 4
    cols = []
    for gy in range(g):
        for gx in range(g):
            sy = f"(({gy} * {h}) // {g})"
            sx = f"(({gx} * {w}) // {g})"
            cell = " + ".join(
                _bmp_hexpair_sql(f"(({sy}) * {row_size} + ({sx}) * 3 + {c}) % 16")
                for c in range(3)
            )
            cols.append(f"({cell}) AS {prefix}{gy * g + gx}")
    return cols


def _dct_coeff_sql(prefix: str, wk: list[float]) -> str:
    return " + ".join(f"{prefix}{idx} * {dlit(wk[idx])}" for idx in range(len(wk)))


def _image_dct_phash_sql() -> str:
    from ..operators.multimodal import DCT_BITS, DCT_W

    newline = ",\n         "
    gray_cols = _bmp_gray_cols_sql("g", "w", "h", "row_size")
    coeffs = [f"({_dct_coeff_sql('g', wk)}) AS c{k}" for k, wk in enumerate(DCT_W)]
    mean = " + ".join(f"c{k}" for k in range(DCT_BITS))
    bits = " || ".join(
        f"CASE WHEN c{k} > mean_ac THEN '1' ELSE '0' END" for k in range(DCT_BITS)
    )
    ones = " + ".join(
        f"CASE WHEN c{k} > mean_ac THEN 1 ELSE 0 END" for k in range(DCT_BITS)
    )
    return f"""
WITH dims AS (
  SELECT doc_id, text, doc_id % 16 + 1 AS w, (doc_id // 16) % 8 + 1 AS h
  FROM documents WHERE doc_id < 300
),
dims2 AS (SELECT *, (w * 3 + 3) // 4 * 4 AS row_size FROM dims),
grays AS (
  SELECT doc_id, w, h,
         {newline.join(gray_cols)}
  FROM dims2
),
co AS (
  SELECT doc_id, w, h,
         {newline.join(coeffs)}
  FROM grays
),
t AS (SELECT *, ({mean}) / CAST(15 AS DOUBLE) AS mean_ac FROM co)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       {bits} AS dct_hash,
       CAST({ones} AS BIGINT) AS n_ones
FROM t
"""


def image_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blank/low-contrast image detection — the cheap gate an image
    pipeline runs BEFORE spending embedding budget: exact integer
    luminance-grid statistics per BMP (min, max, contrast, the scaled
    variance n·Σg²−(Σg)², and a hard is_flat equality — no float
    threshold) via the real byte parse
    (operators/multimodal.py:tile_stats_bmp). The oracle recomputes the
    stats closed-form from the synthetic pixel formula, never touching
    payload bytes."""
    from ..operators.multimodal import attach_bmp_payload, tile_stats_bmp

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return tile_stats_bmp(attach_bmp_payload(d))


def _image_tile_stats_sql() -> str:
    newline = ",\n         "
    gray_cols = _bmp_gray_cols_sql("g", "w", "h", "row_size")
    n = 16
    gs = [f"g{i}" for i in range(n)]
    smallest = "least(" + ", ".join(gs) + ")"
    largest = "greatest(" + ", ".join(gs) + ")"
    s = " + ".join(gs)
    s2 = " + ".join(f"g{i} * g{i}" for i in range(n))
    return f"""
WITH dims AS (
  SELECT doc_id, text, doc_id % 16 + 1 AS w, (doc_id // 16) % 8 + 1 AS h
  FROM documents WHERE doc_id < 300
),
dims2 AS (SELECT *, (w * 3 + 3) // 4 * 4 AS row_size FROM dims),
grays AS (
  SELECT doc_id, w, h,
         {newline.join(gray_cols)}
  FROM dims2
),
t AS (SELECT doc_id, w, h, {smallest} AS gmin, {largest} AS gmax,
             CAST({n} AS BIGINT) * ({s2}) - CAST(({s}) AS BIGINT) * ({s}) AS var_scaled
      FROM grays)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(gmin AS BIGINT) AS gray_min, CAST(gmax AS BIGINT) AS gray_max,
       CAST(gmax - gmin AS BIGINT) AS contrast,
       var_scaled, var_scaled = 0 AS is_flat
FROM t
"""


def image_dct_robustness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-robustness grading of the two perceptual hashes: every BMP
    is NN-downsampled to max side 4 (resize_bmp's integer-exact
    semantics) and re-hashed; each row reports the character-Hamming
    drift of the average-hash vs the DCT hash under that rescale
    (operators/multimodal.py:phash_resize_robustness). Because NN-resize
    then NN-grid-sample compose to pure integer index maps, the oracle
    recomputes the resized grid closed-form from the synthetic pixel
    formula and replays both hashes with the same literal weights."""
    from ..operators.multimodal import attach_bmp_payload, phash_resize_robustness

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return phash_resize_robustness(attach_bmp_payload(d))


def _image_dct_robust_sql() -> str:
    from ..operators.multimodal import DCT_BITS, DCT_W

    newline = ",\n         "
    # resized grid sample composes two integer NN maps: grid cell ->
    # resized pixel (y2, x2) -> source pixel (sy, sx)
    r_cols = []
    g = 4
    for gy in range(g):
        for gx in range(g):
            y2 = f"(({gy} * nh) // {g})"
            x2 = f"(({gx} * nw) // {g})"
            sy = f"((({y2}) * h) // nh)"
            sx = f"((({x2}) * w) // nw)"
            cell = " + ".join(
                _bmp_hexpair_sql(f"(({sy}) * row_size + ({sx}) * 3 + {c}) % 16")
                for c in range(3)
            )
            r_cols.append(f"({cell}) AS r{gy * g + gx}")
    g_cols = _bmp_gray_cols_sql("g", "w", "h", "row_size")
    go_tot = " + ".join(f"g{i}" for i in range(16))
    gr_tot = " + ".join(f"r{i}" for i in range(16))
    ham_a = " + ".join(
        f"CASE WHEN (g{i} * 16 > tot_g) != (r{i} * 16 > tot_r) THEN 1 ELSE 0 END"
        for i in range(16)
    )
    co = [f"({_dct_coeff_sql('g', wk)}) AS cg{k}" for k, wk in enumerate(DCT_W)]
    cr = [f"({_dct_coeff_sql('r', wk)}) AS cr{k}" for k, wk in enumerate(DCT_W)]
    mean_g = " + ".join(f"cg{k}" for k in range(DCT_BITS))
    mean_r = " + ".join(f"cr{k}" for k in range(DCT_BITS))
    ham_d = " + ".join(
        f"CASE WHEN (cg{k} > mean_g) != (cr{k} > mean_r) THEN 1 ELSE 0 END"
        for k in range(DCT_BITS)
    )
    return f"""
WITH dims AS (
  SELECT doc_id, text, doc_id % 16 + 1 AS w, (doc_id // 16) % 8 + 1 AS h
  FROM documents WHERE doc_id < 300
),
dims2 AS (SELECT *, (w * 3 + 3) // 4 * 4 AS row_size, greatest(w, h) AS m
          FROM dims),
rd AS (
  SELECT *,
         CASE WHEN m <= 4 THEN w ELSE greatest(1, (w * 4) // m) END AS nw,
         CASE WHEN m <= 4 THEN h ELSE greatest(1, (h * 4) // m) END AS nh
  FROM dims2
),
grays AS (
  SELECT doc_id, nw, nh,
         {newline.join(g_cols)},
         {newline.join(r_cols)}
  FROM rd
),
co AS (
  SELECT *,
         {newline.join(co)},
         {newline.join(cr)}
  FROM grays
),
t AS (SELECT *, {go_tot} AS tot_g, {gr_tot} AS tot_r,
             ({mean_g}) / CAST(15 AS DOUBLE) AS mean_g,
             ({mean_r}) / CAST(15 AS DOUBLE) AS mean_r
      FROM co)
SELECT doc_id, CAST(nw AS INTEGER) AS new_width, CAST(nh AS INTEGER) AS new_height,
       CAST({ham_a} AS BIGINT) AS ham_ahash,
       CAST({ham_d} AS BIGINT) AS ham_dct
FROM t
"""


FH_DIM = 16


def _fh_weight(i: Column) -> Column:
    """Deterministic pseudo-random weight for hash bucket ``i``: the first
    4 md5 hex chars of str(i) mapped to [-0.5, 0.5). Identical in both
    engines (md5 of the same decimal string)."""
    return _hex4_to_int(F.md5(i.cast("string"))) / F.lit(65536.0) - F.lit(0.5)


def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer + linear quality classifier (the
    fastText/CCNet classifier-filter shape): each token hashes into one of
    FH_DIM buckets (first 4 md5 hex chars mod FH_DIM), per-doc bucket
    counts form a fixed-width dense count vector, and a deterministic
    seeded weight vector scores each doc with sigmoid(w . x); docs with
    score >= 0.5 pass the gate.

    Determinism: bucket counts are exact integers from ONE
    (doc_id, bucket) map-side-combining aggregate; the dense vector is
    materialized for buckets 0..FH_DIM-1 in ascending order in both
    engines; w . x is one sequential double fold in the same bucket order,
    so both engines add identical doubles identically.

    Scale shape: tokens shuffle once keyed (doc_id, bucket) with partial
    aggregation; the vector build and score are per-doc array expressions
    (no second shuffle, no UDF). FH_DIM is a constant, so row width is
    fixed regardless of vocabulary size — the point of the hashing trick;
    at 100 TB the same plan holds with FH_DIM=2^20 and a broadcast weight
    table in place of the inline md5 weights."""
    return feature_hashing_from(fan_out(load(spark, sf_dir, "documents")))


def feature_hashing_from(d: DataFrame) -> DataFrame:
    """DataFrame-input form — per-doc stateless (the weight vector is a
    deterministic constant, no corpus statistics), so the streaming
    calibration mirror scores each micro-batch independently with it."""
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    per = (
        toks.select(
            "doc_id", (_hex4_to_int(F.md5(F.col("w"))) % FH_DIM).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = per.groupBy("doc_id").agg(
        F.collect_list(F.struct("b", "c")).alias("xs"),
        F.sum("c").cast("bigint").alias("n_tok"),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(FH_DIM - 1)),
        lambda i: F.aggregate(
            F.filter(F.col("xs"), lambda s: s.getField("b") == i),
            F.lit(0).cast("bigint"),
            lambda a, s: a + s.getField("c"),
        ),
    )
    withv = agg.select(
        "doc_id",
        "n_tok",
        F.size("xs").cast("bigint").alias("nnz"),
        vec.alias("vec"),
    )
    z = F.aggregate(
        F.sequence(F.lit(0), F.lit(FH_DIM - 1)),
        F.lit(0.0),
        lambda a, i: a
        + F.element_at(F.col("vec"), i + 1).cast("double") * _fh_weight(i),
    )
    scored = withv.withColumn("z", z)
    return scored.select(
        "doc_id",
        "n_tok",
        "nnz",
        F.to_json("vec").alias("vec"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6
        ).alias("clf_score"),
        (F.col("z") >= 0).cast("int").alias("kept"),
    )


_FEATURE_HASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
per AS (
  SELECT doc_id, {_hex4_to_int_sql("md5(w)")} % {FH_DIM} AS b, count(*) AS c
  FROM toks GROUP BY 1, 2
),
agg AS (
  SELECT doc_id,
         list(struct_pack(b := b, c := c)) AS xs,
         CAST(sum(c) AS BIGINT) AS n_tok
  FROM per GROUP BY 1
),
vecs AS (
  SELECT doc_id, n_tok, CAST(len(xs) AS BIGINT) AS nnz,
         list_transform(range({FH_DIM}), i ->
           CAST(coalesce(list_sum(list_transform(
                  list_filter(xs, s -> s.b = i), s -> s.c)), 0) AS BIGINT)
         ) AS vec
  FROM agg
)
SELECT doc_id, n_tok, nnz, to_json(vec)::VARCHAR AS vec,
       round({dlit(1.0)} / ({dlit(1.0)} + exp(-z)), 6) AS clf_score,
       CAST(CASE WHEN z >= {dlit(0.0)} THEN 1 ELSE 0 END AS INTEGER) AS kept
FROM (
  SELECT *, list_reduce(list_prepend({dlit(0.0)},
         list_transform(range({FH_DIM}), i ->
           CAST(vec[i + 1] AS DOUBLE)
           * ({_hex4_to_int_sql("md5(CAST(i AS VARCHAR))")} / {dlit(65536.0)}
              - {dlit(0.5)}))),
         (a, x) -> a + x) AS z
  FROM vecs
) scored
"""


CALIB_BINS = 10  # reliability-diagram score deciles


def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) of the
    learned quality classifier (feature_hashing's sigmoid score) against
    the Gopher structural gate as the reference label — the calibration
    check run before trusting a learned filter's score as a keep
    PROBABILITY (a miscalibrated classifier ranks fine but lies about
    thresholds; Guo et al.'s ECE is the standard one-number summary).
    One row per non-empty score decile: doc count, mean predicted score,
    empirical pass rate, |gap|, plus the n-weighted ECE (constant column).

    Determinism: bin = floor(score*10) on the 6-dp score, identical
    double math both engines; per-bin mean folds scores in doc_id order;
    gap compares the two ROUNDED outputs; ECE folds rounded gaps in bin
    order with exact-integer weights. Scale: rides the feature_hashing
    and gopher plans (one token shuffle + pure codegen); everything
    after is a <=10-row aggregate."""
    clf = feature_hashing(spark, sf_dir).select("doc_id", "clf_score")
    gop = gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").cast("bigint").alias("label")
    )
    return calibration_from(clf.join(gop, "doc_id"))


def calibration_from(j: DataFrame) -> DataFrame:
    """The binning/ECE tail over a (doc_id, clf_score, label) frame —
    shared with the streaming mirror, whose micro-batches land exactly
    these per-doc rows (both scorers are stateless) and re-aggregate the
    global deciles at emission."""
    b = F.least(
        F.floor(F.col("clf_score") * CALIB_BINS).cast("bigint"),
        F.lit(CALIB_BINS - 1).cast("bigint"),
    )
    per = (
        j.select(b.alias("bin"), "doc_id", "clf_score", "label")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sort_array(F.collect_list(F.struct("doc_id", "clf_score"))).alias("xs"),
            F.sum("label").cast("bigint").alias("n_pass"),
        )
    )
    conf = F.round(
        F.aggregate(F.col("xs"), F.lit(0.0), lambda a, s: a + s["clf_score"])
        / F.col("n_docs").cast("double"),
        6,
    )
    emp = F.round(
        F.col("n_pass").cast("double") / F.col("n_docs").cast("double"), 6
    )
    rows = per.select(
        "bin",
        "n_docs",
        conf.alias("mean_score"),
        emp.alias("pass_rate"),
        F.round(F.abs(conf - emp), 6).alias("gap"),
    )
    tot = rows.agg(
        F.sum("n_docs").alias("n_total"),
        F.sort_array(
            F.collect_list(F.struct("bin", "gap", "n_docs"))
        ).alias("bs"),
    )
    ece = F.round(
        F.aggregate(
            F.col("bs"),
            F.lit(0.0),
            lambda a, s: a
            + s["gap"] * s["n_docs"].cast("double") / F.col("n_total").cast("double"),
        ),
        6,
    )
    return rows.crossJoin(F.broadcast(tot.select(ece.alias("ece")))).select(
        "bin", "n_docs", "mean_score", "pass_rate", "gap", "ece"
    )


def _calibration_sql() -> str:
    return f"""
WITH clf AS (SELECT doc_id, clf_score FROM ({_FEATURE_HASH_SQL}) t),
gop AS (SELECT doc_id, CAST(passes AS BIGINT) AS label
        FROM ({_gopher_rules_sql()}) t),
j AS (
  SELECT least(CAST(floor(c.clf_score * {CALIB_BINS}) AS BIGINT),
               CAST({CALIB_BINS - 1} AS BIGINT)) AS bin,
         c.doc_id, c.clf_score, g.label
  FROM clf c JOIN gop g ON c.doc_id = g.doc_id),
per AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         round(list_reduce(list_prepend({dlit(0.0)},
                 list(clf_score ORDER BY doc_id)), (a, x) -> a + x)
               / CAST(count(*) AS DOUBLE), 6) AS mean_score,
         round(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           AS pass_rate
  FROM j GROUP BY bin),
rows_ AS (
  SELECT bin, n_docs, mean_score, pass_rate,
         round(abs(mean_score - pass_rate), 6) AS gap
  FROM per),
tot AS (
  SELECT round(list_reduce(list_prepend({dlit(0.0)},
           list(gap * CAST(n_docs AS DOUBLE)
                / CAST((SELECT sum(n_docs) FROM rows_) AS DOUBLE)
                ORDER BY bin)), (a, x) -> a + x), 6) AS ece
  FROM rows_)
SELECT bin, n_docs, mean_score, pass_rate, gap, ece
FROM rows_, tot
"""


TEMP_GRID = [0.25, 0.5, 0.75, 1.0, 1.25, 1.5, 2.0, 3.0]  # exact doubles
P_CLAMP = 0.000001  # logit clamp for 6-dp scores that round to 0/1


ISO_BINS = 16  # score-quantile bins for the isotonic fit


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) recalibration of the learned quality classifier —
    the nonparametric rung of the calibration ladder above temperature
    scaling (Zadrozny & Elkan 2002): fit the best MONOTONE step function
    from score bins to empirical pass rates. Instead of the sequential
    pool-adjacent-violators sweep (control flow, not relational
    algebra), the fit uses PAV's closed-form MINIMAX characterization
    (Barlow et al. 1972):

        iso(i) = max_{j ≤ i} min_{k ≥ i} mean(y[j..k])

    which is three bounded relational steps over the B = ISO_BINS score
    bins: prefix sums, the B² interval-average table, and a
    max-of-min-per-bin reduction — B³ ≈ 4k rows total however large the
    corpus, all from ONE data-sized (bin, count, positives) aggregate.

    Determinism: bin counts/positives are exact BIGINTs; each interval
    average is one divide of exact integers (the identical double in
    both engines); min/max over doubles are order-free. Monotonicity of
    the output is a THEOREM of the minimax form — the pytest pins it on
    data and replays a classic sequential PAV to prove the two
    formulations agree.

    Scale: the one data-sized pass is the (bin) aggregate riding the
    feature_hashing + gopher plans; everything after is bins-sized."""
    clf = feature_hashing(spark, sf_dir).select("doc_id", "clf_score")
    gop = gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").cast("bigint").alias("label")
    )
    return isotonic_from_bins(isotonic_bin_partials(clf.join(gop, "doc_id")))


def isotonic_bin_partials(j: DataFrame) -> DataFrame:
    """Per-bin (n, s) BIGINT partials of a (doc_id, clf_score, label)
    frame — the incremental-MV state the streaming mirror lands per
    micro-batch (the temperature_bin_partials discipline): exact integer
    sums merge across batches by addition."""
    bin_ = F.least(
        F.floor(F.col("clf_score") * F.lit(ISO_BINS)).cast("bigint"),
        F.lit(ISO_BINS - 1),
    )
    return (
        j.select(bin_.alias("bin"), "label")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("label").cast("bigint").alias("s"),
        )
    )


def isotonic_from_bins(bins: DataFrame) -> DataFrame:
    """The minimax tail over any (bin, n, s) frame — shared by the batch
    query and the streaming mirror."""
    w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    pref = bins.select(
        "bin",
        "n",
        "s",
        F.row_number().over(W.orderBy("bin")).cast("bigint").alias("i"),
        F.sum("n").over(w).cast("bigint").alias("cn"),
        F.sum("s").over(w).cast("bigint").alias("cs"),
    )
    # j-side carries the EXCLUSIVE prefix (cs/cn up to j-1)
    jside = pref.select(
        F.col("i").alias("j"),
        (F.col("cn") - F.col("n")).alias("cn_jm1"),
        (F.col("cs") - F.col("s")).alias("cs_jm1"),
    )
    kside = pref.select(
        F.col("i").alias("k"), F.col("cn").alias("cn_k"), F.col("cs").alias("cs_k")
    )
    intervals = jside.join(kside, F.col("k") >= F.col("j")).select(
        "j",
        "k",
        (
            (F.col("cs_k") - F.col("cs_jm1")).cast("double")
            / (F.col("cn_k") - F.col("cn_jm1")).cast("double")
        ).alias("avg"),
    )
    idx = pref.select(F.col("i").alias("ii"))
    fit = (
        idx.join(
            intervals,
            (F.col("j") <= F.col("ii")) & (F.col("k") >= F.col("ii")),
        )
        .groupBy("ii", "j")
        .agg(F.min("avg").alias("m"))
        .groupBy("ii")
        .agg(F.max("m").alias("iso"))
    )
    return (
        pref.join(fit, pref["i"] == fit["ii"])
        .select(
            "bin",
            F.col("n").alias("n_docs"),
            F.col("s").alias("n_pass"),
            F.round(
                F.col("s").cast("double") / F.col("n").cast("double"), 6
            ).alias("emp_rate"),
            F.round(F.col("iso"), 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


def _isotonic_sql() -> str:
    return f"""
WITH scored AS ({_FEATURE_HASH_SQL.strip()}),
gop AS ({_gopher_rules_sql().strip()}),
j AS (
  SELECT least(CAST(floor(s.clf_score * {ISO_BINS}) AS BIGINT),
               {ISO_BINS - 1}) AS bin,
         CAST(g.passes AS BIGINT) AS label
  FROM scored s JOIN gop g ON g.doc_id = s.doc_id),
bins AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS s
  FROM j GROUP BY bin),
pref AS (
  SELECT bin, n, s,
         CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
         CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
         CAST(sum(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
  FROM bins),
intervals AS (
  SELECT js.j, ks.k,
         CAST(ks.cs_k - js.cs_jm1 AS DOUBLE)
           / CAST(ks.cn_k - js.cn_jm1 AS DOUBLE) AS avg
  FROM (SELECT i AS j, cn - n AS cn_jm1, cs - s AS cs_jm1 FROM pref) js
  JOIN (SELECT i AS k, cn AS cn_k, cs AS cs_k FROM pref) ks ON ks.k >= js.j),
fit AS (
  SELECT ii, max(m) AS iso FROM (
    SELECT p.i AS ii, iv.j, min(iv.avg) AS m
    FROM pref p JOIN intervals iv ON iv.j <= p.i AND iv.k >= p.i
    GROUP BY 1, 2) t
  GROUP BY ii)
SELECT bin, n AS n_docs, s AS n_pass,
       round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS emp_rate,
       round(iso, 6) AS iso_rate
FROM pref JOIN fit ON fit.ii = pref.i
ORDER BY bin
"""


ISO_APPLY_FIT_PCT = 50  # md5(doc_id) % 100 < 50 fits the map; rest held out
ISO_GATE = 0.5  # calibrated-probability quality gate


def isotonic_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the isotonic calibration map to held-out documents — the
    fit→apply loop llm_isotonic_calibration alone leaves open (the
    temperature rung reports its before/after in one artifact; this
    closes the same loop for the nonparametric rung): fit the PAV
    minimax map on a deterministic hashed half of the corpus
    (md5(doc_id) % 100 < ISO_APPLY_FIT_PCT — the train_val_split hash
    discipline, stable under reshuffling and appends), then calibrate
    the OTHER half by a bins-sized broadcast lookup join and report,
    per score bin: held-out doc/pass counts, the held-out empirical
    pass rate, the mean raw score, the fitted iso_rate, the raw and
    calibrated absolute gaps (the per-bin before/after reliability
    evidence — sum them weighted for held-out ECE), and how many docs
    a calibrated-probability ≥ ISO_GATE quality gate admits.

    A held-out bin the fit split never populated falls back to its raw
    (quantized) score — documented, and NULL iso_rate marks the row.
    Determinism: raw scores quantize to 1e6-unit BIGINTs before any
    sum (order-free); every double below derives from exact integers
    by the identical expression tree in both engines.

    Scale: one data-sized pass per input plan (shared with the fit
    query), a 16-row broadcast join — no new corpus scan; everything
    after the (bin) aggregate is bins-sized."""
    clf = feature_hashing(spark, sf_dir).select("doc_id", "clf_score")
    gop = gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").cast("bigint").alias("label")
    )
    j = clf.join(gop, "doc_id").withColumn(
        "is_fit",
        _hex4_to_int(F.md5(F.col("doc_id").cast("string"))) % 100
        < F.lit(ISO_APPLY_FIT_PCT),
    )
    fitmap = isotonic_from_bins(
        isotonic_bin_partials(j.filter(F.col("is_fit")))
    ).select("bin", "iso_rate")
    bin_ = F.least(
        F.floor(F.col("clf_score") * F.lit(ISO_BINS)).cast("bigint"),
        F.lit(ISO_BINS - 1),
    )
    held = j.filter(~F.col("is_fit")).select(
        bin_.alias("bin"),
        "label",
        F.round(F.col("clf_score") * F.lit(1_000_000.0))
        .cast("bigint")
        .alias("micro"),
    )
    app = held.join(F.broadcast(fitmap), "bin", "left").withColumn(
        "cal",
        F.coalesce(
            F.col("iso_rate"),
            F.col("micro").cast("double") / F.lit(1_000_000.0),
        ),
    )
    agg = app.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("s"),
        F.sum("micro").cast("bigint").alias("m"),
        F.max("iso_rate").alias("iso_rate"),
        F.sum(F.when(F.col("cal") >= F.lit(float(ISO_GATE)), 1).otherwise(0))
        .cast("bigint")
        .alias("n_gated"),
    )
    mean_raw = F.col("m").cast("double") / (
        F.col("n").cast("double") * F.lit(1_000_000.0)
    )
    emp = F.col("s").cast("double") / F.col("n").cast("double")
    return agg.select(
        "bin",
        F.col("n").alias("n_docs"),
        F.col("s").alias("n_pass"),
        F.round(emp, 6).alias("emp_rate"),
        F.round(mean_raw, 6).alias("mean_raw"),
        "iso_rate",
        F.round(F.abs(mean_raw - emp), 6).alias("raw_gap"),
        F.round(F.abs(F.coalesce(F.col("iso_rate"), mean_raw) - emp), 6).alias(
            "cal_gap"
        ),
        "n_gated",
    ).orderBy("bin")


def _isotonic_apply_sql() -> str:
    split = f"{_hex4_to_int_sql('md5(CAST(s.doc_id AS VARCHAR))')} % 100 < {ISO_APPLY_FIT_PCT}"
    return f"""
WITH scored AS ({_FEATURE_HASH_SQL.strip()}),
gop AS ({_gopher_rules_sql().strip()}),
j AS (
  SELECT s.doc_id, s.clf_score, CAST(g.passes AS BIGINT) AS label,
         ({split}) AS is_fit
  FROM scored s JOIN gop g ON g.doc_id = s.doc_id),
fbins AS (
  SELECT least(CAST(floor(clf_score * {ISO_BINS}) AS BIGINT),
               {ISO_BINS - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS s
  FROM j WHERE is_fit GROUP BY 1),
pref AS (
  SELECT bin, n, s,
         CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
         CAST(sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn,
         CAST(sum(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
  FROM fbins),
intervals AS (
  SELECT js.j, ks.k,
         CAST(ks.cs_k - js.cs_jm1 AS DOUBLE)
           / CAST(ks.cn_k - js.cn_jm1 AS DOUBLE) AS avg
  FROM (SELECT i AS j, cn - n AS cn_jm1, cs - s AS cs_jm1 FROM pref) js
  JOIN (SELECT i AS k, cn AS cn_k, cs AS cs_k FROM pref) ks ON ks.k >= js.j),
fitmap AS (
  SELECT p.bin, round(f.iso, 6) AS iso_rate
  FROM pref p JOIN (
    SELECT ii, max(m) AS iso FROM (
      SELECT p2.i AS ii, iv.j, min(iv.avg) AS m
      FROM pref p2 JOIN intervals iv ON iv.j <= p2.i AND iv.k >= p2.i
      GROUP BY 1, 2) t
    GROUP BY ii) f ON f.ii = p.i),
held AS (
  SELECT least(CAST(floor(clf_score * {ISO_BINS}) AS BIGINT),
               {ISO_BINS - 1}) AS bin,
         label,
         CAST(round(clf_score * 1000000.0) AS BIGINT) AS micro
  FROM j WHERE NOT is_fit),
app AS (
  SELECT h.bin, h.label, h.micro, f.iso_rate,
         coalesce(f.iso_rate, CAST(h.micro AS DOUBLE) / 1000000.0) AS cal
  FROM held h LEFT JOIN fitmap f ON f.bin = h.bin)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(label) AS BIGINT) AS n_pass,
       round(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS emp_rate,
       round(CAST(sum(micro) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS mean_raw,
       max(iso_rate) AS iso_rate,
       round(abs(CAST(sum(micro) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1000000.0)
                 - CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6)
         AS raw_gap,
       round(abs(coalesce(max(iso_rate),
                          CAST(sum(micro) AS DOUBLE)
                          / (CAST(count(*) AS DOUBLE) * 1000000.0))
                 - CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6)
         AS cal_gap,
       CAST(sum(CASE WHEN cal >= CAST({ISO_GATE!r} AS DOUBLE)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_gated
FROM app GROUP BY bin ORDER BY bin
"""


def temperature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled recalibration of the learned quality classifier
    (Guo et al. 2017 — the one-parameter fix the calibration_matrix
    diagnoses motivate): recover the logit z = ln(p/(1-p)) from the
    classifier score, sweep a fixed temperature grid, and report per
    temperature the corpus NLL and the post-scaling ECE against the
    Gopher structural gate, flagging the NLL-argmin temperature. The
    T=1.0 row IS the uncalibrated baseline, so the table reads as the
    before/after evidence in one artifact.

    Determinism — the integer micro-unit discipline (stronger than the
    ordered-fold pattern the other calibration queries use, and the
    better 100 TB posture): every per-doc double (scaled probability,
    per-doc NLL, per-bin gap) is quantized to fixed-point BIGINT units
    (1e6 for probabilities/gaps, 1e9 for NLL) via round/floor of
    IDENTICAL doubles in both engines, then summed as exact integers —
    order-free, partial-aggregate-mergeable, no collect_list state.
    (At ~1e9+ docs the 1e9-unit NLL sum approaches int64 range; the
    scale path widens to DECIMAL(38,0) sums, same plan.)

    Scale: rides the feature_hashing + gopher plans (one token shuffle
    each); the grid explode multiplies per-DOC rows (not tokens) by
    |grid|=8 before a map-side-combining (t, bin) aggregate — everything
    after is an 80-row reduction."""
    clf = feature_hashing(spark, sf_dir).select("doc_id", "clf_score")
    gop = gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").cast("bigint").alias("label")
    )
    return temperature_fit_from(clf.join(gop, "doc_id"))


def temperature_fit_from(j: DataFrame) -> DataFrame:
    """The grid-sweep/NLL/ECE tail over a (doc_id, clf_score, label)
    frame — partials + finish, shared with the streaming mirror."""
    return temperature_finish(temperature_bin_partials(j))


def temperature_bin_partials(j: DataFrame) -> DataFrame:
    """Per-(t, bin) INTEGER partial sums of a (doc_id, clf_score, label)
    frame — the incremental-MV state the streaming mirror checkpoints per
    micro-batch: exact BIGINT sums merge across batches by addition, so
    emission is a sum-of-sums, never a per-doc replay (the payoff of the
    micro-unit discipline over the ordered-fold pattern)."""
    one = F.lit(1.0)
    pc = F.greatest(F.least(F.col("clf_score"), F.lit(1.0 - P_CLAMP)), F.lit(P_CLAMP))
    e = j.select(
        "doc_id",
        "label",
        F.log(pc / (one - pc)).alias("z"),
    ).select(
        "doc_id",
        "label",
        "z",
        F.explode(F.array(*[F.lit(t) for t in TEMP_GRID])).alias("t"),
    )
    pt = F.round(one / (one + F.exp(-(F.col("z") / F.col("t")))), 6)
    ptc = F.greatest(F.least(F.col("pt"), F.lit(1.0 - P_CLAMP)), F.lit(P_CLAMP))
    y = F.col("label").cast("double")
    nll = -(y * F.log(ptc) + (one - y) * F.log(one - ptc))
    scored = e.select("label", "t", pt.alias("pt")).select(
        "label",
        "t",
        "pt",
        nll.alias("nll"),
        F.least(
            F.floor(F.col("pt") * F.lit(CALIB_BINS)).cast("bigint"),
            F.lit(CALIB_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    return scored.groupBy("t", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.round(F.col("pt") * F.lit(1000000.0), 0).cast("bigint")).alias("p_u"),
        F.sum("label").cast("bigint").alias("n_pass"),
        F.sum(F.floor(F.col("nll") * F.lit(1000000000.0)).cast("bigint")).alias(
            "nll_u"
        ),
    )


def temperature_finish(per: DataFrame) -> DataFrame:
    """The <=80-row reduction from merged (t, bin) integer partials to the
    (t, nll, ece, is_best) grid table."""
    msc = F.col("p_u").cast("double") / (F.col("n_docs").cast("double") * F.lit(1000000.0))
    emp = F.col("n_pass").cast("double") / F.col("n_docs").cast("double")
    gap_u = F.round(F.round(F.abs(msc - emp), 6) * F.lit(1000000.0), 0).cast("bigint")
    bins = per.select(
        "t", "n_docs", "nll_u", (gap_u * F.col("n_docs")).alias("gap_w_u")
    )
    byt = bins.groupBy("t").agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum("nll_u").cast("bigint").alias("nll_su"),
        F.sum("gap_w_u").cast("bigint").alias("gap_su"),
    )
    nll_t = F.round(
        F.col("nll_su").cast("double")
        / (F.col("n_total").cast("double") * F.lit(1000000000.0)),
        6,
    )
    ece_t = F.round(
        F.col("gap_su").cast("double")
        / (F.col("n_total").cast("double") * F.lit(1000000.0)),
        6,
    )
    rows = byt.select("t", nll_t.alias("nll"), ece_t.alias("ece"))
    best = rows.agg(F.min(F.struct("nll", "t")).alias("b")).select(
        F.col("b.nll").alias("b_nll"), F.col("b.t").alias("b_t")
    )
    return rows.crossJoin(F.broadcast(best)).select(
        "t",
        "nll",
        "ece",
        ((F.col("nll") == F.col("b_nll")) & (F.col("t") == F.col("b_t")))
        .cast("int")
        .alias("is_best"),
    )


def _temp_chain(pfx: str, j_cte: str, score: str, label: str) -> tuple[str, str]:
    """(CTE chain, final-select-body) for one temperature fit over
    ``{j_cte}(doc_id, {score}, {label})`` — shared by the standalone fit
    and the scorer x gate matrix. The chain ends in ``{pfx}rows(t, nll,
    ece)`` and ``{pfx}best``."""
    grid = ", ".join(dlit(t) for t in TEMP_GRID)
    pmin, pmax = dlit(P_CLAMP), dlit(1.0 - P_CLAMP)
    one = dlit(1.0)
    ctes = f"""{pfx}z AS (
  SELECT CAST({label} AS BIGINT) AS label,
         ln(greatest(least({score}, {pmax}), {pmin})
            / ({one} - greatest(least({score}, {pmax}), {pmin}))) AS z
  FROM {j_cte}),
{pfx}sc0 AS (
  SELECT label, grid.t,
         round({one} / ({one} + exp(-(z / grid.t))), 6) AS pt
  FROM {pfx}z CROSS JOIN grid),
{pfx}scored AS (
  SELECT label, t, pt,
         -(CAST(label AS DOUBLE)
             * ln(greatest(least(pt, {pmax}), {pmin}))
           + ({one} - CAST(label AS DOUBLE))
             * ln({one} - greatest(least(pt, {pmax}), {pmin}))) AS nll,
         least(CAST(floor(pt * {CALIB_BINS}) AS BIGINT),
               CAST({CALIB_BINS - 1} AS BIGINT)) AS bin
  FROM {pfx}sc0),
{pfx}per AS (
  SELECT t, bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(round(pt * {dlit(1000000.0)}, 0) AS BIGINT)) AS BIGINT)
           AS p_u,
         CAST(sum(label) AS BIGINT) AS n_pass,
         CAST(sum(CAST(floor(nll * {dlit(1000000000.0)}) AS BIGINT)) AS BIGINT)
           AS nll_u
  FROM {pfx}scored GROUP BY t, bin),
{pfx}bins AS (
  SELECT t, n_docs, nll_u,
         CAST(round(round(abs(CAST(p_u AS DOUBLE)
                               / (CAST(n_docs AS DOUBLE) * {dlit(1000000.0)})
                             - CAST(n_pass AS DOUBLE)
                               / CAST(n_docs AS DOUBLE)), 6)
                    * {dlit(1000000.0)}, 0) AS BIGINT) * n_docs AS gap_w_u
  FROM {pfx}per),
{pfx}byt AS (
  SELECT t, CAST(sum(n_docs) AS BIGINT) AS n_total,
         CAST(sum(nll_u) AS BIGINT) AS nll_su,
         CAST(sum(gap_w_u) AS BIGINT) AS gap_su
  FROM {pfx}bins GROUP BY t),
{pfx}rows AS (
  SELECT t,
         round(CAST(nll_su AS DOUBLE)
               / (CAST(n_total AS DOUBLE) * {dlit(1000000000.0)}), 6) AS nll,
         round(CAST(gap_su AS DOUBLE)
               / (CAST(n_total AS DOUBLE) * {dlit(1000000.0)}), 6) AS ece
  FROM {pfx}byt),
{pfx}best AS (SELECT nll AS b_nll, t AS b_t FROM {pfx}rows
              ORDER BY nll, t LIMIT 1)"""
    body = f"""SELECT r.t, r.nll, r.ece,
       CAST(CASE WHEN r.nll = b.b_nll AND r.t = b.b_t THEN 1 ELSE 0 END
            AS INTEGER) AS is_best
FROM {pfx}rows r CROSS JOIN {pfx}best b"""
    return ctes, body


def _temperature_sql() -> str:
    grid = ", ".join(dlit(t) for t in TEMP_GRID)
    ctes, body = _temp_chain("q", "j", "clf_score", "label")
    return f"""
WITH clf AS (SELECT doc_id, clf_score FROM ({_FEATURE_HASH_SQL}) x),
gop AS (SELECT doc_id, CAST(passes AS BIGINT) AS label
        FROM ({_gopher_rules_sql()}) x),
j AS (
  SELECT c.doc_id, c.clf_score, g.label
  FROM clf c JOIN gop g ON c.doc_id = g.doc_id),
grid AS (SELECT unnest([{grid}]) AS t),
{ctes}
{body}
"""


def filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-agreement audit: the 2x2 confusion between the cheap
    heuristic quality gate (quality_gate's predicate) and the model-based
    LM-perplexity filter (xent <= XENT_MAX from lm_token_logprob), plus
    observed agreement and Cohen's kappa — the before/after evidence a
    pipeline owner reads when swapping one quality filter for another
    (high kappa = the cheap gate is a safe prefilter; low kappa = the
    filters disagree and the swap changes the corpus).

    Determinism: the four cells are exact integer counts from ONE global
    aggregate; po/pe/kappa are a fixed dag of double divisions and
    multiplications written identically in both engines; kappa is NULL if
    pe = 1 (both filters constant). Scale: per-doc flags ride the
    lm_token_logprob scoring plan (its scale posture applies) and the
    final aggregate is map-side-combining down to one row."""
    lm = lm_token_logprob(spark, sf_dir).select("doc_id", "xent")
    d = load(spark, sf_dir, "documents")
    heur = (
        (quality_score(F.col("text")) >= QUALITY_MIN)
        & (F.col("n_chars") >= CHARS_MIN)
        & (F.col("n_chars") <= CHARS_MAX)
        & F.col("lang").isin("en", "de", "fr")
    ).cast("long")
    j = (
        d.select("doc_id", heur.alias("h"))
        .join(lm, "doc_id")
        .select("h", (F.col("xent") <= F.lit(XENT_MAX)).cast("long").alias("l"))
    )
    a = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("h") * F.col("l")).cast("bigint").alias("n_both_keep"),
        F.sum(F.col("h") * (1 - F.col("l"))).cast("bigint").alias("n_heur_only"),
        F.sum((1 - F.col("h")) * F.col("l")).cast("bigint").alias("n_lm_only"),
        F.sum((1 - F.col("h")) * (1 - F.col("l"))).cast("bigint").alias("n_both_drop"),
    )
    n = F.col("n_docs").cast("double")
    po = (F.col("n_both_keep") + F.col("n_both_drop")).cast("double") / n
    ph = (F.col("n_both_keep") + F.col("n_heur_only")).cast("double") / n
    pl = (F.col("n_both_keep") + F.col("n_lm_only")).cast("double") / n
    pe = ph * pl + (F.lit(1.0) - ph) * (F.lit(1.0) - pl)
    kappa = F.when(
        F.lit(1.0) - pe == 0, F.lit(None).cast("double")
    ).otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
    return a.select(
        "n_docs",
        "n_both_keep",
        "n_heur_only",
        "n_lm_only",
        "n_both_drop",
        F.round(po, 6).alias("agree_rate"),
        kappa.alias("kappa"),
    )


_FILTER_AGREE_SQL = f"""
WITH {_LM_TERMS_SQL},
scores AS (
  SELECT doc_id, round(-lp / CAST(n_bigrams AS DOUBLE), 6) AS xent FROM per),
flags AS (
  SELECT CASE WHEN {quality_score_sql('text')} >= CAST({QUALITY_MIN} AS DOUBLE)
                   AND d.n_chars BETWEEN {CHARS_MIN} AND {CHARS_MAX}
                   AND d.lang IN ('en', 'de', 'fr')
              THEN 1 ELSE 0 END AS h,
         CASE WHEN s.xent <= CAST({XENT_MAX} AS DOUBLE) THEN 1 ELSE 0 END AS l
  FROM documents d JOIN scores s ON d.doc_id = s.doc_id),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(h * l) AS BIGINT) AS n_both_keep,
         CAST(sum(h * (1 - l)) AS BIGINT) AS n_heur_only,
         CAST(sum((1 - h) * l) AS BIGINT) AS n_lm_only,
         CAST(sum((1 - h) * (1 - l)) AS BIGINT) AS n_both_drop
  FROM flags),
rates AS (
  SELECT *,
         CAST(n_both_keep + n_both_drop AS DOUBLE) / CAST(n_docs AS DOUBLE) AS po,
         CAST(n_both_keep + n_heur_only AS DOUBLE) / CAST(n_docs AS DOUBLE) AS ph,
         CAST(n_both_keep + n_lm_only AS DOUBLE) / CAST(n_docs AS DOUBLE) AS pl
  FROM cells)
SELECT n_docs, n_both_keep, n_heur_only, n_lm_only, n_both_drop,
       round(po, 6) AS agree_rate,
       CASE WHEN {dlit(1.0)} - (ph * pl + ({dlit(1.0)} - ph) * ({dlit(1.0)} - pl)) = {dlit(0.0)}
            THEN NULL
            ELSE round((po - (ph * pl + ({dlit(1.0)} - ph) * ({dlit(1.0)} - pl)))
                       / ({dlit(1.0)} - (ph * pl + ({dlit(1.0)} - ph) * ({dlit(1.0)} - pl))), 6)
       END AS kappa
FROM rates
"""


# the four shipped quality gates, in the fixed pair-table order
FILTER_PAIRS = (
    ("heuristic", "lm"),
    ("heuristic", "gopher"),
    ("heuristic", "classifier"),
    ("lm", "gopher"),
    ("lm", "classifier"),
    ("gopher", "classifier"),
)


CALIB_PAIRS = (
    ("classifier", "gopher"),
    ("classifier", "heuristic"),
    ("lm", "gopher"),
    ("lm", "heuristic"),
)


def _scorer_gate_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, classifier, lm, gopher, heuristic) — both probability
    scorers next to both structural gates, the shared input of the
    calibration matrix and the temperature matrix."""
    clf = feature_hashing(spark, sf_dir).select("doc_id", "clf_score")
    lm = lm_token_logprob(spark, sf_dir).select(
        "doc_id",
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(XENT_MAX) - F.col("xent")))),
            6,
        ).alias("lm_prob"),
    )
    d = load(spark, sf_dir, "documents")
    heur = (
        (quality_score(F.col("text")) >= QUALITY_MIN)
        & (F.col("n_chars") >= CHARS_MIN)
        & (F.col("n_chars") <= CHARS_MAX)
        & F.col("lang").isin("en", "de", "fr")
    ).cast("bigint")
    gop = gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").cast("bigint").alias("gopher")
    )
    return (
        d.select("doc_id", heur.alias("heuristic"))
        .join(clf, "doc_id")
        .join(lm, "doc_id")
        .join(gop, "doc_id")
        .select(
            "doc_id",
            F.col("clf_score").alias("classifier"),
            F.col("lm_prob").alias("lm"),
            "gopher",
            "heuristic",
        )
    )


def temperature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled recalibration for EVERY scorer x gate pair —
    the apply step over the calibration_matrix diagnosis: each of the
    four (probability scorer, structural gate) pairs gets its own grid
    fit through the shared ``temperature_fit_from`` tail, so the table
    answers "which filters are fixable by one scalar, and at what T"
    in a single artifact (a pair whose post-fit ECE stays high is
    mis-RANKED, not just mis-scaled — temperature cannot fix it).
    Output keyed (scorer, gate, t) with nll / ece / per-pair argmin.

    Determinism and scale: four independent runs of the integer
    micro-unit fit (each an 80-row reduction) over ONE shared scored
    frame — the scorer plans run once."""
    j = _scorer_gate_frame(spark, sf_dir)
    out = None
    for scorer, gate in CALIB_PAIRS:
        leg = temperature_fit_from(
            j.select(
                "doc_id",
                F.col(scorer).alias("clf_score"),
                F.col(gate).alias("label"),
            )
        ).select(
            F.lit(scorer).alias("scorer"),
            F.lit(gate).alias("gate"),
            "t",
            "nll",
            "ece",
            "is_best",
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _temperature_matrix_sql() -> str:
    grid = ", ".join(dlit(t) for t in TEMP_GRID)
    score_expr = {"classifier": "j.classifier", "lm": "j.lm"}
    gate_expr = {"gopher": "j.gopher", "heuristic": "j.heuristic"}
    ctes, legs = [], []
    for i, (scorer, gate) in enumerate(CALIB_PAIRS):
        chain, body = _temp_chain(
            f"m{i}", "j", score_expr[scorer], gate_expr[gate]
        )
        ctes.append(chain)
        legs.append(
            f"SELECT '{scorer}' AS scorer, '{gate}' AS gate, t, nll, ece, is_best"
            f" FROM ({body}) leg{i}"
        )
    return f"""
WITH {_LM_TERMS_SQL},
lmp AS (
  SELECT doc_id,
         round({dlit(1.0)} / ({dlit(1.0)}
               + exp(-(CAST({XENT_MAX} AS DOUBLE)
                       - round(-lp / CAST(n_bigrams AS DOUBLE), 6)))), 6)
           AS lm
  FROM per),
gop AS (SELECT doc_id, CAST(passes AS BIGINT) AS gopher
        FROM ({_gopher_rules_sql()}) t),
clf AS (SELECT doc_id, clf_score AS classifier
        FROM ({_FEATURE_HASH_SQL}) t),
j AS (
  SELECT d.doc_id, c.classifier, l.lm, g.gopher,
         CASE WHEN {quality_score_sql('text')} >= CAST({QUALITY_MIN} AS DOUBLE)
                   AND d.n_chars BETWEEN {CHARS_MIN} AND {CHARS_MAX}
                   AND d.lang IN ('en', 'de', 'fr')
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS heuristic
  FROM documents d
  JOIN clf c ON d.doc_id = c.doc_id
  JOIN lmp l ON d.doc_id = l.doc_id
  JOIN gop g ON d.doc_id = g.doc_id),
grid AS (SELECT unnest([{grid}]) AS t),
{','.join(ctes)}
{chr(10).join(f"{leg}{chr(10)}UNION ALL" for leg in legs[:-1])}
{legs[-1]}
"""


def calibration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calibration half of the filter-swap decision table: every
    scored filter reliability-binned against every structural gate —
    (classifier sigmoid score | LM keep-probability sigmoid(XENT_MAX −
    xent)) × (Gopher rules | heuristic gate), one reliability diagram +
    ECE per pair through the SHARED ``calibration_from`` tail, keyed
    (scorer, gate, bin). Read next to ``llm_filter_matrix``: kappa says
    whether two gates agree; this says whether a scorer's PROBABILITIES
    can be trusted against a gate before using it as a soft replacement.

    Determinism: the LM keep-probability is one sigmoid of the 6-dp
    xent, rounded 6 dp like the classifier score; each diagram is the
    calibration_from dag (pinned folds). Scale: per-doc scores ride the
    lm/classifier plans; the four diagrams are <=10-row aggregates
    unioned."""
    j = _scorer_gate_frame(spark, sf_dir)
    out = None
    for scorer, gate in CALIB_PAIRS:
        leg = calibration_from(
            j.select(
                "doc_id",
                F.col(scorer).alias("clf_score"),
                F.col(gate).alias("label"),
            )
        ).select(
            F.lit(scorer).alias("scorer"),
            F.lit(gate).alias("gate"),
            "bin",
            "n_docs",
            "mean_score",
            "pass_rate",
            "gap",
            "ece",
        )
        out = leg if out is None else out.unionByName(leg)
    return out


def _calibration_matrix_sql() -> str:
    score_expr = {
        "classifier": "j.classifier",
        "lm": "j.lm",
    }
    gate_expr = {"gopher": "j.gopher", "heuristic": "j.heuristic"}
    ctes = []
    legs = []
    for i, (scorer, gate) in enumerate(CALIB_PAIRS):
        s, g = score_expr[scorer], gate_expr[gate]
        ctes.append(
            f"""b{i} AS (
  SELECT least(CAST(floor({s} * {CALIB_BINS}) AS BIGINT),
               CAST({CALIB_BINS - 1} AS BIGINT)) AS bin,
         j.doc_id, {s} AS clf_score, {g} AS label
  FROM j),
per{i} AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         round(list_reduce(list_prepend({dlit(0.0)},
                 list(clf_score ORDER BY doc_id)), (a, x) -> a + x)
               / CAST(count(*) AS DOUBLE), 6) AS mean_score,
         round(CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           AS pass_rate
  FROM b{i} GROUP BY bin),
rows{i} AS (
  SELECT bin, n_docs, mean_score, pass_rate,
         round(abs(mean_score - pass_rate), 6) AS gap
  FROM per{i}),
tot{i} AS (
  SELECT round(list_reduce(list_prepend({dlit(0.0)},
           list(gap * CAST(n_docs AS DOUBLE)
                / CAST((SELECT sum(n_docs) FROM rows{i}) AS DOUBLE)
                ORDER BY bin)), (a, x) -> a + x), 6) AS ece
  FROM rows{i})"""
        )
        legs.append(
            f"""SELECT '{scorer}' AS scorer, '{gate}' AS gate,
       bin, n_docs, mean_score, pass_rate, gap, ece
FROM rows{i}, tot{i}"""
        )
    return f"""
WITH {_LM_TERMS_SQL},
lmp AS (
  SELECT doc_id,
         round({dlit(1.0)} / ({dlit(1.0)}
               + exp(-(CAST({XENT_MAX} AS DOUBLE)
                       - round(-lp / CAST(n_bigrams AS DOUBLE), 6)))), 6)
           AS lm
  FROM per),
gop AS (SELECT doc_id, CAST(passes AS BIGINT) AS gopher
        FROM ({_gopher_rules_sql()}) t),
clf AS (SELECT doc_id, clf_score AS classifier
        FROM ({_FEATURE_HASH_SQL}) t),
j AS (
  SELECT d.doc_id, c.classifier, l.lm, g.gopher,
         CASE WHEN {quality_score_sql('text')} >= CAST({QUALITY_MIN} AS DOUBLE)
                   AND d.n_chars BETWEEN {CHARS_MIN} AND {CHARS_MAX}
                   AND d.lang IN ('en', 'de', 'fr')
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS heuristic
  FROM documents d
  JOIN clf c ON d.doc_id = c.doc_id
  JOIN lmp l ON d.doc_id = l.doc_id
  JOIN gop g ON d.doc_id = g.doc_id),
{','.join(ctes)}
{chr(10).join(f"{leg}{chr(10)}UNION ALL" for leg in legs[:-1])}
{legs[-1]}
"""


def filter_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full filter-swap decision table: pairwise 2x2 cells, observed
    agreement, and Cohen's kappa for EVERY pair of the four shipped
    quality gates (heuristic quality_gate predicate, LM xent gate,
    Gopher structural rules, feature-hashing classifier) — generalizing
    ``filter_agreement`` (one pair) into the matrix a pipeline owner
    reads to pick a prefilter chain: high-kappa pairs are redundant
    (run only the cheaper one), low-kappa pairs are complementary.

    Determinism: all 6x4 cells are exact integer sums from ONE global
    aggregate; po/pe/kappa is the filter_agreement dag per pair. Scale:
    per-doc flags ride the lm/gopher/classifier plans (doc_id-keyed
    joins); the aggregate map-side-combines to one row, then 6 rows."""
    d = load(spark, sf_dir, "documents")
    heur = (
        (quality_score(F.col("text")) >= QUALITY_MIN)
        & (F.col("n_chars") >= CHARS_MIN)
        & (F.col("n_chars") <= CHARS_MAX)
        & F.col("lang").isin("en", "de", "fr")
    ).cast("long")
    lm = lm_token_logprob(spark, sf_dir).select(
        "doc_id", (F.col("xent") <= F.lit(XENT_MAX)).cast("long").alias("lm")
    )
    gop = gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("passes").cast("long").alias("gopher")
    )
    clf = feature_hashing(spark, sf_dir).select(
        "doc_id", F.col("kept").cast("long").alias("classifier")
    )
    flags = (
        d.select("doc_id", heur.alias("heuristic"))
        .join(lm, "doc_id")
        .join(gop, "doc_id")
        .join(clf, "doc_id")
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    for fa, fb in FILTER_PAIRS:
        x, y = F.col(fa), F.col(fb)
        aggs += [
            F.sum(x * y).cast("bigint").alias(f"n11_{fa}_{fb}"),
            F.sum(x * (1 - y)).cast("bigint").alias(f"n10_{fa}_{fb}"),
            F.sum((1 - x) * y).cast("bigint").alias(f"n01_{fa}_{fb}"),
            F.sum((1 - x) * (1 - y)).cast("bigint").alias(f"n00_{fa}_{fb}"),
        ]
    a = flags.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(fa).alias("filter_a"),
                F.lit(fb).alias("filter_b"),
                F.col(f"n11_{fa}_{fb}").alias("n11"),
                F.col(f"n10_{fa}_{fb}").alias("n10"),
                F.col(f"n01_{fa}_{fb}").alias("n01"),
                F.col(f"n00_{fa}_{fb}").alias("n00"),
            )
            for fa, fb in FILTER_PAIRS
        ]
    )
    p = a.select("n_docs", F.explode(rows).alias("p")).select("n_docs", "p.*")
    n = F.col("n_docs").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pa = (F.col("n11") + F.col("n10")).cast("double") / n
    pb = (F.col("n11") + F.col("n01")).cast("double") / n
    pe = pa * pb + (F.lit(1.0) - pa) * (F.lit(1.0) - pb)
    kappa = F.when(
        F.lit(1.0) - pe == 0, F.lit(None).cast("double")
    ).otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 6))
    return p.select(
        "filter_a",
        "filter_b",
        "n_docs",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("agree_rate"),
        kappa.alias("kappa"),
    )


def _filter_matrix_sql() -> str:
    cells = ["CAST(count(*) AS BIGINT) AS n_docs"]
    for fa, fb in FILTER_PAIRS:
        cells += [
            f"CAST(sum({fa} * {fb}) AS BIGINT) AS n11_{fa}_{fb}",
            f"CAST(sum({fa} * (1 - {fb})) AS BIGINT) AS n10_{fa}_{fb}",
            f"CAST(sum((1 - {fa}) * {fb}) AS BIGINT) AS n01_{fa}_{fb}",
            f"CAST(sum((1 - {fa}) * (1 - {fb})) AS BIGINT) AS n00_{fa}_{fb}",
        ]
    legs = []
    for fa, fb in FILTER_PAIRS:
        po = f"(CAST(n11_{fa}_{fb} + n00_{fa}_{fb} AS DOUBLE) / CAST(n_docs AS DOUBLE))"
        pa = f"(CAST(n11_{fa}_{fb} + n10_{fa}_{fb} AS DOUBLE) / CAST(n_docs AS DOUBLE))"
        pb = f"(CAST(n11_{fa}_{fb} + n01_{fa}_{fb} AS DOUBLE) / CAST(n_docs AS DOUBLE))"
        pe = f"({pa} * {pb} + ({dlit(1.0)} - {pa}) * ({dlit(1.0)} - {pb}))"
        legs.append(
            f"""SELECT '{fa}' AS filter_a, '{fb}' AS filter_b, n_docs,
       n11_{fa}_{fb} AS n11, n10_{fa}_{fb} AS n10,
       n01_{fa}_{fb} AS n01, n00_{fa}_{fb} AS n00,
       round({po}, 6) AS agree_rate,
       CASE WHEN {dlit(1.0)} - {pe} = 0 THEN NULL
            ELSE round(({po} - {pe}) / ({dlit(1.0)} - {pe}), 6) END AS kappa
FROM cells"""
        )
    union = "\nUNION ALL\n".join(legs)
    return f"""
WITH {_LM_TERMS_SQL},
scores AS (
  SELECT doc_id, round(-lp / CAST(n_bigrams AS DOUBLE), 6) AS xent FROM per),
gop AS (SELECT doc_id, CAST(passes AS BIGINT) AS gopher
        FROM ({_gopher_rules_sql()}) t),
clf AS (SELECT doc_id, CAST(kept AS BIGINT) AS classifier
        FROM ({_FEATURE_HASH_SQL}) t),
flags AS (
  SELECT CASE WHEN {quality_score_sql('text')} >= CAST({QUALITY_MIN} AS DOUBLE)
                   AND d.n_chars BETWEEN {CHARS_MIN} AND {CHARS_MAX}
                   AND d.lang IN ('en', 'de', 'fr')
              THEN 1 ELSE 0 END AS heuristic,
         CASE WHEN s.xent <= CAST({XENT_MAX} AS DOUBLE) THEN 1 ELSE 0 END AS lm,
         g.gopher, c.classifier
  FROM documents d
  JOIN scores s ON d.doc_id = s.doc_id
  JOIN gop g ON d.doc_id = g.doc_id
  JOIN clf c ON d.doc_id = c.doc_id),
cells AS (SELECT {', '.join(cells)} FROM flags)
{union}
"""


CROSS_SOURCE_K = 13  # verbatim-span convention (GPT-3 contamination n)


def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication provenance matrix (the RefinedWeb/Dolma
    audit): for every pair of sources, how many DISTINCT verbatim
    CROSS_SOURCE_K-word grams they share, each side's distinct-gram
    count, and the gram-level Jaccard — the table that answers "which
    sources copy from each other" before choosing a dedup priority
    order. Uses the 13-gram convention the contamination battery uses
    for verbatim spans (exact full-text digests are near-vacuous below
    web scale).

    Determinism: all counts are exact integers from the shared shingle
    kernel; jaccard is one double division of identical operands.
    Scale: the self-join is keyed on the gram, so pair generation is
    bounded per gram by the number of sources holding it
    (<= |sources|^2, never doc^2); DISTINCT (gram, source) collapses
    first with map-side combine, and the per-source totals are a
    |sources|-row broadcast join. The gram key IS its md5 (fixed
    16-byte shuffle width instead of 13-word strings) — measured ~25%
    off the steady-state wall at sf0.1."""
    # fan_out: the 13-gram explode + md5 runs ~3 s on ONE core when the
    # documents scan is a single parquet split (measured at sf0.1); no-op
    # once the scan splits >= cores
    d = fan_out(load(spark, sf_dir, "documents")).select("text", "source")
    ds = exploded_shingles(d, "text", CROSS_SOURCE_K, "g").select(
        F.md5("g").alias("g"), "source"
    ).distinct()
    return cross_source_matrix(ds)


def cross_source_matrix(ds: DataFrame) -> DataFrame:
    """Pair matrix over a DISTINCT (g, source) frame — shared by the batch
    query and the streaming incremental mirror so both produce the exact
    same plan tail (bitwise-critical)."""
    tot = ds.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = ds.alias("a"), ds.alias("b")
    pairs = (
        a.join(b, "g")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    ta = F.broadcast(
        tot.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    )
    tb = F.broadcast(
        tot.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    )
    j = pairs.join(ta, "src_a").join(tb, "src_b")
    denom = (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")
    return j.select(
        "src_a",
        "src_b",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "n_shared",
        F.round(F.col("n_shared").cast("double") / denom, 6).alias("jaccard"),
    )


_CROSS_SOURCE_SQL = f"""
WITH raw AS (
  SELECT unnest({shingles_sql('text', CROSS_SOURCE_K)}) AS g, source
  FROM documents),
ds AS (SELECT DISTINCT md5(g) AS g, source FROM raw),
tot AS (SELECT source, count(*) AS n FROM ds GROUP BY 1),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM ds a JOIN ds b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2)
SELECT p.src_a, p.src_b,
       CAST(ta.n AS BIGINT) AS n_a, CAST(tb.n AS BIGINT) AS n_b,
       p.n_shared,
       round(CAST(p.n_shared AS DOUBLE)
               / CAST(ta.n + tb.n - p.n_shared AS DOUBLE), 6) AS jaccard
FROM pairs p
JOIN tot ta ON p.src_a = ta.source
JOIN tot tb ON p.src_b = tb.source
"""


FLESCH_EASY = 60.0
FLESCH_STANDARD = 30.0


def readability_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-reading-ease-style readability per document — the classic
    surface-statistics quality signal (used alongside stopword/length
    heuristics in curation stacks): words per sentence and vowel-group
    "syllables" per word folded into 206.835 − 1.015·(W/S) − 84.6·(Sy/W),
    banded easy/standard/hard.

    Determinism: all three counts are exact integers from the same
    regexes in both engines (sentence enders [.!?], vowel groups
    [aeiouy]+ on the lowercased text); the score is one fixed double dag
    rounded 4 dp. Sentence count floors at 1 so unpunctuated docs score
    instead of dividing by zero. Scale: pure codegen column expressions
    over the scan — no shuffle, no UDF."""
    return readability_from(load(spark, sf_dir, "documents"))


def readability_from(d: DataFrame) -> DataFrame:
    """DataFrame-input form — shared with the streaming mirror (per-doc
    stateless, so per-batch outputs union to the batch answer)."""
    n_words = F.size(F.split("text", " ")).cast("bigint")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), 0)),
        F.lit(1),
    ).cast("bigint")
    n_syl = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("bigint")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6) * (n_syl.cast("double") / n_words.cast("double"))
    )
    band = (
        F.when(score >= FLESCH_EASY, F.lit("easy"))
        .when(score >= FLESCH_STANDARD, F.lit("standard"))
        .otherwise(F.lit("hard"))
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
        F.round(score, 4).alias("flesch"),
        band.alias("band"),
    )


_READABILITY_SQL = f"""
WITH c AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents),
s AS (
  SELECT *,
         {dlit(206.835)}
           - {dlit(1.015)} * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           - {dlit(84.6)} * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
           AS score
  FROM c)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(score, 4) AS flesch,
       CASE WHEN score >= {dlit(FLESCH_EASY)} THEN 'easy'
            WHEN score >= {dlit(FLESCH_STANDARD)} THEN 'standard'
            ELSE 'hard' END AS band
FROM s
"""


TOKEN_BUDGET = 1_000_000  # planner target (tokens) for the epoch allocation


def mixing_rate_tenths() -> Column:
    """The dataset_mixing integer rate ladder (k/10 by source number) —
    shared by the batch planner and its streaming incremental mirror."""
    return F.regexp_extract(F.col("source"), "[0-9]+", 0).cast("int") % 5 + 1


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained scaling planner (the Muennighoff et al. question):
    given a target token budget and the dataset_mixing source weights, how
    many EPOCHS of each source does the plan imply — i.e. which sources
    must repeat, and which repeat past the ~4-epoch point of diminishing
    returns. Per source: available docs/tokens, mixture weight, allocated
    tokens, implied epochs, and the over-repetition flag.

    Determinism: weights stay in INTEGER tenths (the mixing rate ladder is
    k/10) until a single double division, so the weight normalizer is an
    exact integer sum — no float-order dependence; epochs is one more
    division of identical doubles. Scale: ONE map-side-combining
    groupBy(source) plus a 1-row broadcast total."""
    d = load(spark, sf_dir, "documents")
    rt = mixing_rate_tenths().alias("rate_tenths")
    per = (
        d.select(
            "source",
            rt,
            F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        )
        .groupBy("source", "rate_tenths")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )
    return token_budget_from_per_source(per)


def token_budget_from_per_source(per: DataFrame) -> DataFrame:
    """Allocation math over the per-source (source, rate_tenths, n_docs,
    n_tokens) totals — shared with the streaming incremental mirror,
    whose micro-batches maintain exactly this table from integer-sum
    partials. Weights stay integer until one double division, so the
    merge order can never change the answer."""
    tot = per.agg(F.sum("rate_tenths").cast("bigint").alias("t"))
    j = per.crossJoin(F.broadcast(tot))
    w = F.col("rate_tenths").cast("double") / F.col("t").cast("double")
    alloc = F.lit(float(TOKEN_BUDGET)) * w
    epochs = alloc / F.col("n_tokens").cast("double")
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(w, 6).alias("mix_weight"),
        F.round(alloc, 2).alias("allocated_tokens"),
        F.round(epochs, 6).alias("epochs"),
        (epochs > F.lit(4.0)).cast("int").alias("over_repeated"),
    )


_TOKEN_BUDGET_SQL = f"""
WITH per AS (
  SELECT source,
         CAST(regexp_extract(source, '[0-9]+') AS INTEGER) % 5 + 1 AS rate_tenths,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2),
tot AS (SELECT CAST(sum(rate_tenths) AS BIGINT) AS t FROM per)
SELECT source, n_docs, n_tokens,
       round(CAST(rate_tenths AS DOUBLE) / CAST(t AS DOUBLE), 6) AS mix_weight,
       round({dlit(float(TOKEN_BUDGET))}
               * (CAST(rate_tenths AS DOUBLE) / CAST(t AS DOUBLE)), 2)
         AS allocated_tokens,
       round({dlit(float(TOKEN_BUDGET))}
               * (CAST(rate_tenths AS DOUBLE) / CAST(t AS DOUBLE))
               / CAST(n_tokens AS DOUBLE), 6) AS epochs,
       CAST(CASE WHEN {dlit(float(TOKEN_BUDGET))}
                      * (CAST(rate_tenths AS DOUBLE) / CAST(t AS DOUBLE))
                      / CAST(n_tokens AS DOUBLE) > {dlit(4.0)}
                 THEN 1 ELSE 0 END AS INTEGER) AS over_repeated
FROM per, tot
"""


DOREMI_TEMP = 0.5  # softmax temperature on per-source excess loss


def doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al.): mixture weights from
    per-source EXCESS LM loss — domains whose documents the corpus LM
    finds hardest (highest mean cross-entropy above the equal-weight
    baseline) get upweighted, the deterministic single-pass analogue of
    DoReMi's proxy-vs-reference excess-loss signal, computed from the
    already-oracle-checked ``lm_token_logprob`` scores. Output: per
    source, doc count, mean xent, excess over the across-source mean, and
    the softmax(excess / T) mixture weight. The table a mixture planner
    (token_budget_plan, dataset_mixing) would consume instead of
    hand-set rates.

    Determinism: per-doc xent is the 6-dp scorer output; the per-source
    mean folds doc xents in doc_id order; the baseline folds source means
    in source order; the softmax normalizer folds exp terms in source
    order — every float reduction a pinned sequential fold, mirrored by
    DuckDB ``list_reduce`` folds over identically-ordered lists. Scale:
    rides the lm_token_logprob plan (n-gram tables with map-side
    combine); everything after is |sources|-sized aggregates and one
    broadcast baseline row."""
    lm = lm_token_logprob(spark, sf_dir).select("doc_id", "xent")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    return doremi_from(lm, src)


def doremi_from(lm: DataFrame, src: DataFrame) -> DataFrame:
    """The reweighting tail over per-doc (doc_id, xent) scores and a
    (doc_id, source) map — shared with the streaming incremental mirror,
    which re-derives the scores from its landed bigram stream at emission
    time and feeds them through this identical dag."""
    grouped = (
        lm.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sort_array(F.collect_list(F.struct("doc_id", "xent"))).alias("xs"),
        )
    )
    mean_x = F.round(
        F.aggregate(F.col("xs"), F.lit(0.0), lambda a, s: a + s["xent"])
        / F.col("n_docs").cast("double"),
        6,
    )
    per = grouped.select("source", "n_docs", mean_x.alias("mean_xent"))
    base = per.agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("source", "mean_xent"))),
                F.lit(0.0),
                lambda a, s: a + s["mean_xent"],
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("base_xent")
    )
    ex = per.crossJoin(F.broadcast(base)).select(
        "source",
        "n_docs",
        "mean_xent",
        F.round(F.col("mean_xent") - F.col("base_xent"), 6).alias("excess"),
    )
    wr = ex.withColumn("wraw", F.exp(F.col("excess") / F.lit(DOREMI_TEMP)))
    z = wr.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "wraw"))),
            F.lit(0.0),
            lambda a, s: a + s["wraw"],
        ).alias("z")
    )
    return wr.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "mean_xent",
        "excess",
        F.round(F.col("wraw") / F.col("z"), 6).alias("weight"),
    )


def _doremi_tail_sql() -> str:
    """srcx/base/ex/wr/z CTE chain + final SELECT over an ``xent`` CTE —
    the SQL twin of ``doremi_from``, shared by the self-scored and
    held-out oracles so the reweighting math can never drift between
    them (the `_bitext_tail_sql` pattern)."""
    return f"""srcx AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         round(list_reduce(list(x.xent ORDER BY x.doc_id), (a, b) -> a + b)
               / CAST(count(*) AS DOUBLE), 6) AS mean_xent
  FROM xent x JOIN documents d ON x.doc_id = d.doc_id
  GROUP BY d.source),
base AS (
  SELECT round(list_reduce(list(mean_xent ORDER BY source), (a, b) -> a + b)
               / CAST(count(*) AS DOUBLE), 6) AS base_xent FROM srcx),
ex AS (
  SELECT source, n_docs, mean_xent,
         round(mean_xent - base_xent, 6) AS excess
  FROM srcx, base),
wr AS (SELECT *, exp(excess / {dlit(DOREMI_TEMP)}) AS wraw FROM ex),
z AS (SELECT list_reduce(list(wraw ORDER BY source), (a, b) -> a + b) AS z
      FROM wr)
SELECT source, n_docs, mean_xent, excess, round(wraw / z, 6) AS weight
FROM wr, z
"""


def _doremi_sql() -> str:
    return f"""
WITH {_LM_TERMS_SQL},
xent AS (
  SELECT doc_id, round(-lp / CAST(n_bigrams AS DOUBLE), 6) AS xent FROM per),
{_doremi_tail_sql()}"""


def doremi_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi with a HELD-OUT reference LM — closer to the paper's
    proxy-vs-reference structure than the single-pass variant above,
    which scores the corpus under its own LM (a document always looks
    easier to a model trained on it): split the corpus by doc_id parity,
    score each half's documents under the OTHER half's add-one bigram
    tables, then run the identical excess-loss softmax tail. Same output
    shape as ``doremi_weights`` so the two signals compare directly.

    Determinism: the parity split is exact integer arithmetic; unseen
    bigrams take the add-one floor via coalesce(0); folds are the pinned
    doc_id/pos and source orders of the shared tail. Degenerate case,
    BY DEFINITION: a document whose reference half is empty cannot be
    held-out-scored — the inner join on the reference-half V table
    excludes it, so a single-parity corpus (e.g. all-even ids after an
    id-keyed dedup) yields zero weights rather than self-scored ones;
    use ``doremi_weights`` there (pinned by pytest). Scale: two
    half-corpus n-gram tables instead of one (same distinct-gram-sized
    map-side-combining shape); scoring joins carry a tiny ref-half key
    alongside the word keys."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = lm_bigram_pairs(d).withColumn(
        "ref", (F.lit(1) - F.col("doc_id") % F.lit(2)).cast("int")
    )
    half = F.col("doc_id") % F.lit(2)
    tbl_src = pairs.withColumn("h", half.cast("int"))
    bg = tbl_src.groupBy("h", "w1", "w2").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx = tbl_src.groupBy("h", "w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    v = tbl_src.groupBy("h").agg(F.count_distinct("w2").alias("v"))
    num = (F.coalesce(F.col("c_bg"), F.lit(0)) + F.lit(PPL_SMOOTH_K)).cast("double")
    den = (
        F.coalesce(F.col("c_ctx"), F.lit(0)) + F.lit(PPL_SMOOTH_K) * F.col("v")
    ).cast("double")
    terms = (
        pairs.join(
            bg.select(F.col("h").alias("ref"), "w1", "w2", "c_bg"),
            ["ref", "w1", "w2"],
            "left",
        )
        .join(
            ctx.select(F.col("h").alias("ref"), "w1", "c_ctx"),
            ["ref", "w1"],
            "left",
        )
        .join(F.broadcast(v.select(F.col("h").alias("ref"), "v")), "ref")
        .select("doc_id", "pos", F.log(num / den).alias("term"))
    )
    per = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sort_array(F.collect_list(F.struct("pos", "term"))).alias("ts"),
    )
    lp = F.aggregate(F.col("ts"), F.lit(0.0), lambda acc, x: acc + x["term"])
    lm = per.select(
        "doc_id",
        F.round(-lp / F.col("n_bigrams").cast("double"), 6).alias("xent"),
    )
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    return doremi_from(lm, src)


def _doremi_heldout_sql() -> str:
    return f"""
WITH {_LM_BASE_SQL},
bgp2 AS (SELECT doc_id, pos, w1, w2,
                CAST(1 - doc_id % 2 AS INTEGER) AS ref,
                CAST(doc_id % 2 AS INTEGER) AS h
         FROM bgp),
bgh AS (SELECT h, w1, w2, count(*) AS c_bg FROM bgp2 GROUP BY 1, 2, 3),
ctxh AS (SELECT h, w1, count(*) AS c_ctx FROM bgp2 GROUP BY 1, 2),
vh AS (SELECT h, count(DISTINCT w2) AS v FROM bgp2 GROUP BY 1),
terms AS (
  SELECT p.doc_id, p.pos,
         ln(CAST(coalesce(b.c_bg, 0) + {PPL_SMOOTH_K} AS DOUBLE)
            / CAST(coalesce(c.c_ctx, 0) + {PPL_SMOOTH_K} * v.v AS DOUBLE))
           AS term
  FROM bgp2 p
  LEFT JOIN bgh b ON b.h = p.ref AND p.w1 = b.w1 AND p.w2 = b.w2
  LEFT JOIN ctxh c ON c.h = p.ref AND p.w1 = c.w1
  JOIN vh v ON v.h = p.ref),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         list_reduce(list(term ORDER BY pos), (acc, x) -> acc + x) AS lp
  FROM terms GROUP BY doc_id),
xent AS (
  SELECT doc_id, round(-lp / CAST(n_bigrams AS DOUBLE), 6) AS xent FROM per),
{_doremi_tail_sql()}"""


BITEXT_K = 4  # neighborhood size in the margin denominator
BITEXT_MARGIN_MIN = 1.02  # keep pairs clearly above their neighborhoods


def bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext (parallel-pair) mining (Artetxe & Schwenk — the
    CCMatrix/LASER method): candidate translation pairs are CROSS-language
    document pairs whose embedding cosine stands out from both endpoints'
    neighborhoods — margin = cos(x, y) / ((nn(x) + nn(y)) / 2), where
    nn(v) is the mean cosine of v's top-K cross-language neighbors. Raw
    cosine thresholds fail because neighborhood density varies (hubness);
    the ratio margin is the standard fix. Emits pairs with
    margin >= BITEXT_MARGIN_MIN.

    Determinism: pair cosines are the shared 6-dp kernel; each node's
    neighborhood mean folds its top-K cosines in rank order (ties on
    neighbor id); margin is one fixed double dag. Scale: the exact kernel
    is bounded to SEP_MAX_ID vectors (the fuzzy-match convention); at
    100 TB candidates come from the banded LSH / IVF index instead of the
    cross join and the same margin math scores band-join survivors."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < SEP_MAX_ID)
    langs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    s = e.join(langs, "vec_id").select(
        "vec_id", "lang", to_double(F.col("embedding")).alias("vec")
    )
    a = s.select(
        F.col("vec_id").alias("a_id"),
        F.col("lang").alias("a_lang"),
        F.col("vec").alias("a_vec"),
    )
    b = s.select(
        F.col("vec_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("vec").alias("b_vec"),
    )
    # directed cross-language pairs: every node sees its FULL cross-lang
    # neighborhood (an a<b restriction here would skew nn() toward high ids)
    dpairs = (
        a.crossJoin(b)
        .filter((F.col("a_id") != F.col("b_id")) & (F.col("a_lang") != F.col("b_lang")))
        .select(
            "a_id",
            "a_lang",
            "b_id",
            "b_lang",
            F.round(cosine(F.col("a_vec"), F.col("b_vec")), 6).alias("cos_sim"),
        )
    )
    return bitext_margin_from(dpairs)


def bitext_margin_from(dpairs: DataFrame) -> DataFrame:
    """The margin tail over a DIRECTED cross-language candidate-pair frame
    (a_id, a_lang, b_id, b_lang, cos_sim) — shared by the bounded exact
    kernel above and the banded scale-path query below (candidates differ,
    scoring must not). Requires the candidate relation to be symmetric so
    both endpoints carry a neighborhood."""
    wnn = W.partitionBy("a_id").orderBy(F.col("cos_sim").desc(), F.col("b_id"))
    top = dpairs.withColumn("rn", F.row_number().over(wnn)).filter(
        F.col("rn") <= BITEXT_K
    )
    nn = top.groupBy("a_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sort_array(F.collect_list(F.struct("rn", "cos_sim"))).alias("xs"),
    )
    # nn_avg stays UNROUNDED: it is a pinned fold of identical 6-dp doubles,
    # so both engines hold the identical double already — an intermediate
    # round(·, 6) here actually BROKE parity once (sf0.001 node 42's mean
    # sits ~1.4e-17 below a .5 boundary: DuckDB's multiply-based round tips
    # up, Spark's BigDecimal HALF_UP stays down). Round only at the margin.
    nn = nn.select(
        F.col("a_id").alias("id"),
        (
            F.aggregate(F.col("xs"), F.lit(0.0), lambda acc, x: acc + x["cos_sim"])
            / F.col("m").cast("double")
        ).alias("nn_avg"),
    )
    upairs = dpairs.filter(F.col("a_id") < F.col("b_id"))
    scored = (
        upairs.join(nn.select(F.col("id").alias("a_id"), F.col("nn_avg").alias("nn_a")), "a_id")
        .join(nn.select(F.col("id").alias("b_id"), F.col("nn_avg").alias("nn_b")), "b_id")
        .select(
            "a_id",
            "b_id",
            "a_lang",
            "b_lang",
            "cos_sim",
            F.round(
                F.col("cos_sim") / ((F.col("nn_a") + F.col("nn_b")) / F.lit(2.0)),
                6,
            ).alias("margin"),
        )
    )
    return scored.filter(F.col("margin") >= BITEXT_MARGIN_MIN)


def _bitext_tail_sql() -> str:
    """ranked/nn CTE tail + margin SELECT over a ``dpairs`` CTE — shared by
    the exact and banded oracles, like ``bitext_margin_from`` Spark-side."""
    return f"""ranked AS (
  SELECT a_id, b_id, cos_sim,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY cos_sim DESC, b_id) AS rn
  FROM dpairs),
nn AS (
  SELECT a_id AS id,
         list_reduce(list_prepend({dlit(0.0)},
                 list(cos_sim ORDER BY rn)), (acc, x) -> acc + x)
               / CAST(count(*) AS DOUBLE) AS nn_avg
  FROM ranked WHERE rn <= {BITEXT_K} GROUP BY a_id)
SELECT p.a_id, p.b_id, p.a_lang, p.b_lang, p.cos_sim,
       round(p.cos_sim / ((na.nn_avg + nb.nn_avg) / {dlit(2.0)}), 6) AS margin
FROM dpairs p
JOIN nn na ON na.id = p.a_id
JOIN nn nb ON nb.id = p.b_id
WHERE p.a_id < p.b_id
  AND round(p.cos_sim / ((na.nn_avg + nb.nn_avg) / {dlit(2.0)}), 6)
      >= {dlit(BITEXT_MARGIN_MIN)}
"""


def _bitext_sql() -> str:
    return f"""
WITH s AS (
  SELECT e.vec_id, d.lang, e.embedding::DOUBLE[] AS vec
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
  WHERE e.vec_id < {SEP_MAX_ID}),
dpairs AS (
  SELECT a.vec_id AS a_id, a.lang AS a_lang,
         b.vec_id AS b_id, b.lang AS b_lang,
         round({cosine_sql('a.vec', 'b.vec')}, 6) AS cos_sim
  FROM s a JOIN s b ON a.vec_id != b.vec_id AND a.lang != b.lang),
{_bitext_tail_sql()}"""


def bitext_banded_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitext margin miner's 100 TB path: candidates come from the
    multi-probe LSH band join over the FULL corpus instead of the bounded
    cross join — each vector meets only cross-language vectors sharing its
    bucket or a 1-bit probe neighbor (a symmetric relation, so both
    endpoints carry a neighborhood), and the identical shared margin tail
    scores the survivors. Same output shape and thresholds as the exact
    kernel; the candidate volume is co-bucketed pairs, never |corpus|².

    Scale: both sides shuffle once on the bucket key (the minhash banding
    shape); AQE splits hot buckets; per-node neighborhoods are top-K of
    banded candidates, so the margin denominator degrades gracefully from
    exact-kNN to banded-kNN — the standard mined-bitext production
    tradeoff."""
    from ..operators.similarity import banded_pairs

    e = load(spark, sf_dir, "embeddings")
    langs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    v = (
        e.join(langs, "vec_id")
        .select("vec_id", "lang", to_double(F.col("embedding")).alias("vec"))
        .withColumn("bucket", lsh_bucket(F.col("vec"), EMB_DIM))
        .withColumn("nv", norm(F.col("vec")))
    )
    # the shared multi-probe construction (one home with nsw_edges) + the
    # cross-language residual
    dpairs = (
        banded_pairs(v, extra=("lang",))
        .filter(F.col("a_lang") != F.col("b_lang"))
        .select("a_id", "a_lang", "b_id", "b_lang", "cos_sim")
    )
    return bitext_margin_from(dpairs)


def _bitext_banded_sql() -> str:
    probes = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(N_PLANES)]
    )
    return f"""
WITH sb AS MATERIALIZED (
  SELECT e.vec_id, d.lang, e.embedding::DOUBLE[] AS vec,
         {lsh_bucket_sql("(e.embedding::DOUBLE[])", EMB_DIM)} AS bucket
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
srcp AS (
  SELECT vec_id AS a_id, lang AS a_lang, vec AS a_vec,
         unnest([{probes}]) AS bucket
  FROM sb),
dpairs AS MATERIALIZED (
  SELECT s.a_id, s.a_lang, c.vec_id AS b_id, c.lang AS b_lang,
         round({_nsw_cos_sql('s.a_vec', 'c.vec')}, 6) AS cos_sim
  FROM srcp s JOIN sb c USING (bucket)
  WHERE s.a_id != c.vec_id AND s.a_lang != c.lang),
{_bitext_tail_sql()}"""


def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (DPO/RLHF data prep): per source, pair
    the highest-quality doc (chosen) with the lowest-quality doc (rejected)
    under the shared deterministic quality score, with the score margin —
    the standard way to mine preference data from a scored corpus when no
    human labels exist. Sources whose docs all tie (zero margin) or that
    hold a single doc produce no pair.

    Determinism: argmax/argmin are lexicographic struct MIN/MAX over
    (score, -doc_id) — ties break to the SMALLEST doc_id for chosen and the
    LARGEST for rejected, identically in both engines (verified: DuckDB
    struct min/max compares fields left-to-right like Spark).

    Scale shape: ONE map-side-combining groupBy(source) — partial struct
    min/max combine inside the scan, so a hot source never concentrates
    rows on one task the way a per-source window would; the score is a
    pure codegen expression riding the scan."""
    d = fan_out(load(spark, sf_dir, "documents"))
    scored = d.select(
        "source", "doc_id", quality_score(F.col("text")).alias("score")
    )
    key = F.struct(F.col("score"), (-F.col("doc_id")).alias("nid"))
    agg = (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(key).alias("ch"),
            F.min(key).alias("rj"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return agg.select(
        "source",
        "n_docs",
        (-F.col("ch.nid")).cast("bigint").alias("chosen_doc"),
        F.col("ch.score").alias("chosen_score"),
        (-F.col("rj.nid")).cast("bigint").alias("rejected_doc"),
        F.col("rj.score").alias("rejected_score"),
        F.round(F.col("ch.score") - F.col("rj.score"), 6).alias("margin"),
    ).filter(F.col("margin") > 0)


_PREF_PAIRS_SQL = f"""
WITH scored AS (
  SELECT source, doc_id, {quality_score_sql("text")} AS score FROM documents
),
agg AS (
  SELECT source, count(*) AS n_docs,
         max(struct_pack(score := score, nid := -doc_id)) AS ch,
         min(struct_pack(score := score, nid := -doc_id)) AS rj
  FROM scored GROUP BY source HAVING count(*) >= 2
)
SELECT source, n_docs,
       CAST(-ch.nid AS BIGINT) AS chosen_doc, ch.score AS chosen_score,
       CAST(-rj.nid AS BIGINT) AS rejected_doc, rj.score AS rejected_score,
       round(ch.score - rj.score, 6) AS margin
FROM agg
WHERE round(ch.score - rj.score, 6) > {dlit(0.0)}
"""


# --- Corpus text-overlap eval: BLEU / ROUGE-n (round 13) ---------------------

OVERLAP_MAX_N = 4  # BLEU-4 convention


def text_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU / ROUGE-n between paired documents (the
    generation-eval metric family): odd doc_ids are candidates, the
    preceding even doc_id is the paired reference. One row per n in
    1..4 with the clipped-count modified n-gram precision (Papineni
    2002), ROUGE-n recall and F1 (Lin 2004), the corpus brevity
    penalty, and the CUMULATIVE smoothed BLEU through that order
    (BLEU+1 add-one smoothing, Lin & Och 2004 — deterministic, no
    zero-precision blowup at small corpora).

    Scale: token/n-gram explosion collapses map-side into ONE shuffle
    keyed (pair_id, n, gram) with both sides' counts as conditional
    sums (no self-join); the per-n rollup is 4 rows; the brevity
    penalty is a 1-row broadcast cross join. Nothing is quadratic in
    pair length and no text leaves the executors un-hashed-down.
    """
    d0 = load(spark, sf_dir, "documents").select(
        F.expr("doc_id div 2").alias("pair_id"),
        F.when(F.col("doc_id") % 2 == 1, F.lit("c")).otherwise(F.lit("r")).alias("side"),
        F.split("text", " ").alias("toks"),
    )
    # complete pairs only: a lone candidate or reference (odd corpus
    # tail) must not skew the corpus totals
    complete = (
        d0.groupBy("pair_id").agg(F.count(F.lit(1)).alias("nn")).filter(
            F.col("nn") == 2
        ).select("pair_id")
    )
    d = d0.join(complete, "pair_id")
    dn = d.select(
        "pair_id", "side", "toks",
        F.explode(F.sequence(F.lit(1), F.lit(OVERLAP_MAX_N))).alias("n"),
    )
    grams = dn.select(
        "pair_id",
        "n",
        F.explode(
            F.when(
                F.size("toks") >= F.col("n"),
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - F.col("n") + 1),
                    lambda i: F.array_join(F.slice(F.col("toks"), i, F.col("n")), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
        "side",
    )
    counts = grams.groupBy("pair_id", "n", "g").agg(
        F.sum(F.when(F.col("side") == "c", 1).otherwise(0)).alias("c_cnt"),
        F.sum(F.when(F.col("side") == "r", 1).otherwise(0)).alias("r_cnt"),
    )
    per_n = counts.groupBy("n").agg(
        F.sum(F.least("c_cnt", "r_cnt")).cast("bigint").alias("clipped"),
        F.sum("c_cnt").cast("bigint").alias("cand_total"),
        F.sum("r_cnt").cast("bigint").alias("ref_total"),
    )
    bp = per_n.filter(F.col("n") == 1).select(
        F.exp(
            F.least(
                F.lit(0.0),
                F.lit(1.0)
                - F.col("ref_total").cast("double") / F.col("cand_total").cast("double"),
            )
        ).alias("bp")
    )
    w = W.orderBy("n").rowsBetween(W.unboundedPreceding, W.currentRow)
    p = F.col("clipped").cast("double") / F.col("cand_total").cast("double")
    r = F.col("clipped").cast("double") / F.col("ref_total").cast("double")
    return (
        per_n.crossJoin(bp)
        .select(
            F.col("n").cast("int").alias("ngram_n"),
            "clipped",
            "cand_total",
            "ref_total",
            F.round(p, 6).alias("prec_n"),
            F.round(r, 6).alias("rec_n"),
            F.round(
                F.when(F.col("clipped") == 0, F.lit(0.0)).otherwise(
                    F.lit(2.0) * p * r / (p + r)
                ),
                6,
            ).alias("f1_n"),
            F.round(F.col("bp"), 6).alias("brevity_penalty"),
            F.round(
                F.col("bp")
                * F.exp(
                    F.avg(
                        F.log(
                            (F.col("clipped").cast("double") + F.lit(1.0))
                            / (F.col("cand_total").cast("double") + F.lit(1.0))
                        )
                    ).over(w)
                ),
                6,
            ).alias("bleu_cum"),
        )
    )


ROUGE_L_MAX_TOK = 24  # bounded exact-LCS kernel (the SEP_MAX_ID posture):
# ROUGE-L needs an O(n*m) sequential DP per pair — bounded to the first 24
# tokens a side so the per-pair cost is a constant 576-cell DP, documented
# here the way the separability kernel documents its 64-vector cap. At
# 100 TB the bound is what you'd ship anyway (leads are what human evals
# read); raising it scales cost quadratically in the bound, never in the
# corpus, because pairs stay embarrassingly parallel.


def rouge_l_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (Lin 2004) per candidate/reference pair over the first
    ROUGE_L_MAX_TOK tokens of each side: exact LCS length via a numpy DP
    inside an Arrow-batched mapInPandas kernel, plus LCS precision /
    recall / F1. The DP uses the running-max reformulation — row_new =
    cummax(max(row_prev[1:], row_prev[:-1] + match_row)) — which
    vectorizes the inner loop (np.maximum.accumulate) AND is exactly the
    per-row list expression the DuckDB recursive-CTE oracle evaluates,
    so the two engines share the recurrence, not code.

    Scale: ONE shuffle to assemble pairs (groupBy pair_id, both sides as
    conditional max — no self-join); the kernel is per-pair independent
    and constant-cost, so decode parallelism equals scan parallelism and
    nothing grows with the corpus except the pair count."""
    import pandas as pd  # noqa: F401 — kernel-local import pattern

    d = load(spark, sf_dir, "documents")
    pairs = (
        d.select(
            F.expr("doc_id div 2").alias("pair_id"),
            (F.col("doc_id") % 2 == 1).alias("is_cand"),
            F.slice(F.split("text", " "), 1, ROUGE_L_MAX_TOK).alias("toks"),
        )
        .groupBy("pair_id")
        .agg(
            F.max(F.when(F.col("is_cand"), F.col("toks"))).alias("c_toks"),
            F.max(F.when(~F.col("is_cand"), F.col("toks"))).alias("r_toks"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") == 2)
        .select("pair_id", "c_toks", "r_toks")
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            out = []
            for pid, c, r in zip(pdf["pair_id"], pdf["c_toks"], pdf["r_toks"]):
                a = np.asarray(list(c), dtype=object)
                b = np.asarray(list(r), dtype=object)
                n, m = len(a), len(b)
                row = np.zeros(m + 1, dtype=np.int64)
                for i in range(n):
                    match = (a[i] == b).astype(np.int64)
                    e = np.maximum(row[1:], row[:-1] + match)
                    row = np.concatenate(([0], np.maximum.accumulate(e)))
                lcs = int(row[m])
                p = lcs / n if n else 0.0
                rc = lcs / m if m else 0.0
                f = 2.0 * p * rc / (p + rc) if lcs else 0.0
                out.append(
                    (int(pid), n, m, lcs, round(p, 6), round(rc, 6), round(f, 6))
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "pair_id", "cand_len", "ref_len", "lcs_len",
                    "prec_l", "rec_l", "rouge_l_f",
                ],
            )

    return pairs.mapInPandas(
        batches,
        "pair_id long, cand_len int, ref_len int, lcs_len int, "
        "prec_l double, rec_l double, rouge_l_f double",
    )


_ROUGE_L_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_id // 2 AS pair_id,
         max(CASE WHEN doc_id % 2 = 1
             THEN string_split(text, ' ')[1:{ROUGE_L_MAX_TOK}] END) AS c_toks,
         max(CASE WHEN doc_id % 2 = 0
             THEN string_split(text, ' ')[1:{ROUGE_L_MAX_TOK}] END) AS r_toks
  FROM documents GROUP BY 1 HAVING count(*) = 2
),
dp AS (
  SELECT pair_id, c_toks, r_toks, 0 AS i,
         [0 for _ in generate_series(0, len(r_toks))] AS row
  FROM pairs
  UNION ALL
  SELECT pair_id, c_toks, r_toks, i + 1,
         [0] || [list_max([greatest(row[k + 1],
                     row[k] + CASE WHEN c_toks[i + 1] = r_toks[k]
                              THEN 1 ELSE 0 END)
                  for k in generate_series(1, j)])
                 for j in generate_series(1, len(r_toks))]
  FROM dp WHERE i < len(c_toks)
),
fin AS (
  SELECT pair_id, len(c_toks) AS cand_len, len(r_toks) AS ref_len,
         row[len(r_toks) + 1] AS lcs_len
  FROM dp QUALIFY i = max(i) OVER (PARTITION BY pair_id)
)
SELECT pair_id, CAST(cand_len AS INTEGER) AS cand_len,
       CAST(ref_len AS INTEGER) AS ref_len,
       CAST(lcs_len AS INTEGER) AS lcs_len,
       round(CASE WHEN cand_len = 0 THEN 0.0
             ELSE CAST(lcs_len AS DOUBLE) / cand_len END, 6) AS prec_l,
       round(CASE WHEN ref_len = 0 THEN 0.0
             ELSE CAST(lcs_len AS DOUBLE) / ref_len END, 6) AS rec_l,
       round(CASE WHEN lcs_len = 0 THEN 0.0
             ELSE 2.0 * (CAST(lcs_len AS DOUBLE) / cand_len)
                      * (CAST(lcs_len AS DOUBLE) / ref_len)
                  / (CAST(lcs_len AS DOUBLE) / cand_len
                     + CAST(lcs_len AS DOUBLE) / ref_len) END, 6) AS rouge_l_f
FROM fin
"""


_TEXT_OVERLAP_SQL = f"""
WITH d AS (
  SELECT doc_id // 2 AS pair_id,
         CASE WHEN doc_id % 2 = 1 THEN 'c' ELSE 'r' END AS side,
         string_split(text, ' ') AS toks
  FROM documents
  WHERE doc_id // 2 IN (SELECT doc_id // 2 FROM documents
                        GROUP BY 1 HAVING count(*) = 2)
),
dn AS (
  SELECT pair_id, side, toks, n
  FROM d CROSS JOIN (SELECT unnest(generate_series(1, {OVERLAP_MAX_N})) AS n) ns
),
grams AS (
  SELECT pair_id, n, g,
         sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS c_cnt,
         sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS r_cnt
  FROM dn, LATERAL (SELECT unnest([array_to_string(toks[i:i+n-1], ' ')
                 for i in generate_series(1, len(toks) - n + 1)]) AS g) gg
  GROUP BY 1, 2, 3
),
per_n AS (
  SELECT n, CAST(sum(least(c_cnt, r_cnt)) AS BIGINT) AS clipped,
         CAST(sum(c_cnt) AS BIGINT) AS cand_total,
         CAST(sum(r_cnt) AS BIGINT) AS ref_total
  FROM grams GROUP BY n
),
bp AS (
  SELECT exp(least(0.0, 1.0 - CAST(ref_total AS DOUBLE) / cand_total)) AS bp
  FROM per_n WHERE n = 1
)
SELECT CAST(n AS INTEGER) AS ngram_n, clipped, cand_total, ref_total,
       round(CAST(clipped AS DOUBLE) / cand_total, 6) AS prec_n,
       round(CAST(clipped AS DOUBLE) / ref_total, 6) AS rec_n,
       round(CASE WHEN clipped = 0 THEN 0.0 ELSE
             2.0 * (CAST(clipped AS DOUBLE) / cand_total)
                 * (CAST(clipped AS DOUBLE) / ref_total)
               / (CAST(clipped AS DOUBLE) / cand_total
                  + CAST(clipped AS DOUBLE) / ref_total) END, 6) AS f1_n,
       round(bp, 6) AS brevity_penalty,
       round(bp * exp(avg(ln((clipped + 1.0) / (cand_total + 1.0)))
             OVER (ORDER BY n ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             6) AS bleu_cum
FROM per_n, bp
"""


# --- kNN label classifier eval (round 13) -----------------------------------

KNN_STRIDE = 10  # every KNN_STRIDE-th vector is a held-out query point
KNN_K = 5  # neighbors per query
KNN_QMAX = 512  # query-id ceiling: bounds |Q| at ANY corpus scale


def knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor CLASSIFICATION eval — the missing kNN rung of
    the model family (the ANN stack answers "which vectors are close";
    this answers "how well do the neighbors' LABELS predict a held-out
    point's label", the standard embedding-quality probe next to
    llm_label_separability): every KNN_STRIDE-th vector is held out,
    classified by majority vote over its KNN_K exact-cosine nearest
    TRAINING neighbors (held-out points never vote — no self/split
    leakage), ties to the smallest label; output is the confusion matrix
    with per-true-label shares. The query sample is CAPPED at KNN_QMAX
    ids (the SEP_MAX_ID convention), so |Q| — and with it the exact
    kernel's |Q|x|C| cost — is bounded at any corpus scale.

    Determinism: the shared brute_force_topk kernel (round-6 cosine,
    corpus-id tie-break) + integer votes with a (count, −label) struct
    argmax — every step is either exact or a fixed double DAG.

    Scale: exact brute force is the deliberate baseline kernel (the
    cosine_topk convention — query side broadcast, corpus streamed); at
    100 TB the candidate generation swaps to the IVF/LSH/HNSW kernels
    whose recall against THIS exact ranking is already measured by the
    *_recall_eval family."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(
        (F.pmod(F.col("vec_id"), F.lit(KNN_STRIDE)) == 0)
        & (F.col("vec_id") < KNN_QMAX)
    ).select(
        F.col("vec_id").alias("q_id"),
        to_double(F.col("embedding")).alias("q_vec"),
        F.col("label").alias("true_label"),
    )
    c = e.filter(F.pmod(F.col("vec_id"), F.lit(KNN_STRIDE)) != 0).select(
        F.col("vec_id").alias("c_id"),
        to_double(F.col("embedding")).alias("c_vec"),
        F.col("label").alias("c_label"),
    )
    topk = brute_force_topk(
        q.select("q_id", "q_vec"), c.select("c_id", "c_vec"), KNN_K
    )
    votes = (
        topk.join(c.select("c_id", "c_label"), "c_id")
        .groupBy("q_id", "c_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    pred = (
        votes.groupBy("q_id")
        .agg(
            F.max(
                F.struct(
                    F.col("v").alias("v"),
                    (-F.col("c_label")).cast("bigint").alias("nl"),
                )
            ).alias("b")
        )
        .select("q_id", (-F.col("b.nl")).cast("int").alias("pred_label"))
    )
    conf = (
        pred.join(q.select("q_id", "true_label"), "q_id")
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    per_true = W.partitionBy("true_label")
    return conf.select(
        "true_label",
        "pred_label",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(per_true).cast("double"),
            6,
        ).alias("share"),
    ).orderBy("true_label", "pred_label")


_KNN_LABEL_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec, label AS true_label
  FROM embeddings WHERE vec_id % {KNN_STRIDE} = 0 AND vec_id < {KNN_QMAX}),
c AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS c_vec, label AS c_label
  FROM embeddings WHERE vec_id % {KNN_STRIDE} <> 0),
pairs AS (
  SELECT q_id, c_id, round({cosine_sql('q_vec', 'c_vec')}, 6) AS cos_sim
  FROM c CROSS JOIN q WHERE q_id != c_id),
ranked AS (
  SELECT q_id, c_id,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, c_id) AS rank
  FROM pairs),
nb AS (
  SELECT r.q_id, c.c_label FROM ranked r JOIN c ON r.c_id = c.c_id
  WHERE r.rank <= {KNN_K}),
votes AS (
  SELECT q_id, c_label, CAST(count(*) AS BIGINT) AS v
  FROM nb GROUP BY 1, 2),
pred AS (
  SELECT q_id, CAST(-(b.nl) AS INTEGER) AS pred_label
  FROM (SELECT q_id,
               max(struct_pack(v := v, nl := -CAST(c_label AS BIGINT))) AS b
        FROM votes GROUP BY q_id) t),
conf AS (
  SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
  FROM pred JOIN q USING (q_id) GROUP BY 1, 2)
SELECT true_label, pred_label, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY true_label) AS DOUBLE), 6)
         AS share
FROM conf ORDER BY true_label, pred_label
"""


_SPECS: list[tuple[str, object, str | None]] = [
    ("llm_dedup_exact", dedup_exact, DEDUP_EXACT_SQL),
    ("llm_dedup_fingerprint", dedup_fingerprint, DEDUP_FP_SQL),
    ("llm_text_stats", text_stats, TEXT_STATS_SQL),
    ("llm_token_count", token_count, TOKEN_COUNT_SQL),
    ("llm_lang_id", lang_id, _lang_id_sql()),
    ("llm_quality_score", quality, QUALITY_SQL),
    ("llm_minhash_signatures", minhash_signatures, _MINHASH_SIG_SQL),
    ("llm_minhash_near_dup_pairs", minhash_near_dup_pairs, _MINHASH_PAIRS_SQL),
    ("llm_simhash", simhash, _SIMHASH_SQL),
    ("llm_simhash_near_dup", simhash_near_dup, _SIMHASH_NEAR_DUP_SQL),
    ("llm_srp_near_dup", srp_near_dup, _SRP_NEAR_DUP_SQL),
    ("llm_hamming_key_join", hamming_key_join, _hamming_key_sql()),
    ("llm_priority_sample", priority_sample, _priority_sample_sql()),
    ("llm_isotonic_calibration", isotonic_calibration, _isotonic_sql()),
    ("llm_isotonic_apply", isotonic_apply, _isotonic_apply_sql()),
    ("llm_near_dup_survivors", near_dup_survivors, _SURVIVORS_SQL),
    ("llm_ngram_jaccard", ngram_jaccard, _NGRAM_JACCARD_SQL),
    ("llm_sorted_neighborhood_dup", sorted_neighborhood_dup, _SORTED_NEIGHBORHOOD_SQL),
    ("llm_sn_dedup_recall_eval", sn_dedup_recall_eval, _SN_RECALL_EVAL_SQL),
    ("llm_prefix_filter_join", prefix_filter_join, _PREFIX_FILTER_SQL),
    ("llm_naive_bayes_langid", naive_bayes_langid, _NB_LANGID_SQL),
    ("llm_blocking_cost_eval", blocking_cost_eval, _blocking_cost_sql()),
    ("llm_blocking_threshold_sweep", blocking_threshold_sweep, _blocking_threshold_sweep_sql()),
    ("llm_source_jsd_matrix", source_jsd_matrix, _JSD_SQL),
    ("llm_token_burstiness", token_burstiness, _BURSTINESS_SQL),
    ("llm_exact_dup_clusters", exact_dup_clusters, _EXACT_CLUSTERS_SQL),
    ("llm_cosine_topk", cosine_topk, _COSINE_TOPK_SQL),
    ("llm_embedding_norms", embedding_norms, _EMB_NORMS_SQL),
    ("llm_lsh_buckets", lsh_buckets, _LSH_BUCKETS_SQL),
    ("llm_lsh_topk", lsh_topk, _LSH_TOPK_SQL),
    ("llm_ann_ivf_topk", ann_ivf_topk, _IVF_TOPK_SQL),
    ("llm_multimodal_meta", multimodal_meta, MULTIMODAL_META_SQL),
    ("llm_png_decode", png_decode, _png_decode_sql()),
    ("llm_gif_decode", gif_decode, _gif_decode_sql()),
    ("llm_text_overlap_eval", text_overlap_eval, _TEXT_OVERLAP_SQL),
    ("llm_rouge_l_bounded", rouge_l_bounded, _ROUGE_L_SQL),
    ("llm_jpeg_decode", jpeg_decode, _jpeg_decode_sql()),
    ("llm_jpeg_color_decode", jpeg_color_decode, _jpeg_color_decode_sql()),
    ("llm_dsir_weights", dsir_weights, _dsir_sql()),
    ("llm_dsir_budget_select", dsir_budget_select, _dsir_select_sql()),
    ("llm_dsir_width_eval", dsir_width_eval, _dsir_width_sql()),
    ("llm_dsir_width_overlap", dsir_width_overlap, _dsir_overlap_sql()),
    ("llm_rolling_fingerprint", rolling_fingerprint, _ROLLING_FP_SQL),
    ("llm_embedding_near_dup", embedding_near_dup, _EMB_NEAR_DUP_SQL),
    ("llm_multimodal_decode", multimodal_decode, _mm_decode_sql()),
    ("llm_multimodal_frames", multimodal_frames, _mm_frames_sql()),
    ("llm_lsh_topk_multiprobe", lsh_topk_multiprobe, _multiprobe_sql()),
    ("llm_contamination_check", contamination_check, _CONTAM_SQL),
    ("llm_semantic_contamination", semantic_contamination, _sem_contam_sql()),
    ("llm_stratified_sample", stratified_sample, _stratified_sample_sql()),
    ("llm_tf_idf", tf_idf, _TFIDF_SQL),
    ("llm_quality_gate", quality_gate, _QUALITY_GATE_SQL),
    ("llm_dedup_clusters", dedup_clusters, _CLUSTERS_SQL),
    ("llm_cluster_survivors", cluster_survivors, _CLUSTER_SURVIVORS_SQL),
    ("llm_zscore_groups", zscore_groups, _ZSCORE_SQL),
    ("llm_doc_chunking", doc_chunking, _CHUNKING_SQL),
    ("llm_sequence_packing", sequence_packing, _PACKING_SQL),
    ("llm_global_shard_plan", global_shard_plan, _SHARD_PLAN_SQL),
    ("llm_shard_mixing_audit", shard_mixing_audit, _SHARD_MIX_SQL),
    ("llm_train_val_split", train_val_split, _SPLIT_SQL),
    ("llm_pii_scrub", pii_scrub, _PII_SQL),
    ("llm_heavy_hitters", heavy_hitters, _HEAVY_HITTERS_SQL),
    ("llm_dataset_mixing", dataset_mixing, _MIXING_SQL),
    ("llm_mixing_divergence", mixing_divergence, _MIX_DIV_SQL),
    ("llm_fuzzy_match_levenshtein", fuzzy_match_levenshtein, _FUZZY_SQL),
    ("llm_quality_pandas_udf", quality_pandas_udf, _QUALITY_UDF_SQL),
    ("llm_ngram_lm_counts", ngram_lm_counts, _NGRAM_LM_SQL),
    ("llm_entropy_rate", entropy_rate, _ENTROPY_RATE_SQL),
    ("llm_vocab_coverage", vocab_coverage, _VOCAB_SQL),
    ("llm_ann_recall_eval", ann_recall_eval, _ann_recall_sql()),
    ("llm_knn_label_eval", knn_label_eval, _KNN_LABEL_SQL),
    ("llm_ann_nsw_topk", ann_nsw_topk, _nsw_topk_sql()),
    ("llm_graph_centrality_prior", graph_centrality_prior, _graph_centrality_sql()),
    ("llm_nsw_recall_eval", nsw_recall_eval, _nsw_recall_sql()),
    ("llm_ann_hnsw_topk", ann_hnsw_topk, _hnsw_topk_sql()),
    ("llm_hnsw_recall_eval", hnsw_recall_eval, _hnsw_recall_sql()),
    ("llm_repetition_filter", repetition_filter, _REPETITION_SQL),
    ("llm_lm_perplexity", lm_perplexity, _LM_PPL_SQL),
    ("llm_chunk_dedup", chunk_dedup, _CHUNK_DEDUP_SQL),
    ("llm_importance_resample", importance_resample, _RESAMPLE_SQL),
    ("llm_grouped_agg_udf", grouped_agg_pandas_udf, _GROUPED_AGG_UDF_SQL),
    ("llm_semantic_dedup", semantic_dedup, _SEMANTIC_DEDUP_SQL),
    ("llm_curation_pipeline", curation_pipeline, _CURATION_SQL),
    ("llm_minhash_jaccard_est", minhash_jaccard_est, _JACCARD_EST_SQL),
    ("llm_winsorize_lengths", winsorize_lengths, _WINSORIZE_SQL),
    ("llm_dataset_card", dataset_card, _DATASET_CARD_SQL),
    ("llm_substring_contamination", substring_contamination, _SUBSTR_CONTAM_SQL),
    ("llm_lsh_sensitivity", lsh_sensitivity, _lsh_sensitivity_sql()),
    ("llm_incremental_dedup", incremental_dedup, _INCR_DEDUP_SQL),
    ("llm_bloom_prefilter", bloom_prefilter, _BLOOM_SQL),
    ("llm_quantize_int8", quantize_int8, _QUANT_SQL),
    ("llm_quantized_topk", quantized_topk, _QUANT_TOPK_SQL),
    ("llm_count_min_freq", count_min_freq, _CMS_SQL),
    ("llm_minhash_band_stats", minhash_band_stats, _BAND_STATS_SQL),
    ("llm_semdedup_cells", semdedup_cells, _semdedup_cells_sql()),
    ("llm_bpe_merges", bpe_merges, _bpe_sql()),
    ("llm_bpe_tokenize", bpe_tokenize, _bpe_tokenize_sql()),
    ("llm_random_projection", random_projection, _rp_sql()),
    ("llm_minhash_containment", minhash_containment, _CONTAINMENT_SQL),
    ("llm_char_entropy", char_entropy, _ENTROPY_SQL),
    ("llm_multimodal_resize", multimodal_resize, _mm_resize_sql()),
    ("llm_boilerplate_fraction", boilerplate_fraction, _BOILERPLATE_SQL),
    ("llm_bm25_topk", bm25_topk, _BM25_SQL),
    ("llm_retrieval_mrr", retrieval_mrr, _RETRIEVAL_MRR_SQL),
    ("llm_inverted_index", inverted_index, _INVIDX_SQL),
    ("llm_pmi_collocations", pmi_collocations, _PMI_SQL),
    ("llm_kmeans_refine", kmeans_refine, _KMEANS_SQL),
    ("llm_textrank_words", textrank_words, _textrank_sql()),
    ("llm_ngram_novelty", ngram_novelty, _NOVELTY_SQL),
    ("llm_cooc_triangles", cooc_triangles, _TRIANGLES_SQL),
    ("llm_weighted_sample", weighted_sample, _weighted_sample_sql()),
    ("llm_langid_confusion", langid_confusion, _langid_confusion_sql()),
    ("llm_dedup_pr_eval", dedup_pr_eval, _DEDUP_PR_SQL),
    (
        "llm_bcubed_eval",
        bcubed_eval,
        _BCUBED_SQL.format(shingles=_SHINGLE_ROWS_SQL, pairs=_MINHASH_PAIRS_SQL),
    ),
    (
        "llm_cluster_agreement_eval",
        cluster_agreement_eval,
        _AGREE_SQL.format(shingles=_SHINGLE_ROWS_SQL, pairs=_MINHASH_PAIRS_SQL),
    ),
    ("llm_decontam_filter", decontam_filter, _DECONTAM_SQL),
    ("llm_image_phash", image_phash, _image_phash_sql()),
    ("llm_image_near_dup", image_near_dup, _image_near_dup_sql()),
    ("llm_rrf_fusion", rrf_fusion, _RRF_SQL),
    ("llm_ndcg_eval", ndcg_eval, _NDCG_SQL),
    ("llm_matryoshka_recall", matryoshka_recall, _MRL_SQL),
    ("llm_zipf_fit", zipf_fit, _ZIPF_SQL),
    ("llm_heaps_law_fit", heaps_law_fit, _HEAPS_SQL),
    ("llm_domain_quota_sample", domain_quota_sample, _QUOTA_SQL),
    ("llm_pca_power_iter", pca_power_iter, _PCA_SQL),
    ("llm_audio_frame_energy", audio_frame_energy, _audio_energy_sql()),
    ("llm_audio_near_dup", audio_near_dup, _audio_near_dup_sql()),
    ("llm_mmr_rerank", mmr_rerank, _mmr_sql()),
    ("llm_hard_negative_mining", hard_negative_mining, _HARDNEG_SQL),
    ("llm_embedding_outliers", embedding_outliers, _EMB_OUTLIER_SQL),
    ("llm_ctfidf_keywords", ctfidf_keywords, _CTFIDF_SQL),
    ("llm_vocab_coverage_curve", vocab_coverage_curve, _COVERAGE_CURVE_SQL),
    ("llm_winnow_fingerprints", winnow_fingerprints, _WINNOW_STATS_SQL),
    ("llm_repeated_spans", repeated_spans, _REPEATED_SPANS_SQL),
    ("llm_repeated_spans_k_sweep", repeated_spans_k_sweep, _span_k_sweep_sql()),
    ("llm_url_dedup", url_dedup, _URL_DEDUP_SQL),
    ("llm_span_scrub_apply", span_scrub_apply, _SPAN_SCRUB_SQL),
    ("llm_pq_codebook", pq_codebook, _PQ_CODEBOOK_SQL),
    ("llm_pq_adc_topk", pq_adc_topk, _PQ_ADC_SQL),
    ("llm_pq_recall_eval", pq_recall_eval, _pq_recall_sql()),
    ("llm_split_leakage", split_leakage, _SPLIT_LEAK_SQL),
    ("llm_bpe_fertility_by_lang", bpe_fertility_by_lang, _bpe_fertility_sql()),
    ("llm_dedup_funnel", dedup_funnel, _dedup_funnel_sql()),
    ("llm_embedding_drift", embedding_drift, _EMB_DRIFT_SQL),
    ("llm_ivfpq_topk", ivfpq_topk, _ivfpq_sql()),
    ("llm_audio_silence_trim", audio_silence_trim, _audio_trim_sql()),
    ("llm_image_dedup_exact", image_dedup_exact, _IMG_EXACT_SQL),
    ("llm_lang_temperature_sample", lang_temperature_sample, _LANG_TEMP_SQL),
    ("llm_length_bucketing", length_bucketing, _length_bucketing_sql()),
    ("llm_lm_token_logprob", lm_token_logprob, _LM_LOGPROB_SQL),
    ("llm_lm_ppl_filter", lm_ppl_filter, _LM_PPL_FILTER_SQL),
    ("llm_image_dct_phash", image_dct_phash, _image_dct_phash_sql()),
    ("llm_image_tile_stats", image_tile_stats, _image_tile_stats_sql()),
    ("llm_image_dct_robustness", image_dct_robustness, _image_dct_robust_sql()),
    ("llm_gopher_rules", gopher_rules, _gopher_rules_sql()),
    ("llm_dedup_survivor_weights", dedup_survivor_weights, _survivor_weights_sql()),
    ("llm_span_corruption", span_corruption, _span_corruption_sql()),
    ("llm_embedding_whitening", embedding_whitening, _WHITEN_SQL),
    ("llm_signal_correlation", signal_correlation, _signal_corr_sql()),
    ("llm_rag_context_pack", rag_context_pack, _rag_pack_sql()),
    ("llm_dataset_diff", dataset_diff, _dataset_diff_sql()),
    ("llm_pretrain_pipeline_v2", pretrain_pipeline_v2, _pipeline_v2_sql()),
    ("llm_cluster_best_survivor", cluster_best_survivor, _CLUSTER_BEST_SQL),
    ("llm_contamination_by_n", contamination_by_n, _contam_by_n_sql()),
    ("llm_pca_deflated_second", pca_deflated_second, _pca_deflated_sql()),
    ("llm_curriculum_deciles", curriculum_deciles, _curriculum_sql()),
    ("llm_feature_hashing", feature_hashing, _FEATURE_HASH_SQL),
    ("llm_classifier_calibration", classifier_calibration, _calibration_sql()),
    ("llm_temperature_scaling", temperature_scaling, _temperature_sql()),
    ("llm_temperature_matrix", temperature_matrix, _temperature_matrix_sql()),
    ("llm_filter_matrix", filter_matrix, _filter_matrix_sql()),
    ("llm_calibration_matrix", calibration_matrix, _calibration_matrix_sql()),
    ("llm_preference_pairs", preference_pairs, _PREF_PAIRS_SQL),
    ("llm_filter_agreement", filter_agreement, _FILTER_AGREE_SQL),
    ("llm_cross_source_overlap", cross_source_overlap, _CROSS_SOURCE_SQL),
    ("llm_token_budget_plan", token_budget_plan, _TOKEN_BUDGET_SQL),
    ("llm_doremi_weights", doremi_weights, _doremi_sql()),
    ("llm_doremi_heldout", doremi_heldout, _doremi_heldout_sql()),
    ("llm_bitext_margin_mining", bitext_margin_mining, _bitext_sql()),
    ("llm_bitext_banded", bitext_banded_mining, _bitext_banded_sql()),
    ("llm_lm_interpolated", lm_interpolated, _LM_INTERP_SQL),
    ("llm_lm_kneser_ney", lm_kneser_ney, _LM_KN_SQL),
    ("llm_readability_score", readability_score, _READABILITY_SQL),
    ("llm_hubness_audit", hubness_audit, _HUBNESS_SQL),
    ("llm_label_separability", label_separability, _SEPARABILITY_SQL),
]


def clear_caches() -> None:
    """Unpersist and drop all cached tables (minhash doc tables, LM bigram
    tables) — bench hygiene: guarantees a timed run is cold and a long
    session doesn't accumulate executor storage."""
    for _, tbl in _PERSISTED.values():
        try:
            tbl.unpersist()
        except Exception:
            pass
    _PERSISTED.clear()


def queries() -> dict:
    return {name: fn for name, fn, _ in _SPECS}


def oracles() -> dict:
    return {name: sql for name, _, sql in _SPECS if sql is not None}
