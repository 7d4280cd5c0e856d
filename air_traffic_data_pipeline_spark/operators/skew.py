"""Skew-mitigation operators (SURVEY.md §7 M5).

AQE's skew-join splitting (``spark.sql.adaptive.skewJoin.enabled``, on by
default in session.py) handles most sort-merge skew at runtime. Manual
salting remains the tool when AQE can't help: broadcast-ineligible hot keys
in shuffled hash joins, or stages where AQE is off (streaming).

``salted_join`` implements the classic transform: the big (skewed) side gets
a uniform salt in [0, n); the small side is replicated once per salt value;
the join key becomes (key, salt). Every hot key now spreads over n shuffle
partitions instead of one. For inner/left joins the result set is IDENTICAL
to the plain join — the salt is internal plumbing (dropped on output) and
the replication×salt match-up preserves exactly one match per original
pair. Right/full outer joins are NOT supported: an unmatched small-side row
would surface once per salt replica (n_salts duplicates), so those modes
raise instead of silently corrupting.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = 8,
    salt_source: Column | None = None,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big`` with ``small`` on big_key == small_key, salted.

    ``salt_source``: any big-side expression used to derive the uniform
    salt (default: a hash of all big-side columns). Correctness does not
    depend on the salt distribution — only the skew-spreading quality does.

    ``how`` is restricted to big-side-preserving modes: replicating the
    small side is invisible to inner/left/semi/anti results, but would emit
    unmatched small-side rows n_salts times under right/full outer.
    """
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi",
               "leftsemi", "semi", "left_anti", "leftanti", "anti"}
    if how not in allowed:
        raise ValueError(
            f"salted_join: how={how!r} not supported — the replicated small "
            "side would duplicate unmatched rows under right/full outer "
            f"joins; use one of {sorted(allowed)}"
        )
    if salt_source is None:
        salt_source = F.xxhash64(*[F.col(c) for c in big.columns])
    big_s = big.withColumn("__salt", F.pmod(salt_source, F.lit(n_salts)).cast("int"))
    # replicate the small side once per salt value (explode keeps it a
    # narrow, shuffle-free transform; the small side is small by contract)
    small_s = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")),
    )
    joined = big_s.join(
        small_s,
        (big_s[big_key] == small_s[small_key]) & (big_s["__salt"] == small_s["__salt"]),
        how,
    )
    return joined.drop("__salt")


def salted_group_topk(
    df: DataFrame,
    key: str,
    order_by: Sequence[Column],
    k: int,
    n_salts: int = 8,
    rank_col: str = "__rank",
) -> DataFrame:
    """Two-phase per-group top-k for HOT groups: rank within (key, salt)
    and keep <= k per salt (spreading one hot group over n_salts reducer
    partitions), then re-rank the surviving <= k*n_salts rows per key —
    the skew path the direct one-window top-k (llm_domain_quota_sample)
    names for a mega-domain. Result-identical to the direct window for
    any salt assignment: a group's true top-k rows each rank <= k inside
    whatever salt partition they land in (ranks only shrink when rows are
    removed), so phase 1 never drops a final top-k row.

    ``order_by`` must be a DETERMINISTIC total order (include a tiebreak
    column) — same contract as the direct window. The output carries
    ``rank_col`` (1..k per key).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    from pyspark.sql import Window as W

    w1 = W.partitionBy(key, "__salt").orderBy(*order_by)
    survivors = (
        df.withColumn("__salt", salt.cast("int"))
        .withColumn(rank_col, F.row_number().over(w1))
        .filter(F.col(rank_col) <= k)
        .drop("__salt", rank_col)
    )
    w2 = W.partitionBy(key).orderBy(*order_by)
    return (
        survivors.withColumn(rank_col, F.row_number().over(w2))
        .filter(F.col(rank_col) <= k)
    )
