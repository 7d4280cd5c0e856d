"""One staging path for the streaming mirrors: a lake table replayed as
ordered single-file parquet micro-batches.

A mirror streams a ``Batches`` spec: the ``cols`` projection of one lake
table (every column when None), cut by a ``split`` — a ``(kind, key,
*args)`` tuple naming one of the split kinds below, ``key`` being the
total order (or key column) it cuts on. ``stage_batches`` writes the
batches with ascending mtimes in file-name order, and ``replay`` returns
the maxFilesPerTrigger=1 parquet file stream that replays them as
micro-batches in exactly that order, typed from the lake table's schema.

The stage dir is keyed on the table's files (``plans.tables._fingerprint``,
the table identity the schema cache uses) and on the spec, not on the
lake's path: a lake rewritten in place is staged again, and the superseded
dir of the same (lake, spec) slot is removed. A lake whose files cannot be
fingerprinted (remote, or a file vanished mid-walk) is staged afresh on
every call. Test scaffolding only — a real deployment reads an unbounded
source.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import uuid
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from ..operators.checkpoints import release, tracked_local_checkpoint
from ..plans.tables import _fingerprint, load
from ..session import tune_session

# staging root; bump the version suffix when the staged representation
# changes (v2 = ts canonicalized to int64 epoch nanos at stage time; v3 =
# dirs keyed on the table's files and the spec, not on the lake's path)
_STAGE_ROOT = "/tmp/spark_graft_stream_v3"


class Batches(NamedTuple):
    """What one mirror streams: ``replay(spark, sf_dir, spec)``."""

    table: str
    cols: tuple[str, ...] | None
    split: tuple


class _Source:
    """One staging call's projection ``df`` and the total order (or key
    column) ``key`` its split cuts on. ``ranked`` runs the global
    single-partition sort at most once, into a tracked checkpoint that the
    row count and every slice read; ``release`` frees it after the
    writes."""

    def __init__(self, df: DataFrame, key: tuple[str, ...]) -> None:
        self.df, self.key = df, key
        self._ranked: tuple[DataFrame, int, set[int]] | None = None

    def ranked(self) -> tuple[DataFrame, int]:
        """``df`` with its 1-based rank on ``key`` as ``rn``, and its rows."""
        if self._ranked is None:
            w = Window.orderBy(*self.key)
            out, ids = tracked_local_checkpoint(
                self.df.withColumn("rn", F.row_number().over(w))
            )
            self._ranked = out, out.count(), ids
        return self._ranked[:2]

    def release(self) -> None:
        if self._ranked is not None:
            release(self.df.sparkSession, self._ranked[2])


def _cut(ranked: DataFrame, bounds) -> list[DataFrame]:
    """One slice of ``ranked`` per (lo, hi] rank range of ``bounds``."""
    rn = F.col("rn")
    return [ranked.filter((rn > lo) & (rn <= hi)).drop("rn") for lo, hi in bounds]


def _rank(src: _Source, n: int = 3) -> list[DataFrame]:
    """``n`` slices of the GLOBAL ``key`` order, cut at ⌊i·rows/n⌋: every
    row of batch i+1 sorts strictly after every row of batch i. In the doc
    and order terciles, id-ordered arrival makes every a<b pair land in b's
    batch. On events' (ts, event_id) it is the ordered-stitch delivery
    contract the Markov mirror requires: sequence-valued state (the
    per-user LAST event) only merges correctly when batches arrive in
    event-time order — the opposite of ``_late``, which replays
    newest-first to prove order-freeness."""
    ranked, rows = src.ranked()
    cuts = [i * rows // n for i in range(n + 1)]
    return _cut(ranked, zip(cuts, cuts[1:]))


def _late(src: _Source) -> list[DataFrame]:
    """Three batches for watermark semantics, on the ``key`` order:

      01 — the newer half MINUS the single globally-newest row,
      02 — that single newest row,
      03 — the older half (every row far behind the watermark).

    Measured on this Spark version, the late-row filter applies the
    watermark with a one-batch lag (batch N filters with the watermark
    derived from batch N-1's data; progress metrics show the monotonic
    committed value instead). The middle single-row batch pins the filter
    watermark at (global max - delay) before the late batch arrives, so
    batch 03 is fully dropped under BOTH the documented semantics and the
    observed lagged one — keeping the oracle deterministic. Batch 02's own
    row can never be late: its window ends above every candidate watermark."""
    ranked, rows = src.ranked()
    half = rows // 2
    return _cut(ranked, [(half, rows - 1), (rows - 1, rows), (0, half)])


def _key_terciles(src: _Source) -> list[DataFrame]:
    """Terciles of the distinct ``key[0]`` values. The cut points come from
    approxQuantile (relativeError=0 → exact, computed distributed): TWO
    scalars reach the driver instead of every distinct key. ORDER-ATOMIC:
    both filters compare the full key, so an order's lineitems never
    straddle a batch — the transactional unit a lineitem source actually
    emits, and the property that makes per-batch co-purchase pair counting
    exact."""
    df, k = src.df, F.col(src.key[0])
    lo, hi = df.select(k).distinct().approxQuantile(src.key[0], [1 / 3, 2 / 3], 0.0)
    return [df.filter(k <= lo), df.filter((k > lo) & (k <= hi)), df.filter(k > hi)]


def _mod3(src: _Source) -> list[DataFrame]:
    """Three batches by ``key[0]`` MODULO 3, arriving 1, 2, 0 —
    deliberately NOT id-ordered, so a pair's higher id routinely arrives
    before its lower id and the kill logic must be arrival-order
    independent (the pytest and oracle would catch a second-member-only
    formulation)."""
    return [src.df.filter(F.col(src.key[0]) % 3 == m) for m in (1, 2, 0)]


def _whole(src: _Source) -> list[DataFrame]:
    """The whole table as one file: the parquet file-stream source needs a
    directory. For events the staged copy IS the canonical form (ts as
    int64 epoch nanos), so the stream schema is stable whatever the lake's
    physical ts type."""
    return [src.df]


def _signed(df: DataFrame, sign: int) -> DataFrame:
    return df.withColumn("sign", F.lit(sign))


def _cancel(
    src: _Source, mod: int, res: int, terciles: str = "rank"
) -> list[DataFrame]:
    """Four batches: the three ``terciles`` slices as +1 INSERT rows plus
    a CANCELLATIONS batch carrying the same rows at sign -1 for every row
    with ``key[0] % mod == res`` — staged SECOND, so two thirds of the
    retractions arrive BEFORE the inserts they cancel (transient negative
    net counts mid-stream: the adversarial schedule a signed-sum state
    must shrug off)."""
    lo, mid, hi = (_signed(s, 1) for s in _SPLITS[terciles](src))
    cancel = _signed(src.df.filter(F.col(src.key[0]) % mod == res), -1)
    return [lo, cancel, mid, hi]


def _adversarial(src: _Source, n: int, mod: int, res: int) -> list[DataFrame]:
    """The shared adversarial-tombstone schedule of the retraction mirrors
    (markov / priority-sample / near-dup / ANN): ``n`` row-count slices of
    the ``key`` order, cut at the nearest row to i·rows/n, as +1 inserts;
    every row whose id (``key[-1]``) ``% mod == res`` gets a -1 tombstone,
    scheduled by parity of (id DIV mod) — EVEN one batch EARLY
    (delete-before-insert), ODD one batch LATE (delete-after-insert);
    boundary slices fold their edge tombstones into their own batch."""
    ranked, rows = src.ranked()
    cuts = [round(i * rows / n) for i in range(n + 1)]
    slices = _cut(ranked, zip(cuts, cuts[1:]))
    ident = F.col(src.key[-1])

    def tomb(s: DataFrame, early: bool) -> DataFrame:
        parity = (ident / mod).cast("bigint") % 2
        cancelled = (ident % mod == res) & (parity == (0 if early else 1))
        return _signed(s.filter(cancelled), -1)

    out = []
    for i, s in enumerate(slices):
        parts = [_signed(s, 1)]
        if i + 1 < n:
            parts.append(tomb(slices[i + 1], early=True))
        if i == 0:
            parts.append(tomb(s, early=True))
        if i > 0:
            parts.append(tomb(slices[i - 1], early=False))
        if i == n - 1:
            parts.append(tomb(s, early=False))
        out.append(reduce(DataFrame.unionByName, parts))
    return out


# the split kinds whose batches carry a ``sign`` column
_SIGNED = ("cancel", "adversarial")

_SPLITS = {
    "rank": _rank,
    "late": _late,
    "key_terciles": _key_terciles,
    "mod3": _mod3,
    "whole": _whole,
    "cancel": _cancel,
    "adversarial": _adversarial,
}


def _digest(obj) -> str:
    return hashlib.md5(repr(obj).encode()).hexdigest()[:10]


def _write_single(df: DataFrame, dest: str) -> None:
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    tmp = f"{dest}.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        f for f in os.listdir(tmp) if f.endswith(".parquet") and f.startswith("part-")
    )
    shutil.move(f"{tmp}/{part}", dest)
    shutil.rmtree(tmp)


def stage_batches(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    cols: tuple[str, ...] | None,
    split: tuple,
) -> str:
    """Stage the ``cols`` projection of lake table ``table`` (every column
    when None) as the batches of ``split``, files ``01.parquet``, … with
    ascending mtimes, and return their dir.

    The dir is ``<slot>_<content>``: the slot digests (sf_dir, table, cols,
    split), the content digests the table's file fingerprint. An existing
    content dir is reused; staging writes into a scratch dir renamed into
    place, so a content dir that exists is complete. Every other content
    dir of the slot is removed."""
    tune_session(spark)
    kind, key, *args = split
    slot = f"{_STAGE_ROOT}/{_digest((sf_dir, table, cols, split))}"
    fp = _fingerprint(spark, f"{sf_dir}/{table}.parquet")
    d = f"{slot}_{_digest(fp) if fp is not None else uuid.uuid4().hex[:10]}"
    if fp is None or not os.path.isdir(d):
        df = load(spark, sf_dir, table)
        if cols is not None:
            df = df.select(*dict.fromkeys((*key, *cols)))
        src = _Source(df, key)
        tmp = f"{_STAGE_ROOT}/tmp_{uuid.uuid4().hex}"
        try:
            for i, b in enumerate(_SPLITS[kind](src, *args)):
                if cols is not None:
                    b = b.select(*cols, *[c for c in b.columns if c == "sign"])
                f = f"{tmp}/{i + 1:02d}.parquet"
                _write_single(b, f)
                os.utime(f, (1_700_000_000 + 100 * i, 1_700_000_000 + 100 * i))
        finally:
            src.release()
        try:
            os.rename(tmp, d)
        except OSError:  # a concurrent call staged the same content first
            shutil.rmtree(tmp, ignore_errors=True)
    for old in glob.glob(f"{slot}_*"):
        if old != d:
            shutil.rmtree(old, ignore_errors=True)
    return d


def replay(spark: SparkSession, sf_dir: str, spec: Batches) -> DataFrame:
    """``spec`` staged by ``stage_batches`` and replayed as a
    maxFilesPerTrigger=1 parquet file stream: one micro-batch per staged
    file, in file-name order.

    The stream's schema is the one staging writes: the table's ``cols``
    projection (every column when None), plus ``sign int`` for the signed
    splits, every field nullable as parquet reads it back. It comes from
    ``plans.tables.load``, whose schema cache is keyed on the table's
    files, so a warm call runs no Spark job."""
    d = stage_batches(spark, sf_dir, *spec)
    table = load(spark, sf_dir, spec.table)
    fields = [table.schema[c] for c in spec.cols or table.columns]
    if spec.split[0] in _SIGNED:
        fields.append(T.StructField("sign", T.IntegerType()))
    schema = T.StructType([T.StructField(f.name, f.dataType) for f in fields])
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
