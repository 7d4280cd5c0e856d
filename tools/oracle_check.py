"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
the given sf dir, compares row count, sorted-by-name schema, and
order-insensitive values. Reports exact mismatches AND the max float delta so
near-miss (last-ulp) risks are visible before the driver sees them.

Usage: python tools/oracle_check.py [sf_dir] [name_substring ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, (list, tuple, dict)):
                # The driver's pandas-based canonicalizer cannot hash list
                # cells (r1: rel_array_funcs2 ERROR "unhashable type: 'list'").
                # Mirror that limitation exactly instead of tuple-izing, so a
                # query that would error at the driver errors here first.
                raise TypeError(
                    f"unhashable collection cell in column {cols[i]!r}: "
                    "serialize arrays/structs (e.g. to_json) before returning"
                )
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return [cols[i] for i in order], out


def dtype_issues(sdf, con, sql):
    """Predict driver hash-fails the value compare can't see.

    The driver canonicalizes via pandas before hashing, so a column that is
    int64 on the Spark side and float64 on the DuckDB side (DuckDB sum(int)
    returns HUGEINT -> pandas float64) hash-mismatches even when every value
    is numerically identical (r3: rel_q12_priority_counts, rel_bitwise_funcs,
    rel_lateral_column_alias). Rules calibrated on 143 driver rows:
    - different pandas *kind* (i/u/f/O/b) => TYPE_MISMATCH (would fail)
    - object columns whose element types differ (Decimal vs float) => fail
    - object-vs-datetime64 => warning only (Spark DateType pandas-ifies to
      object while DuckDB DATE gives datetime64[us]; r3 driver-green date
      queries — rel_try_arithmetic, rel_date_spine_gapfill — prove the
      driver canonicalizes that pair equal)
    - same-kind width or datetime-unit differences => warning only (many
      driver-green queries return int32-vs-int64 / ns-vs-us pairs)
    Also flags the raw DuckDB output type when it is HUGEINT or DECIMAL —
    both pandas-ify to float64/object and are one CAST away from safe.
    """
    fails, warns = [], []
    spdf = sdf.toPandas()
    res = con.sql(sql)
    dtypes = {c: str(t) for c, t in zip(res.columns, res.types)}
    ddf = res.df()
    for c, dt in dtypes.items():
        if dt == "HUGEINT" or dt.startswith("DECIMAL"):
            fails.append(f"{c}: duck output type {dt} (CAST it)")
    for c in spdf.columns:
        if c not in ddf.columns:
            continue
        sk, dk = spdf[c].dtype.kind, ddf[c].dtype.kind
        if sk != dk:
            if {sk, dk} == {"O", "M"}:
                warns.append(f"{c}: spark={spdf[c].dtype} duck={ddf[c].dtype}")
            else:
                fails.append(f"{c}: spark={spdf[c].dtype} duck={ddf[c].dtype}")
        elif sk == "O":
            st = {type(v).__name__ for v in spdf[c].dropna().head(200)}
            dt_ = {type(v).__name__ for v in ddf[c].dropna().head(200)}
            if st != dt_:
                fails.append(f"{c}: object elems spark={st} duck={dt_}")
        elif str(spdf[c].dtype) != str(ddf[c].dtype):
            warns.append(f"{c}: spark={spdf[c].dtype} duck={ddf[c].dtype}")
    return fails, warns


def compare(name, sdf, con, sql, tol=0.0):
    sdf = sdf.persist()
    try:
        return _compare_persisted(name, sdf, con, sql, tol)
    finally:
        sdf.unpersist()


def _compare_persisted(name, sdf, con, sql, tol):
    t0 = time.time()
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    t_spark = time.time() - t0
    t0 = time.time()
    res = con.sql(sql)
    drows = [tuple(r) for r in res.fetchall()]
    dcols = list(res.columns)
    t_duck = time.time() - t0

    status, notes = "OK", []
    if sorted(scols) != sorted(dcols):
        return "SCHEMA_MISMATCH", f"spark={sorted(scols)} duck={sorted(dcols)}", t_spark, t_duck
    if len(srows) != len(drows):
        return "ROWCOUNT_MISMATCH", f"spark={len(srows)} duck={len(drows)}", t_spark, t_duck
    _, sn = normalize(srows, scols)
    _, dn = normalize(drows, dcols)
    max_fdelta = 0.0
    n_exact_mismatch = 0
    for a, b in zip(sn, dn):
        if a == b:
            continue
        ok = len(a) == len(b)
        if ok:
            for x, y in zip(a, b):
                if x == y:
                    continue
                if isinstance(x, float) and isinstance(y, float):
                    d = abs(x - y)
                    max_fdelta = max(max_fdelta, d)
                    if d > max(tol, 1e-9 * max(abs(x), abs(y), 1.0)):
                        ok = False
                else:
                    ok = False
        if not ok:
            n_exact_mismatch += 1
            if n_exact_mismatch <= 3:
                notes.append(f"  spark={a}\n  duck ={b}")
    if n_exact_mismatch:
        status = "VALUE_MISMATCH"
    elif max_fdelta > 0:
        status = "FLOAT_NEAR"  # hash would FAIL if driver hashes exact bits
    if status == "OK":
        tfails, twarns = dtype_issues(sdf, con, sql)
        if tfails:
            status = "TYPE_MISMATCH"
            notes.extend(tfails)
        elif twarns:
            notes.append("type_warn: " + "; ".join(twarns))
    return status, (f"max_fdelta={max_fdelta:.3e} " + "\n".join(notes)).strip(), t_spark, t_duck


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]
    import __spark_entry__ as ent
    from air_traffic_data_pipeline_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duck_connect(sf_dir)
    qs = ent.queries()
    oracles = ent.oracle_sql()
    n_ok = n_bad = 0
    for name, fn in qs.items():
        if filters and not any(f in name for f in filters):
            continue
        # full-registry sweeps run hundreds of queries in one session —
        # release tracked localCheckpoints between queries so the graph
        # family's pinned RDDs don't accumulate (the bench.py leak class)
        try:
            from air_traffic_data_pipeline_spark.operators import checkpoints

            checkpoints.clear_all(spark)
        except Exception:
            pass
        if name not in oracles:
            try:
                cnt = fn(spark, sf_dir).count()
                print(f"{name:40s} ROWS_ONLY rows={cnt}")
            except Exception as e:
                print(f"{name:40s} ERROR {type(e).__name__}: {e}")
                n_bad += 1
            continue
        try:
            status, notes, ts, td = compare(name, fn(spark, sf_dir), con, oracles[name])
        except Exception as e:
            import traceback

            status, notes, ts, td = "ERROR", f"{type(e).__name__}: {e}\n{traceback.format_exc(limit=5)}", 0, 0
        flag = "ok" if status in ("OK",) else "!!"
        if status == "OK":
            n_ok += 1
        else:
            n_bad += 1
        print(f"{name:40s} {status:18s} spark={ts:5.1f}s duck={td:5.1f}s {notes}")
    print(f"\n{n_ok} OK, {n_bad} problem(s)")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
