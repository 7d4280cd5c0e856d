"""Normalized plan fingerprints per registered query, for an A/B plan diff.

Usage:
  python tools/plan_fingerprints.py <sf_dir> <out.json> [name_substring ...]
  python tools/plan_fingerprints.py --diff <a.json> <b.json>

The first form builds every registered query of the tree this script lives
in (or only those whose name contains one of the substrings) against
<sf_dir> and records two md5s of its ``explain("formatted")`` output:

- ``plan``: the whole formatted plan, NORMALIZED (expression ids, plan
  ids, RDD ids, absolute paths and statistics stripped). Any change shows
  here, a column renamed inside the plan included.
- ``tree``: the ``== Physical Plan ==`` operator tree alone (operator
  names, nesting and codegen stages). It stays equal when only names or
  expressions move, so "same physical plan" is checkable.

Run it from two checkouts (each resolves its own engine from ``__file__``)
and ``--diff`` the files: it prints every query whose ``plan`` or ``tree``
differs. QUERY_HASHES only tracks each query function's OWN source, so the
``plan`` diff is the mechanical input for ``registry._FORCE_RECHECK`` after
a shared-helper edit.

Iterative queries execute their localCheckpoint ladders during
construction; a failed build is recorded as "BUILD_ERROR: ..." so the diff
still covers it.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+[L]?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"\[id=#\]", "", plan)
    plan = re.sub(r"file:[^\],\s]*", "file:", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics()", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[]", plan)  # checkpointed-RDD ids count per process
    return plan


def operator_tree(plan: str) -> str:
    """The operator tree under ``== Physical Plan ==``: the lines up to the
    first blank line (the numbered operator details follow it)."""
    body = plan.split("== Physical Plan ==", 1)[-1].lstrip("\n")
    return body.split("\n\n", 1)[0]


def fingerprint(formatted: str) -> dict[str, str]:
    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    plan = normalize(formatted)
    return {"plan": md5(plan), "tree": md5(operator_tree(plan))}


def diff(a_path: str, b_path: str) -> None:
    with open(a_path) as ha, open(b_path) as hb:
        a, b = json.load(ha), json.load(hb)
    for name in sorted(set(a) | set(b)):
        fa, fb = a.get(name), b.get(name)
        if fa == fb:
            continue
        if isinstance(fa, dict) and isinstance(fb, dict):
            print(name, *(k for k in ("plan", "tree") if fa[k] != fb[k]))
        else:  # missing on one side, or a BUILD_ERROR
            print(name, fa, fb)


def main() -> None:
    if sys.argv[1] == "--diff":
        diff(sys.argv[2], sys.argv[3])
        return
    sf_dir, out_path, filters = sys.argv[1], sys.argv[2], sys.argv[3:]

    sys.path.insert(0, ROOT)
    import __spark_entry__ as ent
    from air_traffic_data_pipeline_spark.session import get_spark
    from bench import _clear_engine_caches

    spark = get_spark("plan-fp")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    fps: dict[str, object] = {}
    for name in sorted(qs):
        if filters and not any(f in name for f in filters):
            continue
        _clear_engine_caches(spark)
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            fps[name] = fingerprint(buf.getvalue())
        except Exception as exc:  # noqa: BLE001 — record, keep going
            fps[name] = f"BUILD_ERROR: {type(exc).__name__}: {exc}"[:200]
    with open(out_path, "w") as fh:
        json.dump(fps, fh, indent=0, sort_keys=True)
    print(f"{len(fps)} fingerprints -> {out_path}")


if __name__ == "__main__":
    main()
