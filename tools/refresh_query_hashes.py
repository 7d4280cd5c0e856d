"""Maintain QUERY_HASHES.json — the per-query source-hash snapshot behind
the registry's git-aware recheck hook.

Each entry records the md5 of a query function's source AS OF its last
green driver row: {"<name>": {"hash": "...", "round": N}}. The registry
compares current source hashes against this snapshot; a green-tail query
whose source changed since its green row jumps the recheck window
(plans/registry.py::_changed_since_green) instead of hiding behind stale
evidence for up to the full tail-rotation period.

Run at ROUND START, right after the driver lands CORRECTNESS_r{N}.json and
BEFORE editing any query code — the working tree then still holds exactly
the code that earned the new green rows. Default mode refreshes every
green query whose latest green round is newer than (or missing from) its
recorded entry; --seed-all (first run) initializes entries for every
cumulatively-green query at its recorded round.

Limitations (documented, deliberate): the hash covers the query function's
own source only — an edit to a shared helper does not bump consumers'
hashes; those go in registry._FORCE_RECHECK by hand, as the r7
island-merge delegation did.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATH = os.path.join(ROOT, "QUERY_HASHES.json")


def main() -> int:
    seed_all = "--seed-all" in sys.argv

    from air_traffic_data_pipeline_spark.plans import registry

    rounds = registry._driver_green_rounds() or {}
    fns = registry._collect()[0]

    try:
        with open(PATH) as fh:
            snap = json.load(fh)
        if not isinstance(snap, dict):
            snap = {}
    except Exception:
        snap = {}

    updated = 0
    for name, rnd in sorted(rounds.items()):
        fn = fns.get(name)
        if fn is None:
            continue
        cur = snap.get(name) if isinstance(snap.get(name), dict) else None
        stale = cur is None or int(cur.get("round", -1)) < rnd
        if not (seed_all or stale):
            continue
        h = registry._query_src_hash(fn)
        if h is None:
            continue
        snap[name] = {"hash": h, "round": rnd}
        updated += 1

    # drop entries for queries that no longer exist
    dropped = [k for k in snap if k not in fns]
    for k in dropped:
        del snap[k]

    # Snapshot-vs-source drift for NON-green queries: these are outside the
    # registry's _changed_since_green hook (it only inspects green names),
    # so a stale hash here relies on a manual _FORCE_RECHECK pairing that
    # nothing verified (r7 ADVICE, the llm_bm25_topk case). Report them so
    # the pairing is audited each round instead of assumed.
    nongreen_drift = []
    for name, ent in sorted(snap.items()):
        if name in rounds:
            continue  # green: the registry's own hook covers it
        fn = fns.get(name)
        if fn is None:
            continue
        h = registry._query_src_hash(fn)
        if h is not None and h != ent.get("hash"):
            nongreen_drift.append(name)

    with open(PATH, "w") as fh:
        json.dump(dict(sorted(snap.items())), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(
        json.dumps(
            {
                "entries": len(snap),
                "updated": updated,
                "dropped": len(dropped),
                "green_total": len(rounds),
                "nongreen_drift": nongreen_drift,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
