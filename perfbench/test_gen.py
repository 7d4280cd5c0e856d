"""Checks of the benchmark's own parts that need no Spark session.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def _inputs(seed: int) -> dict[str, str]:
    tables, _ = gen.corpus(seed, 200, 100)
    hashes = {name: gen.content_hash(t) for name, t in tables.items()}
    polls = gen.stream_polls(seed, 2, 40)
    hashes["stream"] = gen.content_hash(gen.states_table(polls[1], 1, 0))
    hashes["envelopes"] = hashlib.sha256("".join(gen.poll_envelopes(seed, 3, 40)).encode()).hexdigest()
    return hashes


def test_same_seed_same_content():
    assert _inputs(7) == _inputs(7)


def test_other_seed_other_content():
    a, b = _inputs(7), _inputs(8)
    assert not {k for k in a if a[k] == b[k]}


def test_corpus_records_its_near_duplicates():
    tables, props = gen.corpus(3, 500, 50)
    assert props["rows"] == {"documents": 500, "embeddings": 50}
    assert abs(props["near_dup_share"] - gen.NEAR_DUP_SHARE) < 0.05
    texts = tables["documents"].column("text").to_pylist()
    assert all(20 <= len(t.split()) <= 100 for t in texts)


def test_polls_carry_the_edge_cases():
    rows = json.loads(gen.poll_envelopes(3, 1, 200)[0])["states"]
    assert len(rows) == 200
    vr = [r[11] for r in rows]
    assert None in vr and -1.5 in vr and 1.5 in vr
    assert any(r[8] for r in rows) and any(r[6] is None for r in rows)
    coords = [(r[6], r[5]) for r in rows if r[6] is not None]
    assert len(set(coords)) < len(coords)  # duplicate coordinates for last-wins dedup
    dup_keys = {c for c in coords if coords.count(c) > 1}
    for key in dup_keys:  # one survivor per key: last_contact is unique
        lcs = [r[4] for r in rows if (r[6], r[5]) == key]
        assert len(set(lcs)) == len(lcs)


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == run.PER_LAYER


def test_tail_has_ten_beyond():
    vals = list(range(1, 101))
    value, p, beyond = run.tail(vals)
    assert (p, beyond, value) == (90, 10, 90)
    value, p, beyond = run.tail([3.0, 1.0, 2.0])
    assert (p, value) == (50, 2.0)
