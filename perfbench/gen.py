"""Seeded input generator for the perfbench workloads.

Every input the benchmark feeds the engine is made here from ``--seed``:

- OpenSky ``states/all`` envelopes (FIXTURES A1/A2) for ``poll_heatmap``;
- typed flight-states parquet files, one per poll, for ``poll_stream``
  (written by a separate process on a fixed schedule, see below);
- the FIXTURES B ``documents``/``embeddings`` corpus, with a stated
  near-duplicate share and clustered vectors, for ``corpus_dedup``.

Sizes are fixed per workload, so a different seed changes values, not the
amount of work. Only numpy and pyarrow are used; the engine never runs here.

Run as a program it is the ``poll_stream`` load generator:

    python3 perfbench/gen.py stream <out_dir> <seed> <n_files> <period_s> <rows>

It writes ``n_files`` parquet files into ``out_dir``, file ``k`` due at
``start + k * period_s``, each stamped with its creation time, and appends one
JSON line per file (name, due, created, rows) to ``out_dir/_manifest.jsonl``.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Nantes Atlantique, the airport the reference pipeline maps (its grid
# center is 47.1542, -1.6044).
AIRPORT_LAT = 47.1532
AIRPORT_LON = -1.6107
POLL_T0 = 1757030400  # FIXTURES A1 epoch base
POLL_PERIOD_S = 10

# Share of each poll's rows that carry a FIXTURES A1 edge case.
DUP_COORD_SHARE = 0.05  # same (lat, lon) as another row: last-wins dedup
NULL_VR_SHARE = 0.05  # null vertical_rate: the cruise branch
VR_BOUNDARY_SHARE = 0.02  # exactly -1.5 and exactly +1.5 (each)
ON_GROUND_SHARE = 0.10
NULL_POS_SHARE = 0.01  # null latitude/longitude
TERMINAL_RADIUS_KM = 20.0  # traffic is spread uniformly over this disk
KM_PER_DEG_LAT = 111.2

COUNTRIES = ["France", "United Kingdom", "Germany", "Spain", "Ireland", "Netherlands"]
AIRLINES = ["AFR", "EZY", "RYR", "VLG", "BAW", "TVF", "KLM", "DLH"]

STATES_COLUMNS = [
    ("icao24", pa.string()),
    ("callsign", pa.string()),
    ("origin_country", pa.string()),
    ("time_position", pa.int64()),
    ("last_contact", pa.int64()),
    ("longitude", pa.float64()),
    ("latitude", pa.float64()),
    ("baro_altitude", pa.float64()),
    ("on_ground", pa.bool_()),
    ("velocity", pa.float64()),
    ("true_track", pa.float64()),
    ("vertical_rate", pa.float64()),
    ("sensors", pa.list_(pa.int32())),
    ("geo_altitude", pa.float64()),
    ("squawk", pa.string()),
    ("spi", pa.bool_()),
    ("position_source", pa.int32()),
]
STREAM_EXTRA = [("poll_id", pa.int64()), ("created_ns", pa.int64())]


def _r(x: float, dp: int) -> float:
    return float(round(float(x), dp))


def poll_rows(rng: np.random.Generator, n: int, poll_id: int) -> list[list]:
    """One OpenSky poll: ``n`` state vectors as the API's positional rows.

    Values are Python natives in the A1 row order; ``sensors`` is the
    bracketed string form the API returns. ``last_contact`` is unique within
    the poll, so last-wins dedup on a shared coordinate has one survivor.
    """
    t_poll = POLL_T0 + poll_id * POLL_PERIOD_S
    # terminal-area traffic, uniform over a disk around the airport: the
    # ground area the poll covers (hence the work) varies little by seed
    r_km = TERMINAL_RADIUS_KM * np.sqrt(rng.random(n))
    theta = rng.uniform(0.0, 2.0 * np.pi, n)
    lat = AIRPORT_LAT + r_km * np.cos(theta) / KM_PER_DEG_LAT
    lon = AIRPORT_LON + r_km * np.sin(theta) / (KM_PER_DEG_LAT * np.cos(np.radians(AIRPORT_LAT)))
    alt = np.clip(r_km * 90.0 + rng.normal(0.0, 300.0, n), 150.0, 12000.0)
    vr = rng.normal(0.0, 8.0, n)
    last_contact = t_poll - rng.permutation(n)  # distinct within the poll
    order = rng.permutation(n)  # which rows get which edge case

    def take(share: float, start: int) -> tuple[np.ndarray, int]:
        k = int(round(n * share))
        return order[start : start + k], start + k

    on_ground, i = take(ON_GROUND_SHARE, 0)
    null_vr, i = take(NULL_VR_SHARE, i)
    vr_lo, i = take(VR_BOUNDARY_SHARE, i)
    vr_hi, i = take(VR_BOUNDARY_SHARE, i)
    null_pos, i = take(NULL_POS_SHARE, i)
    dups, i = take(DUP_COORD_SHARE, i)
    dup_src = order[i : i + len(dups)]  # distinct rows whose spot they copy

    ground = np.zeros(n, dtype=bool)
    ground[on_ground] = True
    lat[on_ground] = AIRPORT_LAT + rng.normal(0.0, 0.004, len(on_ground))
    lon[on_ground] = AIRPORT_LON + rng.normal(0.0, 0.006, len(on_ground))
    vr[on_ground] = 0.0
    vr[vr_lo] = -1.5
    vr[vr_hi] = 1.5
    lat = np.round(lat, 4)
    lon = np.round(lon, 4)
    lat[dups] = lat[dup_src]
    lon[dups] = lon[dup_src]
    null_vr_set = set(null_vr.tolist())
    null_pos_set = set(null_pos.tolist())

    u = rng.random((n, 6))
    rows = []
    for j in range(n):
        g = bool(ground[j])
        if u[j, 0] < 0.02:
            callsign = None
        elif u[j, 0] < 0.04:
            callsign = "        "
        else:
            callsign = f"{AIRLINES[int(u[j, 1] * len(AIRLINES))]}{int(u[j, 2] * 9000) + 100}".ljust(8)
        if u[j, 3] < 0.5:
            sensors = None
        elif u[j, 3] < 0.6:
            sensors = "[]"
        elif u[j, 3] < 0.8:
            sensors = "[1]"
        else:
            sensors = "[1,2,3]"
        lc = int(last_contact[j])
        pos_null = j in null_pos_set
        geo_alt = (27.0 if u[j, 4] < 0.5 else None) if g else _r(alt[j] + 30.0, 2)
        rows.append(
            [
                f"{0x300000 + int(rng.integers(0, 0xFFFFF)) + j:06x}",
                callsign,
                COUNTRIES[j % len(COUNTRIES)],
                None if u[j, 5] < 0.02 else lc - int(u[j, 5] * 5),
                lc,
                None if pos_null else float(lon[j]),
                None if pos_null else float(lat[j]),
                None if g else _r(alt[j], 2),
                g,
                _r(8.0 if g else 120.0 + u[j, 1] * 130.0, 2),
                _r(u[j, 2] * 360.0, 2),
                None if j in null_vr_set else _r(vr[j], 2),
                sensors,
                geo_alt,
                f"{int(u[j, 4] * 4096):04o}"[-4:] if u[j, 1] > 0.05 else None,
                False,
                int(u[j, 5] * 4),
            ]
        )
    return rows


def envelope(rows: list[list], poll_id: int) -> str:
    """The ``states/all`` response body for one poll (FIXTURES A2)."""
    return json.dumps({"time": POLL_T0 + poll_id * POLL_PERIOD_S, "states": rows})


def poll_envelopes(seed: int, n_polls: int, n_aircraft: int) -> list[str]:
    rng = np.random.default_rng([seed, 1])
    return [envelope(poll_rows(rng, n_aircraft, p), p) for p in range(n_polls)]


def _sensor_list(s: str | None) -> list[int] | None:
    if s is None:
        return None
    body = s.strip("[]")
    return [int(x) for x in body.split(",")] if body else []


def states_table(rows: list[list], poll_id: int, created_ns: int) -> pa.Table:
    """Typed flight-states table of one poll (the parsed A1 schema) plus the
    poll id and the generator's creation stamp."""
    cols = list(zip(*rows)) if rows else [[] for _ in STATES_COLUMNS]
    arrays = {}
    for (name, typ), col in zip(STATES_COLUMNS, cols):
        if name == "sensors":
            col = [_sensor_list(s) for s in col]
        arrays[name] = pa.array(list(col), type=typ)
    arrays["poll_id"] = pa.array([poll_id] * len(rows), type=pa.int64())
    arrays["created_ns"] = pa.array([created_ns] * len(rows), type=pa.int64())
    return pa.table(arrays)


def stream_schema_ddl() -> str:
    """Spark DDL of the stream files (typed states + poll_id + created_ns)."""
    spark_types = {
        pa.string(): "string",
        pa.int64(): "bigint",
        pa.float64(): "double",
        pa.bool_(): "boolean",
        pa.int32(): "int",
        pa.list_(pa.int32()): "array<int>",
    }
    return ", ".join(f"{n} {spark_types[t]}" for n, t in STATES_COLUMNS + STREAM_EXTRA)


def stream_polls(seed: int, n_files: int, rows: int) -> list[list[list]]:
    rng = np.random.default_rng([seed, 2])
    return [poll_rows(rng, rows, p) for p in range(n_files)]


def run_stream_generator(
    out_dir: str, seed: int, n_files: int, period_s: float, rows: int
) -> None:
    """Open-loop writer: file ``k`` is due at ``start + k * period_s`` and
    is written then regardless of how far the consumer has got. Each file
    lands under a dot-name (ignored by the file source) and is renamed into
    place, so the stream never sees a partial file."""
    polls = stream_polls(seed, n_files, rows)
    os.makedirs(out_dir, exist_ok=True)
    manifest = os.path.join(out_dir, "_manifest.jsonl")
    start = time.time()
    with open(manifest, "a") as mf:
        for k, prow in enumerate(polls):
            due = start + k * period_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            created = time.time()
            name = f"poll-{k:05d}.parquet"
            tmp = os.path.join(out_dir, f".{name}.tmp")
            pq.write_table(states_table(prow, k, int(created * 1e9)), tmp)
            os.rename(tmp, os.path.join(out_dir, name))
            mf.write(json.dumps({"file": name, "due": due, "created": created, "rows": len(prow)}) + "\n")
            mf.flush()


# --- document and embedding corpus (FIXTURES B) ----------------------------

# The registry near-dup and curation queries run on the corpus, with the table each reads.
CORPUS_QUERIES = [
    ("llm_minhash_near_dup_pairs", ("documents",)),
    ("llm_srp_near_dup", ("documents",)),
    ("llm_pretrain_pipeline_v2", ("documents",)),
    ("llm_cosine_topk", ("embeddings",)),
]
# Words by frequency rank; word k is drawn with probability ~ (k+1)^-WORD_ZIPF.
VOCAB = [
    "data", "spark", "the", "table", "query", "stream", "a", "window", "value", "join",
    "of", "merge", "column", "vector", "and", "small", "scan", "sort", "hash", "group",
    "filter", "order", "line", "part", "key", "row", "batch", "agg", "customer", "big",
    "fast", "slow",
]  # fmt: skip
WORD_ZIPF = 0.7
LANGS = ["en", "fr", "de", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.2  # docs that copy an earlier doc with a few word substitutions
EDIT_SHARE = 0.03  # substituted share of a near-duplicate's words (at least one)
EMBED_DIM = 64
EMBED_CLUSTERS = 10
EMBED_NOISE = 0.35  # per-coordinate noise around a unit-scale cluster center


def corpus(seed: int, n_docs: int, n_vecs: int) -> tuple[dict[str, pa.Table], dict]:
    """``documents`` (20-100 words from a fixed vocabulary; a stated share
    are near-duplicates of an earlier doc) and ``embeddings`` (clustered
    vectors, ``label`` = cluster). Returns the tables and their recorded
    properties."""
    rng = np.random.default_rng([seed, 5])
    vocab = np.array(VOCAB)
    word_p = 1.0 / np.arange(1, len(vocab) + 1) ** WORD_ZIPF
    word_p /= word_p.sum()
    docs: list[np.ndarray] = []
    n_dup = 0
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            words = docs[int(rng.integers(0, i))].copy()
            k = max(1, int(round(EDIT_SHARE * len(words))))
            words[rng.choice(len(words), k, replace=False)] = vocab[rng.integers(0, len(vocab), k)]
            n_dup += 1
        else:
            words = rng.choice(vocab, int(rng.integers(20, 101)), p=word_p)
        docs.append(words)
    text = [" ".join(w) for w in docs]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]),
            "source": pa.array([f"src{i % 8}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
        }
    )
    centers = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    label = rng.integers(0, EMBED_CLUSTERS, n_vecs)
    vecs = centers[label] + rng.normal(0.0, EMBED_NOISE / np.sqrt(EMBED_DIM), (n_vecs, EMBED_DIM))
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )
    tables = {"documents": documents, "embeddings": embeddings}
    props = {
        "rows": {k: t.num_rows for k, t in tables.items()},
        "near_dup_share": round(n_dup / n_docs, 4),
        "mean_words": round(float(np.mean([len(w) for w in docs])), 2),
        "embedding_clusters": EMBED_CLUSTERS,
    }
    return tables, props


def content_hash(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream: equal iff schema and values
    are equal, independent of the parquet writer's metadata."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


# Row groups small enough that a scan of a large table splits across all
# cores (pyarrow's default of 1Mi rows makes one group: one scan task).
ROW_GROUP_ROWS = 65536


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> dict[str, str]:
    """Write ``<name>.parquet`` per table; returns the content hashes."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP_ROWS)
    return {name: content_hash(t) for name, t in tables.items()}


def poll_properties(envs: list[str]) -> dict:
    """Recorded properties of generated polls: rows, duplicate-coordinate
    and edge-case shares, as they came out."""
    n = dups = null_vr = ground = 0
    for e in envs:
        rows = json.loads(e)["states"]
        n += len(rows)
        seen: set = set()
        for r in rows:
            key = (r[6], r[5])
            if r[5] is not None and key in seen:
                dups += 1
            seen.add(key)
            null_vr += r[11] is None
            ground += bool(r[8])
    return {
        "polls": len(envs),
        "rows": n,
        "dup_coord_share": round(dups / max(1, n), 4),
        "null_vr_share": round(null_vr / max(1, n), 4),
        "on_ground_share": round(ground / max(1, n), 4),
    }


if __name__ == "__main__":
    if len(sys.argv) != 7 or sys.argv[1] != "stream":
        sys.exit("usage: gen.py stream <out_dir> <seed> <n_files> <period_s> <rows>")
    run_stream_generator(
        sys.argv[2], int(sys.argv[3]), int(sys.argv[4]), float(sys.argv[5]), int(sys.argv[6])
    )
