"""Inputs of the benchmark workloads.

``batch_headline`` reads ``fixture/sf0.1/``: an unmodified copy of the
repository's sf0.1 test-data fixture (TESTDATA.md), copied into the run
directory. ``feed_stream`` reads a seeded ``events.parquet`` that
:func:`events` generates: the same seed gives the same table contents
(checked by ``selftest.py``), and the schema is the fixture's ``events``
schema (also checked there). Either way the input record, written as
``inputs.json`` beside the tables, holds the row counts and per-table
content hashes; for generated inputs it also holds the seed and the knobs:
rows, distinct users, the share of redelivered duplicate ``event_id`` rows,
and the payload (``props``) size in bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000


def events(
    seed: int, rows: int, users: int, dup_share: float, props_bytes: int,
) -> pa.Table:
    """Event log over 30 days in event-time order. ``dup_share`` of the rows
    are redeliveries: exact copies (same ``event_id``) of an earlier event,
    the at-least-once shape the streaming dedup keys remove. A payload pad
    brings each ``props`` JSON string to about ``props_bytes`` bytes."""
    rng = np.random.default_rng(seed)
    n_dup = int(rows * dup_share)
    n = rows - n_dup
    micros = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    k = rng.integers(0, 100, n)
    base = len('{"k": 00}')
    pad = max(props_bytes - base - len(', "p": ""'), 0)
    if pad:
        alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        pads = ["".join(rng.choice(alphabet, pad)) for _ in range(min(n, 64))]
        props = [f'{{"k": {k[i]}, "p": "{pads[i % len(pads)]}"}}' for i in range(n)]
    else:
        props = [f'{{"k": {v}}}' for v in k]
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": micros,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(55.0, n), 2),
        "props": np.array(props, dtype=object),
    }
    if n_dup:
        # a redelivered record keeps its event time: it sorts next to the
        # original, and the replay carries both copies
        src = np.sort(rng.integers(0, n, n_dup))
        order = np.argsort(np.concatenate([np.arange(n), src]), kind="stable")
        cols = {c: np.concatenate([v, v[src]])[order] for c, v in cols.items()}
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(start + cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def content_hash(table: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()[:16]


def _write_record(out_dir: str, record: dict) -> dict:
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return record


def generate(out_dir: str, seed: int, spec: dict) -> dict:
    """Write the seeded events table under ``out_dir`` (one parquet file,
    one row group, like the fixture) and return the input record."""
    os.makedirs(out_dir, exist_ok=True)
    e = spec["events"]
    t = events(seed, e["rows"], e["users"], e["dup_share"], e["props_bytes"])
    pq.write_table(t, os.path.join(out_dir, "events.parquet"),
                   row_group_size=t.num_rows)
    return _write_record(out_dir, {
        "seed": seed, "spec": spec, "rows": {"events": t.num_rows},
        "hash": {"events": content_hash(t)},
    })


def copy_fixture(out_dir: str, fixture: str) -> dict:
    """Copy ``fixture/<fixture>/`` into ``out_dir`` and return the input
    record. The copy keeps the program's writes, if any, away from the
    files the checkout holds."""
    os.makedirs(out_dir, exist_ok=True)
    src = os.path.join(FIXTURES, fixture)
    rows, hashes = {}, {}
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            shutil.copyfile(os.path.join(src, f), os.path.join(out_dir, f))
            rows[f[:-8]] = pq.read_metadata(os.path.join(src, f)).num_rows
            with open(os.path.join(src, f), "rb") as fh:
                hashes[f[:-8]] = hashlib.sha256(fh.read()).hexdigest()[:16]
    return _write_record(out_dir, {"fixture": fixture, "rows": rows, "hash": hashes})
