"""Shared pytest fixtures: one SparkSession for the whole run + the
DuckDB-oracle comparator replicating the driver's check (row-count +
schema-width + order-insensitive value comparison) at sf0.001 for speed.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

from training_feed_kinesis_spark.session import build_session, scoped_conf
from training_feed_kinesis_spark.tables import TABLES

SF_DIR = os.environ.get("TFK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # fast test startup
    s = build_session("tfk-tests")
    yield s
    s.stop()


def scopes_confs(spec) -> bool:
    """Whether ``spec``'s module can change a session conf: every conf
    change in the package goes through ``session.scoped_conf``
    (tests/test_session_conf.py lints this)."""
    module = sys.modules[spec.fn.__module__]
    return vars(module).get("scoped_conf") is scoped_conf


@pytest.fixture(scope="session")
def registry_frames(spark):
    """key -> (DataFrame | None, error | None) for EVERY registered key,
    each built (and analyzed) exactly once per test session and shared by
    the registry-wide sweeps (type-parity lint, cartesian-product lint).

    r13 (VERDICT r12 item 2 — the pytest suite outgrew the driver's
    verify budget): the two sweeps each called ``spec.fn`` for ~580 keys
    (~200 s + ~84 s serial), and for streaming keys ``fn`` DRAINS a full
    replay. Built once, and built from a driver THREAD POOL (guide §2.6
    overlap — schema analysis is driver-side py4j that releases the GIL,
    and the drain-executing keys spend their time waiting on micro-
    batches; one worker per task slot, ``SPARK_GRAFT_CPUS``). Fixture
    builders and substrate memos are lock-guarded for exactly this
    concurrency (scans.FIXTURE_LOCK / tables.MEMO_LOCK)."""
    from concurrent.futures import ThreadPoolExecutor

    from training_feed_kinesis_spark.registry import load_all

    # Session confs are GLOBAL, not thread-local: an operator that flips
    # a planning-relevant conf inside its fn can poison ANOTHER thread's
    # concurrent plan analysis (observed: scan_metadata_cols failing to
    # resolve `_metadata` while scan_agg_pushdown had the session on the
    # V2 reader). Keys that may change a conf (scopes_confs) build
    # SERIALLY, after the pool. drain() keeps its keys in the pool: its
    # scope covers only query start, and the partition count is never
    # result-relevant.
    def build(item):
        key, spec = item
        try:
            df = spec.fn(spark, SF_DIR)
            df.schema  # force analysis inside the pool
            return key, df, None
        except Exception as e:  # noqa: BLE001
            return key, None, e

    items = sorted(load_all().items())
    pooled = [i for i in items if not scopes_confs(i[1])]
    serial = [i for i in items if scopes_confs(i[1])]
    frames = {}
    with ThreadPoolExecutor(max_workers=int(os.environ["SPARK_GRAFT_CPUS"])) as pool:
        for key, df, err in pool.map(build, pooled):
            frames[key] = (df, err)
    for item in serial:
        key, df, err = build(item)
        frames[key] = (df, err)
    return frames


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize_cell(v):
    """Canonical comparable form for one value across Spark/DuckDB/pandas."""
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return None
        # queries round to 4dp; normalize representation (incl. -0.0)
        return round(f + 0.0, 6)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        if v is pd.NaT:
            return None
        return v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_normalize_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _normalize_cell(x)) for k, x in v.items()))
    return v


def _canonical_rows(pdf):
    cols = sorted(pdf.columns)
    rows = [
        tuple(_normalize_cell(row[c]) for c in cols)
        for row in pdf.to_dict("records")
    ]
    return cols, sorted(rows, key=repr)


def _num_class(v):
    """bool < int < float are distinct REPRESENTATION classes: the driver's
    hash serializes ``True``/``4``/``4.0`` differently even though Python
    compares them equal. Three driver fails (agg_boolean r1; fn_math,
    llm_lang_profile r2) were numerically-identical values hidden by the
    old lenient ``==`` here — this comparator is now representation-strict."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, float):
        return "float"
    if isinstance(v, int):
        return "int"
    return None


def _cell_eq_strict(a, e, float_tol=0.0):
    if isinstance(a, tuple) and isinstance(e, tuple):
        return len(a) == len(e) and all(
            _cell_eq_strict(x, y, float_tol) for x, y in zip(a, e)
        )
    if _num_class(a) != _num_class(e):
        return False
    if float_tol and isinstance(a, float) and isinstance(e, float):
        # ulp-aware: DECIMAL/HUGEINT → DOUBLE conversion of the SAME
        # exact integer can differ by 1 ulp between the engines above
        # 2^53 (magnitude-fuzz find, r7) — forgive a few ulps, which is
        # ~2e-16 relative and therefore strictly tighter than float_tol
        # everywhere float_tol matters; integer-level errors smaller
        # than one ulp are unrepresentable in the double output anyway.
        # float_tol=0 (the driver-equivalent strict path) is unchanged.
        import math

        ulps = 4 * math.ulp(max(abs(a), abs(e), 1.0))
        return abs(a - e) <= max(float_tol, ulps)
    return a == e


def assert_matches_oracle(spark_df, duck_con, sql: str, float_tol: float = 0.0):
    """Driver-equivalent differential check (order-insensitive,
    representation-strict). ``float_tol=0`` replicates the driver's exact
    rounded-hash check (registered queries must pass that). Fuzzed queries
    pass a small tolerance instead: a sum landing exactly on a ROUND(x,4)
    boundary can legitimately round differently across engines (different
    reduction order), which is a rounding artifact, not an engine bug."""
    actual = spark_df.toPandas()
    expected = duck_con.execute(sql).fetchdf()
    assert sorted(actual.columns) == sorted(expected.columns), (
        f"column mismatch: spark={sorted(actual.columns)} "
        f"oracle={sorted(expected.columns)}"
    )
    assert len(actual) == len(expected), (
        f"row count mismatch: spark={len(actual)} oracle={len(expected)}"
    )
    a_cols, a_rows = _canonical_rows(actual)
    e_cols, e_rows = _canonical_rows(expected)

    mismatches = [
        (i, a, e)
        for i, (a, e) in enumerate(zip(a_rows, e_rows))
        if not _cell_eq_strict(a, e, float_tol)
    ]
    assert not mismatches, (
        f"value mismatch ({len(mismatches)}/{len(a_rows)} rows); first 3: "
        + "; ".join(f"spark={a} oracle={e}" for _, a, e in mismatches[:3])
    )
