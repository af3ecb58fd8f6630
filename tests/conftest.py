"""Shared pytest fixtures: one SparkSession for the whole run, and the
DuckDB-oracle check (``training_feed_kinesis_spark.oracle``) at
sf0.001 for speed.
"""

from __future__ import annotations

import os
import sys

import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.session import build_session, scoped_conf

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
    with oracle.connect(SF_DIR) as con:
        yield con


def assert_matches_oracle(spark_df, duck_con, sql: str, float_tol: float = 0.0):
    """The hash-faithful check of ``spark_df`` against ``sql`` on ``duck_con``
    (``oracle.mismatch``; ``float_tol`` only for fuzzed queries)."""
    expected = duck_con.execute(sql).fetchdf()
    reason = oracle.mismatch(spark_df.toPandas(), expected, float_tol)
    assert not reason, reason
