"""r12 optimization-round pins: load_table plan memoization is METADATA
reuse, never data caching; parallelize's partition probe memo keeps its
repartition-only-when-needed contract. Every session memo follows an
in-place rewrite of the tables it was derived from.

The r12 contract the bench runs under: every timed query computes from
the parquet inputs. load_table may reuse the (lazy) relation plan — the
driver-side footer read + file listing is catalog metadata — but must
never persist/cache the data behind it.
"""

import os
import pathlib
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest
from pyspark.storagelevel import StorageLevel

import training_feed_kinesis_spark
from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.operators import llm_dedup
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES, load_table, memo, parallelize

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()


def test_load_table_memoizes_plan_not_data(spark):
    a = load_table(spark, SF_DIR, "orders")
    b = load_table(spark, SF_DIR, "orders")
    # same session + same dir content -> same plan object (no rebuild)
    assert a is b
    # and that plan is NOT cached/persisted — every action re-reads parquet
    assert a.storageLevel == StorageLevel.NONE


def test_load_table_memo_is_content_keyed(spark, tmp_path):
    src = os.path.join(SF_DIR, "region.parquet")
    dst_dir = tmp_path / "sfx"
    dst_dir.mkdir()
    dst = str(dst_dir / "region.parquet")
    shutil.copy(src, dst)
    a = load_table(spark, str(dst_dir), "region")
    n_a = a.count()
    # rewrite the file in place (different mtime_ns) -> memo must miss
    shutil.copy(src, dst)
    os.utime(dst, ns=(1, 1))
    b = load_table(spark, str(dst_dir), "region")
    assert a is not b
    assert b.count() == n_a


def _sf_copy(tmp_path) -> str:
    d = tmp_path / "sf"
    d.mkdir()
    for t in TABLES:
        shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def _rewrite_in_place(path: str, select: str) -> None:
    """Overwrite ``path`` with ``select`` run over its current rows
    (``{src}`` in ``select``), keeping the file (and its inode)."""
    tmp = f"{path}.new"
    src = f"read_parquet('{path}')"
    duckdb.execute(f"COPY ({select.format(src=src)}) TO '{tmp}' (FORMAT PARQUET)")
    shutil.copyfile(tmp, path)
    os.remove(tmp)


@pytest.mark.parametrize(
    "key, table, select",
    [
        # shingle_arrays substrate consumer, documents halved
        pytest.param(
            "llm_jaccard_pairs", "documents",
            "SELECT * FROM {src} WHERE doc_id % 2 = 0",
            id="shingle_arrays",
        ),
        # graph edge-list memo consumer, lineitem halved (whole baskets)
        pytest.param(
            "graph_degree", "lineitem",
            "SELECT * FROM {src} WHERE l_orderkey % 2 = 0",
            id="graph_edges",
        ),
        # admitted-embeddings consumer: a clean table gains one re-ingested
        # vec_id, so the memoized "no duplicates" census verdict is stale
        pytest.param(
            "llm_embed_stats", "embeddings",
            "SELECT * FROM {src} UNION ALL SELECT * FROM {src} WHERE vec_id = 7",
            id="embeddings_admitted",
        ),
    ],
)
def test_session_memos_are_content_keyed(spark, tmp_path, key, table, select):
    """A table rewritten in place mid-session: every session memo derived
    from the dir (substrates, the admitted embeddings, the graph edges)
    must follow the new content, not serve what the old content built."""
    d = _sf_copy(tmp_path)
    fn, sql = _REGISTRY[key].fn, _REGISTRY[key].oracle
    assert_matches_oracle(fn(spark, d), oracle.connect(d), sql)
    _rewrite_in_place(f"{d}/{table}.parquet", select)
    assert_matches_oracle(fn(spark, d), oracle.connect(d), sql)


def _cached_rdd_id(spark, df) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    cached = cm.lookupCachedData(df._jdf).get().cachedRepresentation()
    return cached.cacheBuilder().cachedColumnBuffers().id()


def test_replaced_substrate_leaves_the_cache_manager(spark, tmp_path):
    """The substrate a rewrite replaces is unpersisted, not left cached:
    Spark's CacheManager matches the rebuilt plan over the same path to
    the old cached data, so a surviving entry would serve stale rows."""
    d = _sf_copy(tmp_path)
    old = llm_dedup._shingle_arrays(spark, d)
    old_id = _cached_rdd_id(spark, old)
    _rewrite_in_place(f"{d}/documents.parquet", "SELECT * FROM {src} WHERE doc_id % 2 = 0")
    new = llm_dedup._shingle_arrays(spark, d)
    assert new is not old
    assert old_id not in set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert _cached_rdd_id(spark, new) != old_id
    n_docs = duckdb.execute(
        f"SELECT COUNT(DISTINCT doc_id) FROM read_parquet('{d}/documents.parquet')"
    ).fetchone()[0]
    assert new.count() == n_docs


def test_concurrent_memo_requests_build_once(spark, tmp_path):
    """Eight threads asking for one cold entry share a single build."""
    calls = []
    barrier = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.2)  # keep the build open while the other threads arrive
        return spark.range(1)

    def request(_):
        barrier.wait(timeout=30)
        return memo(spark, str(tmp_path), "t_concurrent", build)

    with ThreadPoolExecutor(max_workers=8) as pool:
        frames = list(pool.map(request, range(8), timeout=60))
    assert len(calls) == 1
    assert all(f is frames[0] for f in frames)


def test_application_id_is_read_only_in_tables():
    """Session scoping has one spelling: ``tables.content_key`` reads the
    applicationId, and every memo and derived dir keys on it."""
    root = pathlib.Path(training_feed_kinesis_spark.__file__).parent
    hits = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "tables.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "applicationId" in line
    ]
    assert not hits, hits


def test_parallelize_still_widens_single_split_scans(spark):
    df = load_table(spark, SF_DIR, "documents")
    target = spark.sparkContext.defaultParallelism
    out = parallelize(df)
    assert out.rdd.getNumPartitions() >= min(target, 2)
    # repeated calls (memo hit) must keep the same contract
    out2 = parallelize(load_table(spark, SF_DIR, "documents"))
    assert out2.rdd.getNumPartitions() >= min(target, 2)


def test_parallelize_probe_memo_does_not_pin_frames(spark):
    """r12 ADVICE/VERDICT item 4: the id(df)-keyed module dict held a
    strong reference to every frame ever probed — callers passing fresh
    derived frames (parallelize(gated) etc.) leaked an entry + pinned
    JVM plan per call. The r13 attribute memo must (a) still memoize,
    (b) let a dropped frame be collected."""
    import gc
    import weakref

    df = load_table(spark, SF_DIR, "documents").select("doc_id")
    parallelize(df)
    assert isinstance(getattr(df, "_tfk_npart", None), int)  # memo present
    ref = weakref.ref(df)
    del df
    gc.collect()
    assert ref() is None  # nothing module-level pins the frame
