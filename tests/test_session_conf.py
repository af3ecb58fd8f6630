"""Session-conf isolation: ``session.scoped_conf`` is the one way the engine
changes a session conf, it restores exactly, and no operator leaves the
driver's session changed."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

import training_feed_kinesis_spark
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.session import scoped_conf
from training_feed_kinesis_spark.streaming import replay

from .conftest import SF_DIR, assert_matches_oracle, scopes_confs

_KEY = "spark.tfk.test.scoped_conf"
_PARTS = "spark.sql.shuffle.partitions"


def test_unset_key_is_unset_again(spark):
    assert spark.conf.get(_KEY, None) is None
    with scoped_conf(spark, **{_KEY: "a"}):
        assert spark.conf.get(_KEY) == "a"
    assert spark.conf.get(_KEY, None) is None


def test_set_key_gets_its_value_back(spark):
    before = spark.conf.get(_PARTS)
    with scoped_conf(spark, **{_PARTS: "3"}):
        assert spark.conf.get(_PARTS) == "3"
    assert spark.conf.get(_PARTS) == before


def test_nesting_restores_each_level(spark):
    with scoped_conf(spark, **{_KEY: "outer"}):
        with scoped_conf(spark, **{_KEY: "inner"}):
            assert spark.conf.get(_KEY) == "inner"
        assert spark.conf.get(_KEY) == "outer"
    assert spark.conf.get(_KEY, None) is None


def test_exception_path_restores(spark):
    before = spark.conf.get(_PARTS)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, **{_KEY: "a", _PARTS: "3"}):
            raise RuntimeError("boom")
    assert spark.conf.get(_KEY, None) is None
    assert spark.conf.get(_PARTS) == before


def test_no_conf_writes_outside_session_module():
    """Every conf change in the package goes through scoped_conf, which is
    what lets conftest derive its serial build set from scoped_conf use."""
    root = pathlib.Path(training_feed_kinesis_spark.__file__).parent
    pat = re.compile(r"conf\.(set|unset)\(")
    hits = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path.name != "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not hits, hits


def _window_counts(spark):
    return (
        replay.replay_stream(spark, SF_DIR, "ordered")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def test_drain_leaves_unset_shuffle_partitions_unset(spark):
    """A plain driver session has no explicit shuffle.partitions; drain()'s
    temporary value must not stay behind on it."""
    plain = spark.newSession()
    plain.conf.unset(_PARTS)  # throwaway session: mimic the driver's
    assert plain.conf.get(_PARTS, None) is None
    assert replay.drain(_window_counts(plain)).count() > 0
    assert plain.conf.get(_PARTS, None) is None


def test_drain_rocksdb_scope_reaches_the_query(spark):
    """The confs are scoped to start() alone, yet the query runs with them:
    a streaming query fixes its confs when it starts."""
    before = spark.conf.getAll
    replay.drain(_window_counts(spark), state_partitions=3, rocksdb=True)
    op = replay.LAST_PROGRESS["stateOperators"][0]
    assert op["numShufflePartitions"] == 3, op
    assert any("rocksdb" in k.lower() for k in op["customMetrics"]), op
    assert spark.conf.getAll == before


def test_conf_scoped_keys_leave_session_unchanged(spark):
    """Building and materializing every key whose module uses scoped_conf
    leaves the session conf map as found."""
    before = spark.conf.getAll
    for spec in load_all().values():
        if scopes_confs(spec):
            spec.fn(spark, SF_DIR).collect()
    assert spark.conf.getAll == before


def test_memory_sink_views_are_dropped_once_read(spark, duck):
    """Memory-sink queries leave no ``tfk_`` view behind: ``drain``,
    ``stream_progress_metrics`` and ``stream_watermark_gap_census`` drop
    theirs once the frame is resolved, and a drained frame still reads."""
    registry = load_all()
    for key in ("stream_progress_metrics", "stream_watermark_gap_census"):
        registry[key].fn(spark, SF_DIR).collect()
    spec = registry["stream_dedup_watermark"]
    assert_matches_oracle(spec.fn(spark, SF_DIR), duck, spec.oracle)
    names = [t.name for t in spark.catalog.listTables()]
    assert not [
        n for n in names
        if n.startswith(("tfk_replay_", "tfk_progress_", "tfk_wm_gap_"))
    ], names
