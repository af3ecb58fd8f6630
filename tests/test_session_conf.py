"""Session-conf isolation: ``session.scoped_conf`` is the one way the engine
changes a session conf, it restores exactly, and no operator leaves the
driver's session changed. Also: ``replay.start_stream`` is the one place
that starts a stream and sizes a stateful stream's state partitions, and
``oracle.py`` is the one DuckDB-oracle harness."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import sys

import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig

import training_feed_kinesis_spark
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.session import scoped_conf
from training_feed_kinesis_spark.streaming import replay
from training_feed_kinesis_spark.tables import TABLES, load_table

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
    out = replay.drain(_window_counts(spark), state_partitions=3, rocksdb=True)
    op = replay.progress(out)[-1]["stateOperators"][0]
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


def _one_wave(spark) -> int:
    return min(8, spark.sparkContext.defaultParallelism)


def _state_partitions(history) -> set:
    """Every stateful operator's partition count over a progress history."""
    return {
        op["numShufflePartitions"] for p in history for op in p["stateOperators"]
    }


@pytest.fixture
def started(monkeypatch):
    """The queries ``replay.start_stream`` starts while the test runs,
    whichever module-level name the caller reached it through."""
    queries = []
    real = replay.start_stream

    def spy(*args, **kwargs):
        queries.append(real(*args, **kwargs))
        return queries[-1]

    for module in list(sys.modules.values()):
        if (
            getattr(module, "__name__", "").startswith(training_feed_kinesis_spark.__name__)
            and getattr(module, "start_stream", None) is real
        ):
            monkeypatch.setattr(module, "start_stream", spy)
    return queries


def test_stateful_streams_run_one_wave_of_state_partitions(spark, started):
    """A default drain and the streaming keys that used to pick their own
    count (or none) run every stateful operator on
    ``min(8, defaultParallelism)`` state partitions: one wave of tasks."""
    want = {_one_wave(spark)}
    assert _state_partitions(replay.progress(replay.drain(_window_counts(spark)))) == want
    registry = load_all()
    for key in (
        "stream_dedup_watermark",
        "stream_progress_metrics",
        "stream_watermark_gap_census",
        "stream_output_modes",
    ):
        n_before = len(started)
        registry[key].fn(spark, SF_DIR).collect()
        queries = started[n_before:]
        assert queries, f"{key} started no stream through start_stream()"
        for q in queries:
            assert _state_partitions(q.recentProgress) == want, key


def test_explicit_state_partitions_are_honoured(spark):
    out = replay.drain(_window_counts(spark), state_partitions=3)
    assert _state_partitions(replay.progress(out)) == {3}


def test_drain_progress_history_has_one_entry_per_batch(spark):
    """One file per micro-batch: the history holds each batch once, in
    order."""
    out = replay.drain(_window_counts(spark))
    history = replay.progress(out)
    assert [p["batchId"] for p in history] == list(range(len(history)))
    files = [
        f for f in os.listdir(replay._prepare(spark, SF_DIR, "ordered"))
        if f.startswith("part-") and not f.endswith(".crc")
    ]
    assert len([p for p in history if p["numInputRows"] > 0]) == len(files)
    events = load_table(spark, SF_DIR, "events").count()
    assert sum(p["numInputRows"] for p in history) == events


def _string_constants(node, assigned) -> set:
    """String constants inside ``node``, following names bound at module
    level (``scoped_conf(spark, **_CONFS)``)."""
    out = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Constant) and isinstance(sub.value, str):
            out.add(sub.value)
        elif isinstance(sub, ast.Name) and sub.id in assigned:
            out |= _string_constants(assigned[sub.id], {})
    return out


def test_only_replay_scopes_shuffle_partitions():
    """The state-partition rule lives in ``streaming/replay.py`` alone: no
    other package file passes ``spark.sql.shuffle.partitions`` to
    scoped_conf."""
    root = pathlib.Path(training_feed_kinesis_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.relative_to(root).as_posix() == "streaming/replay.py":
            continue
        tree = ast.parse(path.read_text())
        assigned = {
            t.id: stmt.value
            for stmt in tree.body
            if isinstance(stmt, ast.Assign)
            for t in stmt.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None)) == "scoped_conf"
                and _PARTS in _string_constants(node, assigned)
            ):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not hits, hits


_LOOPS = (ast.For, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)
_VIEW_SQL = ("CREATE VIEW", "read_parquet")
_ORACLE = "training_feed_kinesis_spark/oracle.py"


def _harness_hits(rel: str, tree) -> list:
    """Where ``tree`` builds its own oracle views, rounds a ``+ 0.0``
    with the builtin ``round``, or spells out the ten table names."""
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, _LOOPS) and rel != _ORACLE:
            # string constants, f-string parts included
            text = " ".join(
                sub.value
                for sub in ast.walk(node)
                if isinstance(sub, ast.Constant) and isinstance(sub.value, str)
            )
            if all(s in text for s in _VIEW_SQL):
                hits.append(f"{rel}:{node.lineno} view loop")
        if (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "round"
            and node.args
            and isinstance(node.args[0], ast.BinOp)
            and isinstance(node.args[0].op, ast.Add)
            and any(
                isinstance(side, ast.Constant) and side.value == 0.0
                for side in (node.args[0].left, node.args[0].right)
            )
        ):
            hits.append(f"{rel}:{node.lineno} round(x + 0.0)")
        if rel == "training_feed_kinesis_spark/tables.py":
            continue
        names = None
        if isinstance(node, (ast.Tuple, ast.List, ast.Set)):
            names = {getattr(e, "value", None) for e in node.elts}
        elif (
            isinstance(node, ast.Attribute)
            and node.attr == "split"
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            names = set(node.value.value.split())
        if names is not None and set(TABLES) <= names:
            hits.append(f"{rel}:{node.lineno} table-name list")
    return hits


def test_one_oracle_harness():
    """``oracle.py`` alone builds the DuckDB views, no file rounds a
    ``+ 0.0`` away with the builtin ``round`` (it would hide a signed
    zero a value hash sees), and ``tables.py`` alone lists the ten
    table names. ``perfbench/`` is left to its own benchmark change."""
    repo = pathlib.Path(training_feed_kinesis_spark.__file__).parent.parent
    hits = []
    for top in ("training_feed_kinesis_spark", "tests", "scripts"):
        for path in sorted((repo / top).rglob("*.py")):
            rel = path.relative_to(repo).as_posix()
            hits += _harness_hits(rel, ast.parse(path.read_text()))
    assert not hits, hits


def _chain_has_write_stream(node) -> bool:
    """Whether an attribute/call chain passes through ``.writeStream``."""
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "writeStream":
            return True
        node = node.func if isinstance(node, ast.Call) else node.value
    return False


def test_only_replay_starts_streams():
    """Every stream in the package starts through ``replay.start_stream``,
    which owns the checkpoint: no other package file calls ``.start()``
    on a ``writeStream`` chain (or on a name bound to one) or sets
    ``checkpointLocation``."""
    root = pathlib.Path(training_feed_kinesis_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.relative_to(root).as_posix() == "streaming/replay.py":
            continue
        tree = ast.parse(path.read_text())
        writers = {
            t.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign) and _chain_has_write_stream(node.value)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        for node in ast.walk(tree):
            starts_writer = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "start"
                and (
                    _chain_has_write_stream(node.func.value)
                    or getattr(node.func.value, "id", None) in writers
                )
            )
            if starts_writer or (
                isinstance(node, ast.Constant) and node.value == "checkpointLocation"
            ):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not hits, hits


@pytest.fixture
def conf_sets(monkeypatch):
    """Counts ``RuntimeConfig.set`` calls on every session."""
    calls = []
    real = RuntimeConfig.set

    def counting(self, key, value):
        calls.append(key)
        return real(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", counting)
    return calls


def test_load_table_configures_each_session_once(spark, conf_sets):
    """A memo hit makes no ``conf.set`` call; a new session is configured
    on its first load and gets frames of its own."""
    load_table(spark, SF_DIR, "region")
    conf_sets.clear()
    load_table(spark, SF_DIR, "region")
    assert conf_sets == []
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.session.timeZone", "America/New_York")
    conf_sets.clear()
    assert load_table(fresh, SF_DIR, "region").sparkSession is fresh
    assert "spark.sql.session.timeZone" in conf_sets
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    conf_sets.clear()
    load_table(fresh, SF_DIR, "nation")
    assert conf_sets == []


def test_sql_named_window_leaves_no_view(spark, duck):
    """ops_wave16 passes its frame to ``spark.sql`` as a parameter, so
    building and collecting its keys leaves the catalog as found."""
    before = sorted(t.name for t in spark.catalog.listTables())
    registry = load_all()
    for spec in registry.values():
        if spec.fn.__module__.endswith(".ops_wave16"):
            spec.fn(spark, SF_DIR).collect()
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    spec = registry["sql_named_window"]
    assert_matches_oracle(spec.fn(spark, SF_DIR), duck, spec.oracle)
