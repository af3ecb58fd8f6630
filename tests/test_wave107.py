"""llm_semdedup_centroid_prune (wave 107) — SemDeDup centroid prune.

Pins, beyond the driver's oracle hash:
  * all three actions are non-vacuous at sf0.01 (tau chosen at the
    fixture's upper quartile);
  * exactly ONE 'keep' per cluster that has any >=tau member, and it is
    the LOWEST-cosine member of that group (the paper's
    low-similarity-representative election, r10 tie discipline);
  * planted exact duplicates of a >=tau member join the same semantic
    group and at most one member of the whole group survives;
  * the oracle matches on the planted dir too;
  * plan shape: centroid joins broadcast, no CartesianProduct.
"""

from __future__ import annotations

import contextlib
import io

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()
_KEY = "llm_semdedup_centroid_prune"


def _rows(spark, d):
    return _REGISTRY[_KEY].fn(spark, d).collect()


def test_actions_nonvacuous_and_keep_unique_per_cluster(spark):
    rows = _rows(spark, SF_DIR)
    actions = {r["action"] for r in rows}
    assert actions == {"pass", "keep", "drop"}
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    for label, rs in by_label.items():
        keeps = [r for r in rs if r["action"] == "keep"]
        group = [r for r in rs if r["action"] in ("keep", "drop")]
        if group:
            assert len(keeps) == 1, f"cluster {label}: {len(keeps)} keepers"
            # keeper is the group's LOWEST cosine (vec_id tiebreak)
            best = min(group, key=lambda r: (r["cos_centroid"], r["vec_id"]))
            assert keeps[0]["vec_id"] == best["vec_id"]
        else:
            assert not keeps


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """sf0.001 embeddings + exact byte-copies (vec_id+50000) of every
    25th vector: identical vectors score the identical centroid cosine,
    so each copy joins its original's semantic group whenever that
    group clears tau."""
    import shutil

    d = tmp_path_factory.mktemp("wave107_planted")
    src = f"{SF_DIR}/embeddings.parquet"
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}')
          UNION ALL
          SELECT vec_id + 50000 AS vec_id, embedding, label
          FROM read_parquet('{src}') WHERE vec_id % 25 = 3
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_DIR}/{t}.parquet", f"{d}/{t}.parquet")
    return str(d)


def test_planted_twins_share_group_fate(spark, planted_dir):
    rows = {r["vec_id"]: r for r in _rows(spark, planted_dir)}
    n_twins = 0
    for vid, r in rows.items():
        if vid >= 50000 and (vid - 50000) in rows:
            orig = rows[vid - 50000]
            assert r["cos_centroid"] == orig["cos_centroid"]
            assert r["label"] == orig["label"]
            # identical cosine => same side of tau; if above, at most one
            # of the two can be the keeper
            if r["action"] == "pass":
                assert orig["action"] == "pass"
            else:
                assert {r["action"], orig["action"]} <= {"keep", "drop"}
                assert [r["action"], orig["action"]].count("keep") <= 1
                n_twins += 1
    assert n_twins > 0, "no planted twin landed above tau — fixture vacuous"


def test_oracle_matches_on_planted_dir(spark, planted_dir):
    spec = _REGISTRY[_KEY]
    with oracle.connect(planted_dir) as con:
        assert_matches_oracle(spec.fn(spark, planted_dir), con, spec.oracle)


def test_plan_broadcasts_centroid_no_cartesian(spark):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _REGISTRY[_KEY].fn(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # per-vector dot partial-aggregates map-side before the shuffle
    assert plan.count("HashAggregate") >= 2
