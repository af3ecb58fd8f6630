"""Wave-100 invariants: planted-fixture detection proofs, brute-force
cross-checks, and structural identities for the round-8 keys (the
per-key differential vs DuckDB runs in test_operators.py; these prove
the operators are NON-VACUOUS)."""

from __future__ import annotations

import math
import shutil

import duckdb
import pytest

from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR

_REGISTRY = load_all()


# --- dq_dim_conformity: must FIRE on the campaign's corruption --------------


@pytest.fixture(scope="module")
def dim_corrupt_dir(tmp_path_factory):
    """The r8 dim-campaign fixture shapes: NULL r_name, duplicated
    region row, verbatim + conflicting duplicated nation rows, a
    planted ORPHAN nation (n_regionkey = 99), a NULL-FK nation, and a
    NULL-PK region ghost (the r8 ADVICE seam: the ghost poisons a NOT
    IN spelling for EVERY unmatched key, and a left_anti would count
    the NULL-FK row as an orphan where SQL NOT IN never does)."""
    d = tmp_path_factory.mktemp("w100dim")
    for t in TABLES:
        if t not in ("region", "nation"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT r_regionkey,
                 CASE WHEN r_regionkey = 0 THEN NULL ELSE r_name END
                   AS r_name
          FROM read_parquet('{SF_DIR}/region.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/region.parquet')
          WHERE r_regionkey = 2
          UNION ALL
          SELECT CAST(NULL AS INTEGER) AS r_regionkey, 'LIMBO' AS r_name
        ) TO '{d}/region.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SF_DIR}/nation.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/nation.parquet')
          WHERE n_nationkey % 7 = 2
          UNION ALL
          SELECT 999 AS n_nationkey, 'ORPHANIA' AS n_name,
                 99 AS n_regionkey
          UNION ALL
          SELECT 998 AS n_nationkey, 'NULLMARK' AS n_name,
                 CAST(NULL AS INTEGER) AS n_regionkey
        ) TO '{d}/nation.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_dim_conformity_clean_corpus_reports_clean(spark):
    rows = {
        r["tbl"]: r
        for r in _REGISTRY["dq_dim_conformity"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"region", "nation"}
    for r in rows.values():
        assert r["dup_excess"] == 0
        assert r["n_null_name"] == 0
        assert r["n_orphan"] == 0
        assert r["n_rows"] == r["n_keys"] > 0


def test_dim_conformity_flags_planted_corruption(spark, dim_corrupt_dir):
    rows = {
        r["tbl"]: r
        for r in _REGISTRY["dq_dim_conformity"]
        .fn(spark, dim_corrupt_dir)
        .collect()
    }
    # region: 5 base + dup ASIA + NULL-PK LIMBO = 7 rows, 5 distinct
    # non-NULL keys (COUNT(DISTINCT) ignores the NULL PK on both engines)
    assert rows["region"]["dup_excess"] == 2  # dup ASIA + NULL-PK ghost
    assert rows["region"]["n_null_name"] == 1  # AFRICA nulled
    assert rows["nation"]["dup_excess"] >= 1  # verbatim redelivery
    assert rows["nation"]["n_null_fk"] == 1  # the NULLMARK row
    # exactly ORPHANIA: the NULL-FK row must NOT count as an orphan,
    # and the NULL-PK region ghost must not NULL-poison the probe
    assert rows["nation"]["n_orphan"] == 1


# --- stat_cramers_v: structural identities -----------------------------------


def test_cramers_v_in_unit_interval_and_consistent_with_chi2(spark):
    v = _REGISTRY["stat_cramers_v"].fn(spark, SF_DIR).collect()[0]
    assert 0.0 <= v["cramers_v"] <= 1.0
    chi2 = _REGISTRY["stat_chi2_independence"].fn(spark, SF_DIR).collect()[0]
    # same contingency table → same chi2 and dof
    assert abs(v["chi2"] - chi2["chi2"]) < 1e-9
    assert v["dof"] == chi2["dof"]
    # V re-derives from chi2/n/dof structure (min(r-1,k-1) = dof/max side)
    assert v["cramers_v"] == pytest.approx(
        math.sqrt(v["chi2"] / (v["n_events"] * min(4, 6))), abs=2e-4
    )


# --- ts_variance_ratio: brute-force cross-check ------------------------------


def test_variance_ratio_matches_bruteforce(spark):
    row = _REGISTRY["ts_variance_ratio"].fn(spark, SF_DIR).collect()[0]
    daily = duckdb.execute(
        f"""
        SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS x
        FROM read_parquet('{SF_DIR}/orders.parquet')
        WHERE o_orderdate IS NOT NULL
        GROUP BY o_orderdate ORDER BY o_orderdate
        """
    ).fetchall()
    xs = [r[0] for r in daily]
    ys = [sum(xs[i - 6 : i + 1]) for i in range(6, len(xs))]

    def var0(v):
        m = sum(v) / len(v)
        return sum((a - m) ** 2 for a in v) / len(v)

    vr = var0(ys) / (7 * var0(xs))
    assert row["n_days"] == len(xs)
    assert row["n_windows"] == len(ys)
    assert row["vr7"] == pytest.approx(vr, abs=2e-4)


# --- graph_assortativity: brute-force on the edge list -----------------------


def test_assortativity_matches_bruteforce_pearson(spark):
    row = _REGISTRY["graph_assortativity"].fn(spark, SF_DIR).collect()[0]
    from training_feed_kinesis_spark.operators.graph import _edges

    edges = [(r["pa"], r["pb"]) for r in _edges(spark, SF_DIR).collect()]
    assert row["n_edges"] == len(edges)
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    js = [deg[a] for a, b in edges]
    ks = [deg[b] for a, b in edges]
    m = len(edges)
    A = sum(j * k for j, k in zip(js, ks))
    B2 = sum(j + k for j, k in zip(js, ks))
    C2 = sum(j * j + k * k for j, k in zip(js, ks))
    r = (4 * m * A - B2 * B2) / (2 * m * C2 - B2 * B2)
    assert -1.0 <= row["assortativity"] <= 1.0
    assert row["assortativity"] == pytest.approx(r, abs=2e-4)


def test_assortativity_survives_int64_overflow_degrees(spark):
    """r8 ADVICE: the moment sums must widen past BIGINT. Planted
    degrees of 2^30/2^31 make Σjk ≈ 1.6e19 > 2^63−1: the old BIGINT
    spelling silently wraps on (non-ANSI) Spark and errors on DuckDB;
    the DECIMAL(38,0) spelling is exact. Expected value computed with
    Python arbitrary-precision ints."""
    from training_feed_kinesis_spark.operators.ops_wave100 import (
        _assortativity_from_jk,
    )

    big, small = 2**31, 2**30
    jk = [
        (big, big),
        (big, small),
        (small, big),
        (small, small),
        (big, big),
        (small, small),
    ]
    A = sum(j * k for j, k in jk)
    assert A > 2**63 - 1  # the fixture genuinely exceeds int64
    m = len(jk)
    B2 = sum(j + k for j, k in jk)
    C2 = sum(j * j + k * k for j, k in jk)
    expect = (4 * m * A - B2 * B2) / (2 * m * C2 - B2 * B2)
    ed = spark.createDataFrame(jk, "j: long, k: long")
    row = _assortativity_from_jk(ed).collect()[0]
    assert row["n_edges"] == m
    assert row["assortativity"] == pytest.approx(expect, abs=2e-4)


# --- llm_length_winsor: robustness property ----------------------------------


@pytest.fixture(scope="module")
def whale_doc_dir(tmp_path_factory):
    """documents plus one planted million-char whale per language: the
    raw mean must move, the winsorized and trimmed means must not
    (that robustness IS the operator's reason to exist)."""
    d = tmp_path_factory.mktemp("w100whale")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')
          UNION ALL
          SELECT 900000 + ROW_NUMBER() OVER () AS doc_id,
                 'whale' AS text, lang, 'synthetic' AS source,
                 1000000 AS n_chars
          FROM (SELECT DISTINCT lang
                FROM read_parquet('{SF_DIR}/documents.parquet'))
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_length_winsor_resists_planted_whale(spark, whale_doc_dir):
    clean = {
        r["lang"]: r
        for r in _REGISTRY["llm_length_winsor"].fn(spark, SF_DIR).collect()
    }
    dirty = {
        r["lang"]: r
        for r in _REGISTRY["llm_length_winsor"]
        .fn(spark, whale_doc_dir)
        .collect()
    }
    for lang, c in clean.items():
        w = dirty[lang]
        raw_shift = w["raw_mean"] - c["raw_mean"]
        winsor_shift = abs(w["winsor_mean"] - c["winsor_mean"])
        trim_shift = abs(w["trim_mean"] - c["trim_mean"])
        assert raw_shift > 1000  # the whale drags the raw mean
        # robust estimators move by at most the p95 re-estimation jitter
        assert winsor_shift < raw_shift / 10
        assert trim_shift < raw_shift / 10
