"""Wave-101 invariants: planted-fixture detection proofs, brute-force
cross-checks, and structural identities for the round-9 keys (the
per-key differential vs DuckDB runs in test_operators.py; these prove
the operators are NON-VACUOUS)."""

from __future__ import annotations

import hashlib
import math
import shutil

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR

_REGISTRY = load_all()


# --- dq_key_skew_census: must FIRE on a planted hot key ----------------------


@pytest.fixture(scope="module")
def hot_key_dir(tmp_path_factory):
    """events with user 1 redelivered 40x — far past 10x the mean
    multiplicity — so the events.user_id edge must flag >= 1 hot key."""
    d = tmp_path_factory.mktemp("w101hot")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SF_DIR}/events.parquet')
          UNION ALL
          SELECT e.* FROM read_parquet('{SF_DIR}/events.parquet') e,
               (SELECT unnest(range(0, 40)) AS r)
          WHERE e.user_id = 1
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_key_skew_census_clean_shape(spark):
    rows = {
        r["edge"]: r
        for r in _REGISTRY["dq_key_skew_census"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {
        "lineitem.l_orderkey", "lineitem.l_partkey", "lineitem.l_suppkey",
        "orders.o_custkey", "events.user_id",
    }
    for r in rows.values():
        assert r["n_rows"] >= r["n_keys"] > 0
        assert r["max_mult"] >= 1
        # ppm share is exact integer arithmetic
        assert r["top1_share_ppm"] == r["max_mult"] * 1_000_000 // r["n_rows"]


def test_key_skew_census_flags_planted_hot_key(spark, hot_key_dir):
    rows = {
        r["edge"]: r
        for r in _REGISTRY["dq_key_skew_census"]
        .fn(spark, hot_key_dir)
        .collect()
    }
    assert rows["events.user_id"]["n_hot_keys"] >= 1
    base = {
        r["edge"]: r
        for r in _REGISTRY["dq_key_skew_census"].fn(spark, SF_DIR).collect()
    }
    assert (
        rows["events.user_id"]["max_mult"]
        > 10 * base["events.user_id"]["max_mult"]
    )


# --- vec_mmd_moment: null case is exactly zero; brute force matches ----------


@pytest.fixture(scope="module")
def mmd_null_dir(tmp_path_factory):
    """Group B is a vec_id-shifted verbatim copy of group A: identical
    vector multisets => both MMD estimates are EXACTLY zero (integer
    moment difference is zero, not epsilon)."""
    d = tmp_path_factory.mktemp("w101mmdnull")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT vec_id, embedding, 0 AS label
          FROM read_parquet('{SF_DIR}/embeddings.parquet')
          UNION ALL
          SELECT vec_id + 1000000, embedding, 9 AS label
          FROM read_parquet('{SF_DIR}/embeddings.parquet')
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_mmd_identical_groups_is_exactly_zero(spark, mmd_null_dir):
    row = _REGISTRY["vec_mmd_moment"].fn(spark, mmd_null_dir).collect()[0]
    assert row["n_a"] == row["n_b"] > 0
    assert row["mmd2_lin"] == 0.0
    assert row["mmd2_poly2"] == 0.0


def test_mmd_matches_bruteforce_moments(spark):
    import numpy as np

    rows = duckdb.execute(
        f"SELECT vec_id, embedding, label FROM"
        f" read_parquet('{SF_DIR}/embeddings.parquet')"
        f" WHERE embedding IS NOT NULL"
    ).fetchall()
    qa = [
        np.round(np.array(e, dtype=np.float64) * 10000).astype(np.int64)
        for _, e, lbl in rows
        if lbl <= 4
    ]
    qb = [
        np.round(np.array(e, dtype=np.float64) * 10000).astype(np.int64)
        for _, e, lbl in rows
        if lbl > 4
    ]
    na, nb = len(qa), len(qb)
    ua, ub = sum(qa), sum(qb)
    # exact integer cross-multiplied spellings (python ints are exact)
    lin = sum(int(x) ** 2 for x in (ua * nb - ub * na))
    sa = sum(np.outer(v, v) for v in qa).astype(object)
    sb = sum(np.outer(v, v) for v in qb).astype(object)
    p2 = int(((sa * nb - sb * na) ** 2).sum())
    exp_lin = lin / (na * nb * 1e4) ** 2
    exp_p2 = p2 / (na * nb * 1e8) ** 2
    row = _REGISTRY["vec_mmd_moment"].fn(spark, SF_DIR).collect()[0]
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert row["mmd2_lin"] == pytest.approx(exp_lin, abs=2e-6)
    assert row["mmd2_poly2"] == pytest.approx(exp_p2, abs=2e-6)
    # the statistic detects the real label split (non-vacuity)
    assert row["mmd2_lin"] > 0


# --- stat_permutation_shift: brute-force replication -------------------------


def test_permutation_shift_matches_bruteforce(spark):
    per_user = duckdb.execute(
        f"""
        SELECT user_id, SUM(CAST(ROUND(value * 100, 0) AS BIGINT)), COUNT(*)
        FROM read_parquet('{SF_DIR}/events.parquet')
        WHERE user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY user_id
        """
    ).fetchall()

    def t_stat(assign):
        sa = sum(c for u, c, n in per_user if assign(u))
        na = sum(n for u, c, n in per_user if assign(u))
        sb = sum(c for u, c, n in per_user if not assign(u))
        nb = sum(n for u, c, n in per_user if not assign(u))
        if na == 0 or nb == 0:
            return None  # degenerate one-sided draw — dropped by the guard
        return sa / na - sb / nb

    t_obs = t_stat(lambda u: u % 2 == 0)
    n_ge = 0
    n_kept = 0
    for k in range(1, 200):
        def flip(u, k=k):
            h = hashlib.md5(f"{u}:{k}".encode()).hexdigest()
            return h[0] in "01234567"

        t_k = t_stat(flip)
        if t_k is None:
            continue
        n_kept += 1
        if abs(t_k) >= abs(t_obs):
            n_ge += 1
    row = _REGISTRY["stat_permutation_shift"].fn(spark, SF_DIR).collect()[0]
    # n_perms reports the RETAINED count (ADVICE r9) — on this fixture
    # every draw keeps both arms populated, so it equals the nominal 199
    assert row["n_perms"] == n_kept == 199
    assert row["n_ge"] == n_ge
    assert row["t_obs_cents"] == pytest.approx(round(t_obs, 4), abs=1e-9)
    assert row["p_value"] == pytest.approx(
        round((1 + n_ge) / (1 + n_kept), 4), abs=1e-9
    )


# --- llm_containment_pairs: planted quote must surface -----------------------


@pytest.fixture(scope="module")
def quoted_doc_dir(tmp_path_factory):
    """Documents plus a planted pair: doc 910000 is a verbatim slice of
    doc 910001 (which adds a long unique tail), with every token
    globally unique so the df cap cannot thin the evidence. Containment
    contained->container must be 1.0; the reverse direction must NOT
    appear (tail shingles dilute it below the threshold)."""
    d = tmp_path_factory.mktemp("w101quote")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    core = " ".join(f"qzcore{i}" for i in range(12))
    tail = " ".join(f"qztail{i}" for i in range(40))
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (910000, '{core}', 'en', 'planted', {len(core)}),
            (910001, '{core} {tail}', 'en', 'planted',
             {len(core) + len(tail) + 1})
          ) t(doc_id, text, lang, source, n_chars)
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_containment_detects_planted_quote(spark, quoted_doc_dir):
    rows = _REGISTRY["llm_containment_pairs"].fn(spark, quoted_doc_dir)
    got = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in rows.collect()
    }
    assert got.get((910000, 910001)) == pytest.approx(1.0)
    assert (910001, 910000) not in got


# --- llm_context_length_waste: exact packing identities ----------------------


def test_context_waste_identities(spark):
    rows = _REGISTRY["llm_context_length_waste"].fn(spark, SF_DIR).collect()
    assert [r["ctx_len"] for r in rows] == [512, 1024, 2048, 4096]
    total = duckdb.execute(
        f"SELECT SUM(len(string_split(lower(text), ' '))), COUNT(*) FROM"
        f" read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()
    for r in rows:
        assert r["total_tokens"] == total[0]
        assert r["n_docs"] == total[1]
        # slot capacity identity: slots*L = tokens + padding, exactly
        assert (
            r["n_slots"] * r["ctx_len"]
            == r["total_tokens"] + r["pad_tokens"]
        )
        assert r["utilization_pct"] == pytest.approx(
            round(
                100.0 * r["total_tokens"] / (r["n_slots"] * r["ctx_len"]), 4
            ),
            abs=1e-9,
        )


# --- multimodal_aspect_bucket: brute-force assignment ------------------------


def test_aspect_bucket_matches_bruteforce(spark):
    from training_feed_kinesis_spark.operators.ops_wave101 import (
        _ASPECT_BUCKETS,
    )

    ids = [
        r[0]
        for r in duckdb.execute(
            f"SELECT doc_id FROM read_parquet('{SF_DIR}/documents.parquet')"
            f" WHERE doc_id % 3 = 1"
        ).fetchall()
    ]
    from collections import Counter

    expect: Counter = Counter()
    for doc_id in ids:
        w = 256 + (doc_id * 37) % 1792
        h = 256 + (doc_id * 53) % 1792
        best = min(
            enumerate(_ASPECT_BUCKETS),
            key=lambda p: (abs(w * p[1][1] - h * p[1][0]), p[0]),
        )
        expect[best[1]] += 1
    rows = _REGISTRY["multimodal_aspect_bucket"].fn(spark, SF_DIR).collect()
    got = {(r["bucket_w"], r["bucket_h"]): r["n_images"] for r in rows}
    assert got == {k: v for k, v in expect.items()}
    assert sum(got.values()) == len(ids) > 0


# --- dp_epsilon_composition_plan: formula + monotonicity ---------------------


def test_dp_plan_formula_and_monotonicity(spark):
    n = duckdb.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    rows = {
        (r["sigma"], r["epochs"]): r
        for r in _REGISTRY["dp_epsilon_composition_plan"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert len(rows) == 6
    b_eff = min(4096, n)
    for (sigma, epochs), r in rows.items():
        steps = (n * epochs + b_eff - 1) // b_eff
        q = b_eff / n
        rho = steps * q * q / (2 * sigma * sigma)
        eps = rho + 2 * math.sqrt(rho * math.log(1e5))
        assert r["n_steps"] == steps
        assert r["epsilon"] == pytest.approx(round(eps, 4), abs=1e-9)
    # more noise => less epsilon; more epochs => more epsilon
    assert rows[(0.5, 1)]["epsilon"] > rows[(1.0, 1)]["epsilon"]
    assert rows[(1.0, 1)]["epsilon"] > rows[(2.0, 1)]["epsilon"]
    assert rows[(1.0, 3)]["epsilon"] > rows[(1.0, 1)]["epsilon"]


def test_dp_plan_empty_corpus_yields_no_plan(spark, tmp_path):
    """r9 empty-table sweep: q = B/0 was an ANSI DIVIDE_BY_ZERO crash
    (DuckDB silently gives Inf). An empty corpus must yield an EMPTY
    plan on both engines."""
    import shutil as _sh

    d = tmp_path / "emptydocs"
    d.mkdir()
    for t in TABLES:
        if t == "documents":
            duckdb.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
                f" WHERE 1=0) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        else:
            _sh.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    rows = (
        _REGISTRY["dp_epsilon_composition_plan"].fn(spark, str(d)).collect()
    )
    assert rows == []


# --- sql_order_by_all: ordering contract -------------------------------------


def test_order_by_all_is_fully_ordered(spark):
    rows = _REGISTRY["sql_order_by_all"].fn(spark, SF_DIR).collect()
    assert len(rows) > 0
    keys = [(r["priority"], r["in_1996"], r["n_orders"]) for r in rows]
    assert keys == sorted(keys)


# --- vec_mmd_moment: int64-overflow widening proof (ADVICE r9) ----------------


@pytest.fixture(scope="module")
def mmd_overflow_dir(tmp_path_factory):
    """Embeddings whose second-moment cross product sa·n_b genuinely
    exceeds int64: 20+20 constant vectors at 16600.0 / 16590.0 give
    per-cell sa = 20·(1.66e8)² ≈ 5.5e17, so sa·n_b ≈ 1.1e19 > 2⁶³−1.
    The pre-widening BIGINT spelling raises ARITHMETIC_OVERFLOW under
    ANSI where the oracle's HUGEINT succeeds (the engines-must-fail-
    together class); the per-term DECIMAL(38,0) spelling is exact."""
    d = tmp_path_factory.mktemp("w101mmdovf")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT g.k AS vec_id,
                 list_transform(range(1, 65),
                   i -> CAST(CASE WHEN g.k < 20 THEN 16600.0
                             ELSE 16590.0 END AS FLOAT)) AS embedding,
                 CASE WHEN g.k < 20 THEN 0 ELSE 9 END AS label
          FROM (SELECT unnest(range(0, 40)) AS k) g
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_mmd_survives_int64_overflow_moments(spark, mmd_overflow_dir):
    qa, qb, na, nb = 166000000, 165900000, 20, 20
    sa_cell = na * qa * qa  # exact python int
    assert sa_cell * nb > 2**63 - 1  # the fixture genuinely exceeds int64
    # exact integer expected values (python ints), then double division
    lin = 64 * (na * qa * nb - nb * qb * na) ** 2
    p2 = 64 * 64 * (sa_cell * nb - nb * qb * qb * na) ** 2
    exp_lin = lin / (na * nb * 1e4) ** 2
    exp_p2 = p2 / (na * nb * 1e8) ** 2
    row = _REGISTRY["vec_mmd_moment"].fn(spark, mmd_overflow_dir).collect()[0]
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert row["mmd2_lin"] == pytest.approx(exp_lin, rel=1e-9)
    assert row["mmd2_poly2"] == pytest.approx(exp_p2, rel=1e-9)
    # and the oracle agrees on the same fixture (engine parity held)
    with oracle.connect(mmd_overflow_dir) as con:
        got = con.execute(
            _REGISTRY["vec_mmd_moment"].oracle
        ).fetchall()[0]
        assert got[0] == na and got[1] == nb
        assert got[2] == pytest.approx(exp_lin, rel=1e-9)
        assert got[3] == pytest.approx(exp_p2, rel=1e-9)
