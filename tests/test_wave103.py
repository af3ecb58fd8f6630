"""Wave-103 invariants: brute-force keeper election, calibration
identities, and the census detection proof (the per-key differential vs
DuckDB runs in test_operators.py; these prove non-vacuity)."""

from __future__ import annotations

import shutil

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()


def test_keeper_lsh_matches_bruteforce_election(spark):
    """Keeper per component = max n_chars, min doc_id tiebreak, computed
    independently driver-side from the cluster labels + documents."""
    labels = {
        r.doc_id: r.component
        for r in _REGISTRY["llm_dedup_clusters_lsh"].fn(spark, SF_DIR).collect()
    }
    attrs = dict(
        duckdb.execute(
            f"SELECT doc_id, MAX(n_chars) FROM"
            f" read_parquet('{SF_DIR}/documents.parquet')"
            f" WHERE doc_id IS NOT NULL GROUP BY doc_id"
        ).fetchall()
    )
    best: dict = {}
    for doc_id, comp in labels.items():
        key = (-(attrs[doc_id] if attrs[doc_id] is not None else -1), doc_id)
        if comp not in best or key < best[comp][0]:
            best[comp] = (key, doc_id)
    rows = _REGISTRY["llm_dedup_keeper_lsh"].fn(spark, SF_DIR).collect()
    assert len(rows) == len(labels)
    n_keepers = 0
    for r in rows:
        assert r.component == labels[r.doc_id]
        assert r.keeper_id == best[r.component][1]
        assert r.is_keeper == int(r.doc_id == r.keeper_id)
        n_keepers += r.is_keeper
    assert n_keepers == len(best)


def test_minhash_calibration_identities(spark):
    rows = _REGISTRY["llm_minhash_est_calibration"].fn(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        # candidates share >= 1 full band (2 agreeing seeds of 8)
        assert 0.25 <= r.est_j <= 1.0
        assert abs(r.est_j * 8 - round(r.est_j * 8)) < 1e-9
        assert 0.0 <= r.mean_exact_j <= 1.0
        assert r.n_pairs > 0
    # bucket totals = the banded candidate-pair count
    n_cands = duckdb.execute(
        f"""
        WITH sh AS (
          SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_distinct(list_transform(
                     range(1, len(string_split(lower(text), ' ')) - 1),
                     i -> string_split(lower(text), ' ')[i] || ' ' ||
                          string_split(lower(text), ' ')[i+1] || ' ' ||
                          string_split(lower(text), ' ')[i+2]))) AS sh
            FROM read_parquet('{SF_DIR}/documents.parquet'))
        ),
        sigs AS (
          SELECT doc_id, seed, MIN(md5(seed::VARCHAR || ':' || sh)) AS minhash
          FROM sh, (SELECT unnest(range(0, 8)) AS seed) GROUP BY doc_id, seed
        ),
        bands AS (
          SELECT doc_id, seed // 2 AS band,
                 md5((seed // 2)::VARCHAR || ':' || MIN(minhash) || '|'
                     || MAX(minhash)) AS band_sig
          FROM sigs GROUP BY doc_id, seed // 2
        )
        SELECT COUNT(*) FROM (
          SELECT DISTINCT a.doc_id, b.doc_id
          FROM bands a JOIN bands b ON a.band = b.band
           AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
        """
    ).fetchone()[0]
    assert sum(r.n_pairs for r in rows) == n_cands


def test_census_clean_corpus_all_zero(spark):
    rows = _REGISTRY["dq_corruption_composite_census"].fn(spark, SF_DIR).collect()
    assert {r.tbl for r in rows} == {"documents", "embeddings", "events"}
    for r in rows:
        assert r.n_rows > 0
        assert (r.n_null_pk, r.n_dup_keys, r.n_conflicting) == (0, 0, 0), r


@pytest.fixture(scope="module")
def census_corrupt_dir(tmp_path_factory):
    """documents with a NULL-PK sliver, one verbatim duplicate (dup key,
    NOT conflicting) and one conflicting refetch (dup key AND
    conflicting) — the census must put each in the right column."""
    d = tmp_path_factory.mktemp("w103census")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (CASE WHEN doc_id % 17 = 3 THEN NULL
                            ELSE doc_id END AS doc_id)
          FROM read_parquet('{SF_DIR}/documents.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')
          WHERE doc_id % 17 = 5
          UNION ALL
          SELECT doc_id, upper(text) AS text, lang, source, n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
          WHERE doc_id % 17 = 7
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_census_flags_planted_corruption(spark, census_corrupt_dir):
    rows = {
        r.tbl: r
        for r in _REGISTRY["dq_corruption_composite_census"]
        .fn(spark, census_corrupt_dir)
        .collect()
    }
    doc = rows["documents"]
    assert doc.n_null_pk > 0
    assert doc.n_dup_keys > 0
    # conflicting strictly fewer than dup keys: the verbatim sliver is a
    # dup but NOT a conflict
    assert 0 < doc.n_conflicting < doc.n_dup_keys
    for t in ("embeddings", "events"):
        assert (rows[t].n_null_pk, rows[t].n_dup_keys,
                rows[t].n_conflicting) == (0, 0, 0)
    # and the oracle agrees on the corrupted dir
    with oracle.connect(census_corrupt_dir) as con:
        spec = _REGISTRY["dq_corruption_composite_census"]
        assert_matches_oracle(spec.fn(spark, census_corrupt_dir), con, spec.oracle)
