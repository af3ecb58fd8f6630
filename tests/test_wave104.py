"""Wave 104 — sign-LSH embedding near-dup pairs (round 11).

Beyond the auto-generated per-key differential in test_operators, pin
the properties that make ``llm_dedup_embed_lsh`` the trustworthy
default embedding-pair path:

  * PLANTED RECALL = 1: exact/near duplicate vectors (the regime the
    operator exists for — semantic dedup at cosine ≈ 1) must always be
    emitted, because identical quantized vectors have identical sign
    signatures in every band; the fixture's random vectors near the 0.5
    boundary are the weakest possible angle for any sign-LSH family and
    carry no such guarantee (module docstring geometry note).
  * SUBSET: emitted pairs ⊆ the exact all-pairs baseline
    (llm_dedup_embed) with the SAME cosine values — candidates only
    prune, the verify stage is shared spelling.
  * PLAN: the candidate join is an equi-join on (band, sig) — no
    CartesianProduct, no BroadcastNestedLoopJoin — and the sign-bit
    aggregation partial-aggregates map-side.
  * the oracle matches on the planted dir too (not just clean data),
    so the candidate-restricted semantics hold where output is dense.
"""

from __future__ import annotations

import contextlib
import io
import shutil

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def planted_dir(tmp_path_factory):
    """sf0.001 embeddings + planted duplicates: for vec_id % 25 = 3, an
    exact byte-copy at vec_id+10000 and a near-copy (one coordinate
    nudged by 0.01, cosine ≈ 0.999+) at vec_id+20000."""
    d = tmp_path_factory.mktemp("wave104_planted")
    src = f"{SF_DIR}/embeddings.parquet"
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{src}')
          UNION ALL
          SELECT vec_id + 10000 AS vec_id, embedding, label
          FROM read_parquet('{src}') WHERE vec_id % 25 = 3
          UNION ALL
          SELECT vec_id + 20000 AS vec_id,
                 list_transform(range(1, 65),
                   i -> CASE WHEN i = 1
                             THEN embedding[1] + CAST(0.01 AS FLOAT)
                             ELSE embedding[i] END) AS embedding,
                 label
          FROM read_parquet('{src}') WHERE vec_id % 25 = 3
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def test_planted_duplicates_all_recalled(spark, planted_dir):
    n_planted = duckdb.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/embeddings.parquet')"
        " WHERE vec_id % 25 = 3"
    ).fetchone()[0]
    assert n_planted > 0
    got = {
        (r.a_id, r.b_id)
        for r in _REGISTRY["llm_dedup_embed_lsh"].fn(spark, planted_dir).collect()
    }
    # every planted (original, exact-copy) pair: identical quantized
    # vectors share every band signature — candidacy is guaranteed, and
    # cosine = 1 passes any threshold (a < 10000 restricts to pairs
    # anchored at an ORIGINAL vector, excluding copy-to-copy pairs)
    exact_pairs = {(a, b) for a, b in got if a < 10000 and b == a + 10000}
    assert len(exact_pairs) == n_planted, (
        f"exact-duplicate recall {len(exact_pairs)}/{n_planted}"
    )
    # the near-copies (cosine ≈ 0.999): the ±0.01 nudge shifts each
    # plane's exact integer dot by at most 100 against a typical |dot|
    # of thousands, so a sign bit flips only on a knife edge — at least
    # one of the 8 bands keeps colliding for every planted near-pair
    near_pairs = {(a, b) for a, b in got if a < 10000 and b == a + 20000}
    assert len(near_pairs) == n_planted, (
        f"near-duplicate recall {len(near_pairs)}/{n_planted}"
    )


def test_lsh_pairs_subset_of_exact_baseline(spark, planted_dir):
    lsh = {
        (r.a_id, r.b_id): r.cosine
        for r in _REGISTRY["llm_dedup_embed_lsh"].fn(spark, planted_dir).collect()
    }
    exact = {
        (r.a_id, r.b_id): r.cosine
        for r in _REGISTRY["llm_dedup_embed"].fn(spark, planted_dir).collect()
    }
    assert lsh, "planted dir must produce pairs"
    assert set(lsh) <= set(exact)
    # shared verify spelling ⇒ identical cosines on the common pairs
    assert all(exact[k] == v for k, v in lsh.items())


def test_oracle_matches_on_planted_dir(spark, planted_dir):
    spec = _REGISTRY["llm_dedup_embed_lsh"]
    with oracle.connect(planted_dir) as con:
        assert_matches_oracle(spec.fn(spark, planted_dir), con, spec.oracle)


def test_candidate_join_is_equijoin_no_cartesian(spark):
    plan = _plan(_REGISTRY["llm_dedup_embed_lsh"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r12: signatures are computed fully map-side (one HOF projection,
    # zero shuffle); the remaining aggregates are the candidate-pair
    # dropDuplicates — pin that the pair dedup survives
    assert plan.count("HashAggregate") >= 2
    # and the former ×64 plane fan-out join must not come back
    assert "posexplode" not in plan


def test_candidate_volume_prunes_pair_space(spark):
    """The point of the LSH path: candidates ≪ n². On the random
    fixture (worst case for sign-LSH: all angles near 90°) the 8×8
    banding still admits only a few percent of all pairs."""
    from training_feed_kinesis_spark.operators.ops_wave104 import _sign_sigs

    sigs = _sign_sigs(spark, SF_DIR)
    n_vec = sigs.select("vec_id").distinct().count()
    a = sigs.selectExpr("vec_id AS a_id", "band", "sig")
    b = sigs.selectExpr("vec_id AS b_id", "band AS band_b", "sig AS sig_b")
    n_cand = (
        a.join(
            b,
            (a.band == b.band_b) & (a.sig == b.sig_b) & (a.a_id < b.b_id),
        )
        .select("a_id", "b_id")
        .distinct()
        .count()
    )
    all_pairs = n_vec * (n_vec - 1) // 2
    assert all_pairs > 0
    assert n_cand < 0.10 * all_pairs, (
        f"candidates {n_cand} of {all_pairs} pairs — pruning lost"
    )


def test_fixture_embedding_dim_matches_plane_matrix():
    """ADVICE r11: the sign-LSH signature is dim-coupled — the DuckDB
    oracle quantizes exactly range(1, _DIM+1) while the Spark spelling
    slices the first _DIM dims. Both truncate a longer array to the same
    prefix, but signing a PREFIX of a higher-dimensional embedding is a
    silent quality regression; pin the fixture dim so any change to the
    embedding width forces a deliberate _DIM/plane-matrix update."""
    from training_feed_kinesis_spark.operators.ops_wave104 import _DIM

    dims = duckdb.execute(
        f"SELECT DISTINCT len(embedding) FROM"
        f" read_parquet('{SF_DIR}/embeddings.parquet')"
        f" WHERE embedding IS NOT NULL"
    ).fetchall()
    assert dims == [(_DIM,)], (
        f"embeddings fixture dims {dims} != plane-matrix _DIM {_DIM}: "
        "update _DIM (and the md5 plane matrix + DuckDB CTE) together"
    )
