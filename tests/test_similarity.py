"""Similarity-search validation beyond the DuckDB oracle (SURVEY §2.J).

The exact brute-force query (llm_sim_topk) is oracled; these tests validate
the approximate variants against an independent numpy ground truth:
  * every cosine an ANN variant reports must equal the true cosine;
  * IVF results must be the true top-k WITHIN the routed cells (the fixture
    embeddings are label-random, so cross-cell recall is not a meaningful
    target here — cell quality is a property of the quantizer, exactness
    within cells is a property of the engine, and we test the engine).
  * LSH pairs must respect the distance threshold exactly.
"""

from __future__ import annotations

import numpy as np
import pytest

from .conftest import SF_DIR, assert_matches_oracle


@pytest.fixture(scope="module")
def ground_truth():
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT vec_id, label, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    labels = np.array([r[1] for r in rows])
    X = np.array([r[2] for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    return ids, labels, Xn


def test_sim_topk_matches_numpy(spark, ground_truth):
    from training_feed_kinesis_spark.operators.llm_similarity import llm_sim_topk

    ids, _, Xn = ground_truth
    res = llm_sim_topk(spark, SF_DIR).toPandas()
    S = Xn @ Xn.T
    idx = {v: i for i, v in enumerate(ids)}
    for _, r in res.iterrows():
        true_cos = S[idx[r.query_id], idx[r.neighbor_id]]
        assert abs(r.cosine - true_cos) < 1e-3, (r.query_id, r.neighbor_id)


def test_sim_ivf_exact_within_cells(spark, ground_truth):
    from training_feed_kinesis_spark.operators.llm_similarity import (
        TOPK,
        llm_sim_ivf,
    )

    ids, labels, Xn = ground_truth
    res = llm_sim_ivf(spark, SF_DIR).toPandas()
    S = Xn @ Xn.T
    idx = {v: i for i, v in enumerate(ids)}
    for qid, grp in res.groupby("query_id"):
        assert len(grp) <= TOPK
        cells = set(labels[[idx[n] for n in grp.neighbor_id]])
        # within the routed cells, the reported neighbors are the true top-k
        cell_members = [
            v for v in ids if labels[idx[v]] in cells and v != qid
        ]
        true_best = sorted(
            cell_members, key=lambda v: (-round(S[idx[qid], idx[v]], 4), v)
        )[: len(grp)]
        got = sorted(grp.neighbor_id.tolist())
        assert got == sorted(true_best), f"query {qid}: {got} != {sorted(true_best)}"
        for _, r in grp.iterrows():
            assert abs(r.cosine - S[idx[r.query_id], idx[r.neighbor_id]]) < 1e-3


def test_sim_lsh_respects_threshold(spark, ground_truth):
    from training_feed_kinesis_spark.operators.llm_similarity import llm_sim_lsh

    ids, _, _ = ground_truth
    import duckdb

    rows = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    ).fetchall()
    X = {r[0]: np.array(r[1], dtype=np.float64) for r in rows}
    res = llm_sim_lsh(spark, SF_DIR).toPandas()
    for _, r in res.iterrows():
        true_dist = np.linalg.norm(X[r.a_id] - X[r.b_id])
        assert true_dist <= 1.0 + 1e-6
        assert abs(r.euclidean_dist - true_dist) < 1e-3
        assert r.a_id < r.b_id


def test_multimodal_transform_invariants(spark):
    """Stub kernels honor the contract: images resample to exactly
    _RESIZE_BYTES; audio keeps every 2nd 4-byte frame of the 16-byte
    payload (= 8 bytes, 2 frames)."""
    from training_feed_kinesis_spark.operators.multimodal import (
        _RESIZE_BYTES,
        llm_multimodal_transform,
    )

    rows = llm_multimodal_transform(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.out_bytes == len(r.payload_out)
        if r.modality == "image":
            assert r.out_bytes == _RESIZE_BYTES and r.n_frames_sampled == 1
        else:
            assert r.modality == "audio"
            assert r.out_bytes == 8 and r.n_frames_sampled == 2


def test_sim_lsh_recall_floor_on_planted_pairs(spark, tmp_path):
    """Recall invariant for the LSH candidate generator (VERDICT r3 item 7):
    the corpus has no true sub-threshold pairs (the precision test above is
    therefore recall-vacuous), so plant 20 twin pairs at distance ~0.3
    (well inside the 1.0 join threshold) among 60 far-apart decoys and
    require the approx join to recover >= 90% of them. At bucketLength=2.0
    a 0.3-distance pair collides in any one hash table with prob >= 0.85,
    and 3 OR-ed tables push the miss rate below 0.4%."""
    import os

    import numpy as np

    from training_feed_kinesis_spark.operators.llm_similarity import llm_sim_lsh

    rng = np.random.default_rng(7)
    rows, truth = [], set()
    vid = 0
    for _ in range(20):
        base = rng.normal(0, 2.0, 64)
        twin = base + rng.normal(0, 0.3 / 8.0, 64)  # E||noise|| ≈ 0.3
        rows.append((vid, base.astype("float32").tolist(), 0))
        rows.append((vid + 1, twin.astype("float32").tolist(), 0))
        truth.add((vid, vid + 1))
        vid += 2
    for _ in range(60):
        rows.append((vid, (rng.normal(0, 2.0, 64)).astype("float32").tolist(), 1))
        vid += 1
    d = str(tmp_path / "lsh_recall_fixture")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
    X = {r[0]: np.array(r[1], dtype=np.float64) for r in rows}
    true_pairs = {
        (a, b)
        for a in X
        for b in X
        if a < b and np.linalg.norm(X[a] - X[b]) <= 1.0
    }
    assert truth <= true_pairs  # the plants really are sub-threshold
    got = {(r.a_id, r.b_id) for r in llm_sim_lsh(spark, d).collect()}
    recall = len(got & true_pairs) / len(true_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(true_pairs)} pairs"


def test_embed_stats_mean_rounding_to_zero_has_no_sign(spark, tmp_path):
    """A per-label mean in (-5e-5, 0) rounds to -0.0 in DuckDB and 0.0 in
    Spark; both spellings add 0.0 so the cell is 0.0 on both engines."""
    import shutil

    import duckdb

    from training_feed_kinesis_spark import oracle
    from training_feed_kinesis_spark.registry import load_all
    from training_feed_kinesis_spark.tables import TABLES

    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    src = f"read_parquet('{SF_DIR}/embeddings.parquet')"
    duckdb.execute(
        f"""COPY (SELECT vec_id,
                  CASE WHEN label = 6
                       THEN list_transform(embedding, x -> CAST(-0.00002 AS FLOAT))
                       ELSE embedding END AS embedding,
                  label
                FROM {src}) TO '{tmp_path}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    spec = load_all()["llm_embed_stats"]
    with oracle.connect(str(tmp_path)) as con:
        raw = con.execute(
            "SELECT ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 4)"
            " FROM embeddings WHERE label = 6"
        ).fetchone()[0]
        assert repr(raw) == "-0.0"  # the fixture holds a signed-zero cell
        assert_matches_oracle(spec.fn(spark, str(tmp_path)), con, spec.oracle)
