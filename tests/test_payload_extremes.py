"""Payload-extremes corruption replay class (round 12; SURVEY §5.3.13).

The campaign: a full-registry sweep over sf0.01 with payload-extreme
embeddings (NULL / truncated-32-dim / all-zero / NaN / NULL / +Inf /
1e30 components / extended 80-dim, by vec_id % 20) and degenerate
documents (empty / single-char / 'lorem '×200 / 100 KB repeated text,
by doc_id % 17, n_chars consistent). Seam families found and fixed
one-semantics-both-engines:

1. GEOMETRY ADMISSION CONTRACT (llm_similarity.GEO_GATE): cosine/LSH
   geometry is undefined for corrupt vectors and the engines disagree
   about HOW — Spark's zip_with NULL-pads a dim-mismatched pair while
   DuckDB's range-indexed list_sum silently sums the overlap; a zero
   norm ANSI-errors vs IEEE-NaNs; NaN comparisons follow different
   dialects. Every geometry consumer now gates its input map-side;
   census keys stay ungated BY DESIGN.
2. TOTAL canonicalization (exact.Q4_TOKEN): content-hash quantizers
   (composite census, admission election) hard-errored on NaN (ANSI
   CAST overflow, both engines) and silently DROPPED NULL components
   from array_join.
3. O(chars²)/O(tokens²) oracle and plan shapes on long documents:
   split/translate inlined in per-element lambdas, DuckDB list slices
   in lambdas, per-position char-indexed substr (the dup-span family —
   fixed with the K-shifted-chunkings linear enumeration, GRAMS_CTES).
4. Degenerate-text pins: sentences() blank contract, non-empty word
   tokens, 1-word docs vs Spark's DESCENDING sequence(1, 0),
   fn_array_hof's list_sum skip-NULL mirroring.

This module pins the class at sf0.001: fixture triggers asserted
non-vacuous, every consumer key oracle-matched on the corrupted dir,
and the gate mechanism pinned directly.
"""

import shutil

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()

PAYLOAD_CONSUMERS = [
    # geometry admission family
    "llm_dedup_embed",
    "llm_dedup_embed_lsh",
    "llm_sim_topk",
    "llm_dedup_clusters",
    "llm_dedup_apply",
    "fn_array_hof",
    # canonicalization tokens
    "dq_corruption_composite_census",
    # long/degenerate documents
    "fn_sentences",
    "llm_retrieval_fusion_rrf",
    "llm_containment_pairs",
    "llm_stopshingle_jaccard",
    "llm_dedup_near",
    "llm_contamination",
    "llm_dup_span_census",
    "llm_dup_span_extract",
    # ungated-by-design censuses must SEE the dirt (asserted below)
    "dq_embedding_validate",
]


@pytest.fixture(scope="module")
def payload_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("payload_r12")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT vec_id,
                 CASE WHEN vec_id % 20 = 0 THEN NULL
                      WHEN vec_id % 20 = 1 THEN embedding[1:32]
                      WHEN vec_id % 20 = 2
                        THEN list_transform(embedding, x -> 0.0::FLOAT)
                      WHEN vec_id % 20 = 3
                        THEN list_append(embedding[1:63], 'NaN'::FLOAT)
                      WHEN vec_id % 20 = 4
                        THEN list_append(embedding[1:63], NULL::FLOAT)
                      WHEN vec_id % 20 = 5
                        THEN list_append(embedding[1:63], 'Infinity'::FLOAT)
                      WHEN vec_id % 20 = 6
                        THEN list_append(embedding[1:63], 1e30::FLOAT)
                      WHEN vec_id % 20 = 7
                        THEN list_concat(embedding,
                               list_transform(range(1, 17), i -> 0.5::FLOAT))
                      ELSE embedding END AS embedding,
                 label
          FROM read_parquet('{SF_DIR}/embeddings.parquet')
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT doc_id,
                 CASE WHEN doc_id % 17 = 1 THEN ''
                      WHEN doc_id % 17 = 2 THEN 'x'
                      WHEN doc_id % 17 = 3 THEN repeat('lorem ', 200)
                      WHEN doc_id % 17 = 4 THEN repeat(
                        'the quick brown fox jumps over the lazy dog again ',
                        2000)
                      ELSE text END AS text,
                 lang, source,
                 length(CASE WHEN doc_id % 17 = 1 THEN ''
                             WHEN doc_id % 17 = 2 THEN 'x'
                             WHEN doc_id % 17 = 3 THEN repeat('lorem ', 200)
                             WHEN doc_id % 17 = 4 THEN repeat(
                               'the quick brown fox jumps over the lazy dog again ',
                               2000)
                             ELSE text END)::BIGINT AS n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    for t in TABLES:
        if t not in ("embeddings", "documents"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck_payload(payload_dir):
    with oracle.connect(payload_dir) as con:
        yield con


def test_fixture_nonvacuous(payload_dir):
    con = duckdb.connect()
    emb = f"read_parquet('{payload_dir}/embeddings.parquet')"
    docs = f"read_parquet('{payload_dir}/documents.parquet')"
    checks = {
        "null_vec": f"SELECT COUNT(*) FROM {emb} WHERE embedding IS NULL",
        "short_dim": f"SELECT COUNT(*) FROM {emb} WHERE len(embedding) = 32",
        "long_dim": f"SELECT COUNT(*) FROM {emb} WHERE len(embedding) = 80",
        "nonfinite": (
            f"SELECT COUNT(*) FROM {emb} WHERE len(list_filter(embedding,"
            " x -> isnan(CAST(x AS DOUBLE)))) > 0"
            " OR len(list_filter(embedding,"
            " x -> CAST(x AS DOUBLE) = CAST('Infinity' AS DOUBLE))) > 0"
        ),
        "over_grid": (
            f"SELECT COUNT(*) FROM {emb} WHERE len(list_filter(embedding,"
            " x -> abs(CAST(x AS DOUBLE)) >= 9.0e14"
            " AND NOT isnan(CAST(x AS DOUBLE))"
            " AND abs(CAST(x AS DOUBLE)) < CAST('Infinity' AS DOUBLE))) > 0"
        ),
        "all_zero": (
            f"SELECT COUNT(*) FROM {emb} WHERE embedding IS NOT NULL AND"
            " len(list_filter(embedding, x -> x != 0)) = 0"
        ),
        "empty_doc": f"SELECT COUNT(*) FROM {docs} WHERE n_chars = 0",
        "long_doc": f"SELECT COUNT(*) FROM {docs} WHERE n_chars >= 100000",
    }
    for name, q in checks.items():
        assert con.execute(q).fetchone()[0] > 0, f"trigger missing: {name}"
    con.close()


@pytest.mark.parametrize("key", PAYLOAD_CONSUMERS)
def test_ops_survive_payload_extremes(key, spark, payload_dir, duck_payload):
    spec = _REGISTRY[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(spec.fn(spark, payload_dir), duck_payload, spec.oracle)


def test_geo_gate_is_identity_on_clean_corpus(spark):
    """On the generated corpus the geometry gate must admit every
    vector — the gate changes NOTHING on clean data."""
    from training_feed_kinesis_spark.operators.llm_similarity import geo_gate
    from training_feed_kinesis_spark.tables import load_table

    em = load_table(spark, SF_DIR, "embeddings")
    assert geo_gate(em).count() == em.count()


def test_geo_gate_rejects_every_planted_class(spark, payload_dir):
    """Each corrupt class must be rejected; clean rows admitted."""
    from pyspark.sql import functions as F

    from training_feed_kinesis_spark.operators.llm_similarity import geo_gate
    from training_feed_kinesis_spark.tables import load_table

    em = load_table(spark, payload_dir, "embeddings")
    admitted = geo_gate(em).select("vec_id")
    bad = admitted.filter(
        (F.col("vec_id") % 20 >= 0) & (F.col("vec_id") % 20 <= 7)
    )
    assert bad.count() == 0, [r.vec_id for r in bad.collect()[:5]]
    n_clean = em.filter(F.col("vec_id") % 20 > 7).count()
    assert admitted.count() == n_clean


def test_embedding_census_still_sees_the_dirt(spark, payload_dir, duck_payload):
    """dq_embedding_validate stays ungated: its malformation counters
    must fire on this dir (the census the gate is calibrated against)."""
    spec = _REGISTRY["dq_embedding_validate"]
    rows = spec.fn(spark, payload_dir).collect()
    tot = {
        c: sum(r[c] for r in rows)
        for c in ("n_null", "n_wrong_dim", "n_all_zero", "n_nonfinite")
    }
    assert all(v > 0 for v in tot.values()), tot
