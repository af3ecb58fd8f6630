"""CI pin for the physical row-order permutation class (round 9).

The r8 driver run proved that a key can match DuckDB on the clean
fixture and still hash-FAIL at the driver purely because the PHYSICAL
row order changed the float accumulation order (llm_dsir_weight,
ROUND(AVG(double),4) knife edge). scripts/permute_sweep.py hunts the
class over the full registry at sf0.01 (r9: seeds 1, 2 and an sf0.1
seed all 579/579 clean after the dsir fix); this test keeps a CHEAP
permanent guard in CI — the most float-reduction-heavy oracled keys,
Spark vs DuckDB over one seeded permutation of all tables at sf0.001.
The exact (float_tol=0) comparator is the point: a knife-edge flip
fails the rounded-hash check exactly like the driver would.
"""

from __future__ import annotations

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()

# keys whose terminal values ride double reductions over many rows —
# the surface where accumulation order can matter if a spelling ever
# regresses from the exact-integer discipline
PERMUTATION_SENSITIVE_KEYS = [
    "llm_dsir_weight",      # the r8 driver fail, now integer-quantized
    "llm_tfidf",
    "llm_perplexity_buckets",
    "llm_zipf_slope",
    "llm_ngram_entropy_rate",
    "llm_readability_score",
    "llm_embed_stats",
    "agg_stats",
    "stat_spearman",
    "stat_anova_oneway",
    "ts_ewma",
    "ts_holt_winters",
    "events_eb_shrinkage",
    "ml_ridge_closed_form",
    "vec_pca_power",
    # the r9 sf0.1-permutation finds: ROUND of a float revenue SUM per
    # entity flipped a cent with accumulation order; now _REV_S-exact
    "supplier_concentration_hhi",
    "orders_abc_xyz",
    "revenue_abc_class",
]


@pytest.fixture(scope="module")
def permuted_sf(tmp_path_factory):
    """All tables rewritten in a seeded hash order — a different
    physical order than the generator emitted, hence different scan
    splits, different partial-agg grouping, different reduction order."""
    d = tmp_path_factory.mktemp("permuted001")
    for t in TABLES:
        duckdb.execute(
            f"""
            COPY (
              SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet') _r
              ORDER BY md5(CONCAT('ci9|', _r::VARCHAR))
            ) TO '{d}/{t}.parquet' (FORMAT PARQUET)
            """
        )
    return str(d)


@pytest.fixture(scope="module")
def duck_permuted(permuted_sf):
    with oracle.connect(permuted_sf) as con:
        yield con


@pytest.mark.parametrize("key", PERMUTATION_SENSITIVE_KEYS)
def test_float_heavy_keys_survive_row_permutation(
    key, spark, permuted_sf, duck_permuted
):
    spec = _REGISTRY[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, permuted_sf), duck_permuted, spec.oracle
    )
