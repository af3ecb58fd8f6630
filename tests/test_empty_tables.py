"""Empty-table replay class (round 9).

A feed's first day, a filtered-to-nothing partition, or a disabled
source all produce ZERO-row tables; an operator that crashes or
diverges there fails exactly when monitoring matters most. The r9
exhaustive sweeps (full registry vs DuckDB over dirs with documents /
events / embeddings truncated to zero rows) found 12 operators that
crashed or diverged on empty input:

  dp_epsilon_composition_plan   q = B/0 ANSI DIVIDE_BY_ZERO vs Inf
  stat_permutation_shift        NULL statistics vs vacuous p-value
  ts_holt_linear/_winters       slice(ys, k, size-k) negative length
  ts_turning_points             sqrt of negative variance (n < 2)
  ts_rollup_hierarchy           SQL emits the () grand row, Spark none
  events_attribution_markov_removal  driver KeyError 'start'
  source_kinesis_pyds(+_stream) null-typed empty Arrow filter mask /
                                sorted(None) TypeError
  vec_farthest_first_init       int(None) + 4 NULL oracle rows
  vec_mmr_rerank                NoneType subscript on empty pool
  llm_sim_lsh / llm_ann_recall  MLlib LSH.fit throws on 0 rows

Each now yields an ORACLE-MATCHED empty (or guarded) result; this
module pins the class at sf0.001.
"""

from __future__ import annotations

import shutil

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()

# (victim table, keys that crashed/diverged when it was empty, plus a
# couple of always-green sentinels proving the fixture is wired)
EMPTY_CASES = {
    "events": [
        "stat_permutation_shift",
        "ts_holt_linear",
        "ts_holt_winters",
        "ts_turning_points",
        "ts_rollup_hierarchy",
        "events_attribution_markov_removal",
        "source_kinesis_pyds",
        "agg_basic",          # sentinel: unrelated table, must stay green
        "events_dau_wau",     # sentinel: empty-input census
    ],
    "documents": [
        "dp_epsilon_composition_plan",
        "llm_dedup_exact",    # sentinel
        "llm_text_tokens",    # sentinel
    ],
    "embeddings": [
        "vec_farthest_first_init",
        "vec_mmr_rerank",
        "llm_sim_topk",       # sentinel
        "vec_dim_stats",      # sentinel
    ],
}


def _empty_dir(tmp_path_factory, victim: str) -> str:
    d = tmp_path_factory.mktemp(f"empty_{victim}")
    for t in TABLES:
        if t == victim:
            duckdb.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
                f" WHERE 1=0) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        else:
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def empty_dirs(tmp_path_factory):
    return {v: _empty_dir(tmp_path_factory, v) for v in EMPTY_CASES}


@pytest.fixture(scope="module")
def duck_empties(empty_dirs):
    cons = {v: oracle.connect(d) for v, d in empty_dirs.items()}
    yield cons
    for con in cons.values():
        con.close()


@pytest.mark.parametrize(
    "victim,key",
    [(v, k) for v, ks in EMPTY_CASES.items() for k in ks],
)
def test_ops_survive_empty_table(victim, key, spark, empty_dirs, duck_empties):
    spec = _REGISTRY[key]
    df = spec.fn(spark, empty_dirs[victim])
    if spec.oracle is None:
        # rows-only keys: must not crash; any row count is acceptable
        assert df.count() >= 0
    else:
        assert_matches_oracle(df, duck_empties[victim], spec.oracle)


@pytest.mark.parametrize("victim", list(EMPTY_CASES))
def test_empty_fixture_nonvacuous(victim, empty_dirs):
    n = duckdb.execute(
        f"SELECT COUNT(*) FROM"
        f" read_parquet('{empty_dirs[victim]}/{victim}.parquet')"
    ).fetchone()[0]
    assert n == 0


@pytest.mark.parametrize("key", ["llm_sim_lsh", "llm_ann_recall"])
def test_lsh_keys_survive_empty_embeddings(key, spark, empty_dirs):
    # rows-only keys (no oracle): the MLlib fit guard must yield an
    # EMPTY frame, not a Py4J crash
    out = _REGISTRY[key].fn(spark, empty_dirs["embeddings"])
    assert out.count() == 0
