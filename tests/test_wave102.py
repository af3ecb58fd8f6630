"""Wave 102 — LSH-fed duplicate-cluster formation (round 10).

Beyond the auto-generated per-key differential in test_operators, pin
the properties that make ``llm_dedup_clusters_lsh`` the trustworthy
default cluster path:

  * the converged labels equal an independent driver-side union-find
    over the very pairs ``llm_dedup_near`` emits (the iteration is
    checked against a non-iterative reference, not just the SQL CTE);
  * the apply/yield report satisfies the conservation identities
    (Σ csize·n_clusters = |docs|, Σ n_dropped = |docs| − |components|);
  * zero-row documents (the r9 empty-table class) yield an
    oracle-matched empty on both new keys.
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


def _union_find(pairs):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min so roots are the component minimum, matching
            # the min-label semantics of cc_min_label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return find


def test_clusters_lsh_equal_union_find_over_near_pairs(spark):
    """cc_min_label over the banded-LSH edge set must agree with a
    driver-side union-find over the identical llm_dedup_near pairs."""
    pairs = [
        (r.a_id, r.b_id)
        for r in _REGISTRY["llm_dedup_near"].fn(spark, SF_DIR).collect()
    ]
    find = _union_find(pairs)
    got = {
        r.doc_id: r.component
        for r in _REGISTRY["llm_dedup_clusters_lsh"].fn(spark, SF_DIR).collect()
    }
    assert len(got) > 0
    for doc_id, component in got.items():
        assert component == find(doc_id), (doc_id, component, find(doc_id))


def test_apply_lsh_conservation_identities(spark):
    labels = _REGISTRY["llm_dedup_clusters_lsh"].fn(spark, SF_DIR).collect()
    n_docs = len(labels)
    n_components = len({r.component for r in labels})
    report = _REGISTRY["llm_dedup_apply_lsh"].fn(spark, SF_DIR).collect()
    assert sum(r.csize * r.n_clusters for r in report) == n_docs
    assert sum(r.n_dropped for r in report) == n_docs - n_components
    assert sum(r.n_clusters for r in report) == n_components


@pytest.mark.parametrize(
    "key", ["llm_dedup_clusters_lsh", "llm_dedup_apply_lsh"]
)
def test_empty_documents_oracle_matched(key, spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_docs_w102")
    for t in TABLES:
        if t == "documents":
            duckdb.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
                f" WHERE 1=0) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        else:
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    with oracle.connect(d) as con:
        spec = _REGISTRY[key]
        df = spec.fn(spark, str(d))
        assert df.count() == 0
        assert_matches_oracle(df, con, spec.oracle)
