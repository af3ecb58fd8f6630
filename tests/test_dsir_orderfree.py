"""Regression pin for the r8 driver hash-fail on ``llm_dsir_weight``.

CORRECTNESS_r08 recorded rows_match/schema_match but hash_match=false,
while the identical query MATCHed locally — the classic float-sum-order
knife edge: ``ROUND(AVG(llr), 4)`` averaged per-token doubles whose
accumulation order depends on physical row order / partitioning, so the
4th decimal flipped per RUN, not per engine. The fix quantizes each
bucket's llr ONCE to integer micro-units (256 fixed BIGINTs); the
per-doc aggregate is then an exact integer SUM — order-free by
construction.

This test reproduces the r8 mechanism mechanically: run the operator on
two physical permutations of the same documents table (plus a
coalesce(1) single-partition run) and require BIT-IDENTICAL output.
Under the old AVG spelling this flips on sf0.001 within a few
permutations; under the quantized spelling it can never flip.
"""

import shutil

import duckdb
import pytest

from tests.conftest import SF_DIR
from training_feed_kinesis_spark.operators.sketches_curation import (
    llm_dsir_weight,
)
from training_feed_kinesis_spark.session import scoped_conf
from training_feed_kinesis_spark.tables import TABLES


@pytest.fixture(scope="module")
def permuted_dirs(tmp_path_factory):
    """Two copies of sf0.001 whose documents.parquet rows are written in
    opposite physical orders (ascending doc_id vs descending md5)."""
    dirs = []
    for name, order in (
        ("fwd", "doc_id ASC"),
        ("rev", "md5(CAST(doc_id AS VARCHAR)) DESC"),
    ):
        d = tmp_path_factory.mktemp(f"dsir_{name}")
        for t in TABLES:
            if t != "documents":
                shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
        duckdb.execute(
            f"""
            COPY (SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')
                  ORDER BY {order})
            TO '{d}/documents.parquet' (FORMAT PARQUET)
            """
        )
        dirs.append(str(d))
    return dirs


def _rows(spark, sf_dir):
    return sorted(
        (r["doc_id"], r["dsir_weight"], r["n_tokens"])
        for r in llm_dsir_weight(spark, sf_dir).collect()
    )


def test_dsir_weight_is_physical_order_free(spark, permuted_dirs):
    fwd, rev = permuted_dirs
    a = _rows(spark, fwd)
    b = _rows(spark, rev)
    assert len(a) > 0
    # bit-identical, not approx: the whole point of integer quantization
    assert a == b


def test_dsir_weight_bit_exact_vs_oracle(spark, duck):
    """r12 driver red cell: the final ``ROUND(s/c/1e6, 4)`` emitted +0.0
    on Spark but -0.0 on DuckDB for a doc whose weight rounds to zero
    from below — rows/schema matched, the driver's value hash did not
    (CORRECTNESS_r12). The r13 spelling computes the 4-dp rounding in
    exact BIGINT arithmetic and divides by 10000.0 once, so the doubles
    must agree BIT-FOR-BIT (conftest's 6-dp comparator is structurally
    blind to this class — hence the raw struct.pack compare here)."""
    import struct

    from training_feed_kinesis_spark.registry import load_all

    rec = load_all()["llm_dsir_weight"]
    sp = {
        r["doc_id"]: (r["dsir_weight"], r["n_tokens"])
        for r in rec.fn(spark, SF_DIR).collect()
    }
    du = {
        r.doc_id: (r.dsir_weight, r.n_tokens)
        for r in duck.execute(rec.oracle).fetchdf().itertuples()
    }
    assert set(sp) == set(du) and len(sp) > 0

    def bits(f):
        return struct.pack("<d", float(f)).hex()

    neg_zero = bits(-0.0)
    for k in sp:
        (ws, ns), (wd, nd) = sp[k], du[k]
        assert bits(ws) == bits(wd) and int(ns) == int(nd), (
            k, repr(ws), repr(wd))
        # the integer spelling can never produce a signed zero
        assert bits(ws) != neg_zero, k


def test_dsir_weight_is_partitioning_free(spark, permuted_dirs):
    """Same data, different parallelism: 1 shuffle partition vs session
    default must agree bit-identically (partial-agg combine order
    changes; an exact integer SUM cannot)."""
    fwd = permuted_dirs[0]
    base = _rows(spark, fwd)
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "1"}):
        one = _rows(spark, fwd)
    assert base == one
