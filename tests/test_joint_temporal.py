"""Composed joint x temporal corruption replay class (round 12).

The campaign series composes corruption classes that were each green in
isolation: this module overlays the r12 temporal sentinels (§5.3.11,
tests/test_temporal_corruption.py) ON the r10 joint max-tie composition
(NULL-PK slivers + verbatim redelivery + CONFLICTING re-ingest + empty
region dim, tests/test_joint_corruption.py). The full-registry sweep on
this composition (r12, /tmp/tfk_joint_temporal recipe in SURVEY §5.3.12)
found exactly one divergence, unreachable by either class alone:

- llm_dedup_embed_lsh: sign-LSH signatures were keyed by vec_id only,
  so a CONFLICTING re-ingest copy (same id, different payload) folded
  into its twin's dot sums BEFORE the sign on the Spark side, while the
  DuckDB oracle took per-row signs and then summed packed band contribs
  across copies — two different kinds of garbage (Spark 150 vs oracle
  30 pairs at sf0.01). One semantics both engines: signatures are per
  distinct (vec_id, quantized content) copy — Spark groups dots by an
  engine-internal content key, the oracle GROUPs BY the quantized list;
  the candidate set is the union over copies and the downstream pair
  dedup makes the copy key invisible (ops_wave104._sign_sigs).

The same composition's pytest run (the joint class re-swept with r12
code) also caught cc_min_label's isolated-split emitting one label row
per duplicate seed ROW instead of per node — fixed by aggregating the
isolated branch (llm_similarity.cc_min_label docstring).
"""

import datetime
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()

# same classes as the temporal replay module (kept literal so this file
# stands alone): out-of-admission-window sentinels by pk % 37, in-window
# DST/leap instants by pk % 97
OUT_CLASSES = {
    1: datetime.datetime(1969, 7, 20, 2, 56, 0),
    4: datetime.datetime(1582, 10, 4, 12, 0, 0),
    5: datetime.datetime(9999, 12, 31, 23, 59, 59),
    6: datetime.datetime(1, 1, 1, 0, 0, 0),
}
IN_CLASSES = {
    0: datetime.datetime(2024, 3, 10, 2, 30, 0),
    1: datetime.datetime(2024, 2, 29, 23, 59, 59, 999999),
    2: datetime.datetime(2024, 11, 3, 1, 30, 0),
}

# the r10 joint max-tie specs, verbatim shape (test_joint_corruption):
# NULL the base copy of every pk % 10 == 3 row and redeliver it with the
# real id; documents/embeddings add a CONFLICTING re-ingest copy
_JOINT_SPECS = {
    "region": "SELECT * FROM src WHERE 1=0",
    "events": """
      SELECT * REPLACE (CASE WHEN event_id % 10 = 3 THEN NULL
                        ELSE event_id END AS event_id) FROM src
      UNION ALL
      SELECT * FROM src WHERE event_id % 10 = 3
    """,
    "orders": """
      SELECT * REPLACE (CASE WHEN o_orderkey % 10 = 3 THEN NULL
                        ELSE o_orderkey END AS o_orderkey) FROM src
      UNION ALL
      SELECT * FROM src WHERE o_orderkey % 10 = 3
    """,
    "lineitem": """
      SELECT * REPLACE (CASE WHEN l_orderkey % 10 = 3
                              AND l_linenumber = 1 THEN NULL
                        ELSE l_orderkey END AS l_orderkey) FROM src
      UNION ALL
      SELECT * FROM src WHERE l_orderkey % 10 = 3 AND l_linenumber = 1
    """,
    "documents": """
      SELECT * REPLACE (CASE WHEN doc_id % 11 = 7 THEN NULL
                        ELSE doc_id END AS doc_id) FROM src
      UNION ALL
      SELECT * FROM src WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, upper(text) AS text, lang, source, n_chars
      FROM src WHERE doc_id % 10 = 6
    """,
    "embeddings": """
      SELECT * REPLACE (CASE WHEN vec_id % 11 = 5 THEN NULL
                        ELSE vec_id END AS vec_id) FROM src
      UNION ALL
      SELECT * FROM src WHERE vec_id % 10 = 3
      UNION ALL
      SELECT vec_id, list_transform(embedding,
               x -> x + CAST(0.125 AS FLOAT)) AS embedding, label
      FROM src WHERE vec_id % 10 = 6
    """,
}

# cross-class consumers: every key here crosses BOTH corruption classes
# (duplicate/NULL ids AND corrupted time), plus the dedup family whose
# seams this composition found
JT_CONSUMERS = [
    "llm_dedup_embed_lsh",   # the composed-campaign seam (per-copy signing)
    "llm_dedup_embed",       # all-pairs baseline: raw fan-out, both engines
    "llm_dedup_clusters_lsh",  # duplicate-id isolated seeds (cc fix)
    "llm_dedup_apply_lsh",
    "llm_dedup_near",
    "win_lag_lead",          # NULL-tie + temporal admission gate together
    "topk_per_group",
    "sort_multikey",
    "ts_snaive_backtest",    # admission gate over redelivered day groups
    "join_asof",             # pandas kernel bounds + NULL-id slivers
    "stream_dedup",          # redelivery contract + sentinel timestamps
    "agg_rollup",            # empty-dim grand row, unchanged by overlay
]


@pytest.fixture(scope="module")
def jt_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("joint_temporal_r12")
    for t in TABLES:
        if t in _JOINT_SPECS:
            q = _JOINT_SPECS[t].replace(
                "src", f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
            duckdb.execute(
                f"COPY ({q}) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        else:
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")

    def overlay(table, pk, col):
        t = pq.read_table(f"{d}/{table}.parquet")
        pks = t.column(pk).to_pylist()
        vals = t.column(col).to_pylist()
        for i, k in enumerate(pks):
            # NULL-keyed slivers keep clean timestamps: the redelivered
            # real-id twin carries the sentinel while its NULL base does
            # not — a conflicting-version composition neither class
            # produced alone
            if k is None or vals[i] is None:
                continue
            m = k % 37
            if m in OUT_CLASSES:
                vals[i] = OUT_CLASSES[m]
            elif k % 97 in (11, 12, 13):
                vals[i] = IN_CLASSES[k % 97 - 11]
        cols = {c: t.column(c) for c in t.column_names}
        cols[col] = pa.array(vals, type=pa.timestamp("us"))
        pq.write_table(
            pa.table({c: cols[c] for c in t.column_names}),
            f"{d}/{table}.parquet",
        )

    overlay("events", "event_id", "ts")
    overlay("orders", "o_orderkey", "o_orderdate")
    overlay("lineitem", "l_orderkey", "l_shipdate")
    return str(d)


@pytest.fixture(scope="module")
def duck_jt(jt_dir):
    with oracle.connect(jt_dir) as con:
        yield con


def test_fixture_nonvacuous(jt_dir):
    """Every composed trigger must exist: conflicting embedding copies
    (the embed_lsh seam), duplicate-id isolated doc seeds (the cc seam),
    out-of-window sentinels, the empty dim, and a redelivered-with-
    sentinel row whose NULL twin stays clean."""
    con = duckdb.connect()
    n_conflict = con.execute(
        f"""SELECT COUNT(*) FROM (
              SELECT vec_id FROM read_parquet('{jt_dir}/embeddings.parquet')
              WHERE vec_id IS NOT NULL
              GROUP BY vec_id HAVING COUNT(DISTINCT embedding::VARCHAR) > 1
            )"""
    ).fetchone()[0]
    assert n_conflict > 0, "no conflicting embedding copies planted"
    n_dup_doc = con.execute(
        f"""SELECT COUNT(*) FROM (
              SELECT doc_id FROM read_parquet('{jt_dir}/documents.parquet')
              WHERE doc_id IS NOT NULL
              GROUP BY doc_id HAVING COUNT(*) > 1
            )"""
    ).fetchone()[0]
    assert n_dup_doc > 0, "no duplicate-id document rows planted"
    n_out = con.execute(
        f"""SELECT COUNT(*) FROM read_parquet('{jt_dir}/events.parquet')
            WHERE ts < TIMESTAMP '1970-01-01'
               OR ts >= TIMESTAMP '2200-01-01'"""
    ).fetchone()[0]
    assert n_out > 0, "no out-of-window sentinels planted"
    assert (
        con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{jt_dir}/region.parquet')"
        ).fetchone()[0]
        == 0
    ), "region dim must be empty"
    # the composition-only shape: a real-id row with a sentinel ts whose
    # NULL-id twin kept a clean one
    n_sent_redeliv = con.execute(
        f"""SELECT COUNT(*) FROM read_parquet('{jt_dir}/events.parquet')
            WHERE event_id % 10 = 3 AND event_id % 37 IN (1, 4, 5, 6)"""
    ).fetchone()[0]
    assert n_sent_redeliv > 0, "no sentinel-ts redelivered rows planted"
    con.close()


@pytest.mark.parametrize("key", JT_CONSUMERS)
def test_ops_survive_joint_temporal(key, spark, jt_dir, duck_jt):
    spec = _REGISTRY[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(spec.fn(spark, jt_dir), duck_jt, spec.oracle)


def test_conflicting_copy_signs_separately(spark, jt_dir):
    """The seam's mechanism, pinned directly: a conflicting re-ingest
    copy must produce its own signature rows — at least one planted
    conflicting vec_id carries two distinct sigs in some band (had the
    copies folded before the sign, every (vec_id, band) would be
    single-valued)."""
    from training_feed_kinesis_spark.operators.ops_wave104 import _sign_sigs

    sigs = _sign_sigs(spark, jt_dir)
    n_multi = (
        sigs.groupBy("vec_id", "band")
        .count()
        .filter("count > 1")
        .count()
    )
    assert n_multi > 0, "conflicting copies folded into one signature"
