"""Joint-corruption replay class (round 10).

Every prior campaign corrupted ONE signature at a time (re-ingest r8/r9,
NULL-PK r9, empty tables r9). VERDICT r9 item 3: COMPOSE them — the
composition reaches states no single-signature dir can. The round-10
campaign dir (NULL-PK slivers + duplicated/conflicting re-ingest on the
SAME tables + an EMPTY region dim, built over sf0.01) found 11
divergences in three families, each fixed one-semantics-both-engines:

  * empty-dim rollup grand row (agg_grouping_flags, agg_rollup,
    rollup_rank_report): an empty REGION empties the star join; standard
    SQL still emits the () grand-total row over zero input while Spark's
    rollup emits nothing — the r6 "non-empty-input precondition" met in
    the wild. Pinned via HAVING COUNT(*) > 0 (the r9 ts_rollup_hierarchy
    pattern).
  * NULL-id ∧ redelivery order tie (sql_named_window, topk_per_group,
    win_frame_rows, win_lag_lead, win_rolling_median; win_value latent):
    a NULL-PK row and its redelivered real-id twin TIE on (user_id, ts)
    — the composition no single campaign produced — and the id TIEBREAK
    was unpinned: Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST, so
    the twins sat on opposite sides of the tie. Pinned ASC NULLS LAST on
    both engines, plus the same pin on every bare event_id tiebreak in
    the window family.
  * exactly-once vs raw-row oracles (stream_dedup, stream_dedup_watermark,
    stream_backfill_union): the SOURCE TABLE itself carrying redelivered
    duplicate event_ids is exactly what dedup must collapse, but the
    oracles counted raw non-NULL-id rows. Re-spelled over the distinct-id
    relation (redelivery is verbatim by contract; conflicting same-id
    payloads belong to the admission-gate family).

A SECOND sweep escalated the composition to MAX-TIE moduli (the NULL
sliver and the redelivery share one modulus on EVERY PK table, so 100%
of redelivered rows tie a NULL twin — the sf0.01 campaign dir hit such
ties only by CRT coincidence) and found seven more: sort_multikey /
limit_offset_paging (global-order o_orderkey tiebreak unpinned),
orders_skyline / llm_best_of_n / llm_preference_pairs (id-less rows
must not be electable — outputs cite ids; preference pairs were also
silently dropped through the three-valued != filter), ts_ewma
(AVG(double) daily mean hit a 4dp knife edge once a redelivered
duplicate joined the group — now an exact-cents sum with one division),
and ts_theil_sen — whose flip exposed the ROUND-MAGNITUDE SEAM (SURVEY
§5.3.9, verified by bit-level probe): DuckDB ROUND(x, 4) rounds the
float product x·10⁴, whose IEEE grid at the ~1e9 intercept (~2e-3) is
coarser than the 4dp digits, while Spark's BigDecimal ROUND of the
IDENTICAL double is decimal-exact. The audit that followed re-spelled
the three genuinely exposed keys (ts_theil_sen, agg_stats,
ml_gbdt_stumps) onto exact integer-quantized moments with UNROUNDED
large-magnitude outputs.

This module pins the class at sf0.001 with the max-tie moduli on every
PK-bearing table.
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

JOINT_CONSUMERS = [
    # empty-dim rollup grand row
    "agg_grouping_flags",
    "agg_rollup",
    "rollup_rank_report",
    # NULL-id + redelivery order tie
    "sql_named_window",
    "topk_per_group",
    "win_frame_rows",
    "win_lag_lead",
    "win_rolling_median",
    "win_value",        # latent member, pinned proactively
    "win_ranking",      # r9 member of the same family — must stay green
    # exactly-once oracles under source-level redelivery
    "stream_dedup",
    "stream_dedup_watermark",
    "stream_backfill_union",
    # max-tie escalation (second sweep, moduli forcing 100% base-copy
    # NULLing on every table): seven more members
    "sort_multikey",        # global-rank o_orderkey tiebreak unpinned
    "limit_offset_paging",  # page boundary sliced the tie differently
    "orders_skyline",       # id-less rows excluded: skyline cites keys
    "llm_best_of_n",        # id-less docs not electable as kept_doc
    "llm_preference_pairs", # NULL-id election + three-valued != drop
    "ts_ewma",              # exact-cents daily mean (AVG knife edge)
    "ts_theil_sen",         # per-row 1e-4 slope/residual quantization
    # sentinels: unrelated shapes that must stay green on the joint dir
    "agg_basic",
    "llm_dedup_exact",
    "llm_dedup_clusters_lsh",
    "win_frame_range",  # RANGE frame: order-insensitive by construction
]


@pytest.fixture(scope="module")
def joint_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("joint_r10")
    specs = {
        # empty broadcast dim
        "region": "SELECT * FROM src WHERE 1=0",
        # every redelivered row's base copy is NULL-keyed: the NULL twin
        # and the real twin share (user_id, ts) — guaranteed order ties
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
        "customer": """
          SELECT * REPLACE (CASE WHEN c_custkey % 10 = 3 THEN NULL
                            ELSE c_custkey END AS c_custkey) FROM src
          UNION ALL
          SELECT * FROM src WHERE c_custkey % 10 = 3
        """,
        "supplier": """
          SELECT * REPLACE (CASE WHEN s_suppkey % 10 = 3 THEN NULL
                            ELSE s_suppkey END AS s_suppkey) FROM src
          UNION ALL
          SELECT * FROM src WHERE s_suppkey % 10 = 3
        """,
        "part": """
          SELECT * REPLACE (CASE WHEN p_partkey % 10 = 3 THEN NULL
                            ELSE p_partkey END AS p_partkey) FROM src
          UNION ALL
          SELECT * FROM src WHERE p_partkey % 10 = 3
        """,
        # NULL-PK sliver + verbatim dup + conflicting refetch
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
    for t in TABLES:
        if t in specs:
            q = specs[t].replace(
                "src", f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
            duckdb.execute(
                f"COPY ({q}) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
        else:
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck_joint(joint_dir):
    with oracle.connect(joint_dir) as con:
        yield con


def test_joint_fixture_nonvacuous(joint_dir):
    """The composition must actually exist: an empty region, AND at
    least one (user_id, ts) pair carrying both a NULL-id and a real-id
    event row (the tie the window family diverged on)."""
    n_region = duckdb.execute(
        f"SELECT COUNT(*) FROM read_parquet('{joint_dir}/region.parquet')"
    ).fetchone()[0]
    assert n_region == 0
    n_ties = duckdb.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT user_id, ts FROM read_parquet('{joint_dir}/events.parquet')
          GROUP BY user_id, ts
          HAVING SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) > 0
             AND SUM(CASE WHEN event_id IS NOT NULL THEN 1 ELSE 0 END) > 0
        )
        """
    ).fetchone()[0]
    assert n_ties > 0
    # the orders tie the topk family diverged on: a NULL-key order and
    # its real-key twin sharing (o_custkey, o_totalprice)
    n_order_ties = duckdb.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT o_custkey, o_totalprice
          FROM read_parquet('{joint_dir}/orders.parquet')
          GROUP BY o_custkey, o_totalprice
          HAVING SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) > 0
             AND SUM(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END) > 0
        )
        """
    ).fetchone()[0]
    assert n_order_ties > 0
    # genuine duplicate real PKs (the dedup family's target) exist in
    # documents: the dup sliver (% 10 = 3) and NULL sliver (% 11 = 7)
    # mostly miss each other
    n_dup_docs = duckdb.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT doc_id FROM read_parquet('{joint_dir}/documents.parquet')
          WHERE doc_id IS NOT NULL GROUP BY doc_id HAVING COUNT(*) > 1
        )
        """
    ).fetchone()[0]
    assert n_dup_docs > 0


@pytest.mark.parametrize("key", JOINT_CONSUMERS)
def test_ops_survive_joint_corruption(key, spark, joint_dir, duck_joint):
    spec = _REGISTRY[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(spec.fn(spark, joint_dir), duck_joint, spec.oracle)


@pytest.mark.parametrize("events_dir", ["clean", "joint"])
def test_stream_dedup_verbatim_redelivery_contract(events_dir, joint_dir):
    """Guard for the exactly-once stream oracles (ADVICE r10): the
    stream_dedup / stream_dedup_watermark / stream_backfill_union oracles
    reconstruct the unique payload with per-column MIN over each event_id
    group, which is sound ONLY under verbatim redelivery (at-least-once
    re-sends the same record). Under CONFLICTING same-id payloads — a
    re-ingest corruption owned by the admission-gate family — the MIN
    oracle would fabricate a row mixing columns from different versions
    while dropDuplicates keeps one arbitrary whole row, surfacing as a
    confusing value mismatch. Assert the contract directly on every
    events fixture those oracles run against, reusing the
    dq_corruption_composite_census canonical payload-hash spelling: each
    retained (non-NULL-id) event_id carries exactly ONE distinct payload
    hash. If this ever fails, the fixture violates the redelivery
    contract — fix the fixture or route the key to the admission gate;
    do not chase the dedup oracle."""
    from training_feed_kinesis_spark.operators.ops_wave103 import _PAYLOAD

    src = SF_DIR if events_dir == "clean" else joint_dir
    pk, _, duck_hash = _PAYLOAD["events"]
    n_conflicting = duckdb.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT {pk}
          FROM (SELECT {pk}, {duck_hash} AS h
                FROM read_parquet('{src}/events.parquet')
                WHERE {pk} IS NOT NULL)
          GROUP BY {pk} HAVING COUNT(DISTINCT h) > 1
        )
        """
    ).fetchone()[0]
    assert n_conflicting == 0, (
        f"{n_conflicting} event_ids with conflicting payload versions in"
        f" {src}: the exactly-once stream oracles' MIN reconstruction is"
        " unsound on this fixture (verbatim-redelivery contract violated)"
    )
    # non-vacuity / positive control: the same guard spelling MUST detect
    # the conflicting re-ingest versions deliberately planted in the
    # joint dir's documents table (doc_id % 10 = 6, upper(text)) — a
    # guard that can't see a planted violation proves nothing
    if events_dir == "joint":
        doc_pk, _, doc_hash = _PAYLOAD["documents"]
        n_doc_conflicts = duckdb.execute(
            f"""
            SELECT COUNT(*) FROM (
              SELECT {doc_pk}
              FROM (SELECT {doc_pk}, {doc_hash} AS h
                    FROM read_parquet('{src}/documents.parquet')
                    WHERE {doc_pk} IS NOT NULL)
              GROUP BY {doc_pk} HAVING COUNT(DISTINCT h) > 1
            )
            """
        ).fetchone()[0]
        assert n_doc_conflicts > 0


def test_duckdb_round_magnitude_seam_pinned(spark):
    """Document-by-test (SURVEY §5.3.9): DuckDB ROUND(x, 4) rounds the
    float product x*10^4, whose IEEE grid at ~9.3e12 (~2e-3) is coarser
    than the 4dp digits — so on the IDENTICAL input double the two
    engines disagree, Spark's BigDecimal ROUND being decimal-exact.
    This is why statistics >= ~1e8 are derived from exact quantized
    moments and emitted UNROUNDED. If this assert ever flips, DuckDB
    fixed its ROUND — the unrounded-emission rule could then relax."""
    x = -933840071.1026499  # the r10 max-tie ts_theil_sen intercept
    d = duckdb.execute(
        "SELECT ROUND(CAST(? AS DOUBLE), 4)", [x]
    ).fetchone()[0]
    s = spark.sql(f"SELECT ROUND(CAST({x!r} AS DOUBLE), 4)").collect()[0][0]
    assert (x * 1e4) == -9338400711026.5  # the product lands ON the grid
    assert d == -933840071.1027  # DuckDB: product-grid half-away flip
    assert s == -933840071.1026  # Spark: exact decimal round of x
    assert d != s
