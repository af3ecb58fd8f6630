"""NULL/malformed-payload injection: the latent-divergence class the
round-3/4 advisors kept finding (NULL rank order, cast-of-garbage, NULL
group keys) made systematic. A corrupted copy of ``events`` — 10% NULL
props, 10% non-numeric k, 10% empty JSON object — is written once, and
every props-consuming oracled operator is differentially re-checked on it.
Divergences that are invisible on the clean generated corpus (which has no
NULL k anywhere) fail here instead of in a future driver round.
"""

from __future__ import annotations

import math
import shutil

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

# Every oracled registry key whose Spark side or oracle reads props.$.k —
# keep in sync by grepping get_json_object/json_extract_string over
# training_feed_kinesis_spark/operators/.
PROPS_CONSUMERS = [
    "fn_json",
    "fn_map",
    "fn_map_hof",
    "fn_variant",
    "stat_spearman",
    "dq_category_drift",
    "stream_quarantine_split",
]


@pytest.fixture(scope="module")
def corrupted_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("nullsf")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT event_id, ts, user_id, event_type, value,
                 CASE WHEN event_id % 10 = 0 THEN NULL
                      WHEN event_id % 10 = 1 THEN '{{"k": "abc"}}'
                      WHEN event_id % 10 = 2 THEN '{{}}'
                      -- decimal + scientific numerals: DuckDB TRY_CAST
                      -- ROUNDS '3.9'→4 / '1e3'→1000 while Spark NULLs
                      -- them, so only the shared integer-regex gate keeps
                      -- the engines identical
                      WHEN event_id % 10 = 3 THEN '{{"k": 3.9}}'
                      WHEN event_id % 10 = 4 THEN '{{"k": "1e3"}}'
                      -- multi-key, deliberately out of document order:
                      -- json_keys is document-ordered, Spark sorts
                      WHEN event_id % 10 = 5 THEN '{{"z": 1, "a": 2}}'
                      -- INVALID JSON: DuckDB json_* functions hard-error
                      -- without a json_valid guard; Spark returns NULL
                      WHEN event_id % 10 = 6 THEN '{{k: '
                      -- VALID non-object JSON (ADVICE r5): DuckDB
                      -- json_keys returns [] on these while Spark's
                      -- from_json(map) parses them to a NULL map —
                      -- consumers must gate on json_type = 'OBJECT'
                      WHEN event_id % 20 = 7 THEN '42'
                      WHEN event_id % 20 = 17 THEN 'true'
                      WHEN event_id % 20 = 8 THEN '[1, 2]'
                      WHEN event_id % 20 = 18 THEN 'null'
                      -- unquoted NaN: valid JSON to DuckDB (json_keys
                      -- sees 'k'); Spark's from_json re-renders the
                      -- value as the quoted text '"NaN"' but keeps the
                      -- key — keys agree, and the numeral gates NULL
                      -- the value on both engines (probe round 6)
                      WHEN event_id % 20 = 9 THEN '{{"k": NaN}}'
                      ELSE props END AS props
          FROM read_parquet('{SF_DIR}/events.parquet')
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_corrupted(corrupted_sf):
    with oracle.connect(corrupted_sf) as con:
        yield con


@pytest.fixture(scope="module")
def registry():
    from training_feed_kinesis_spark.registry import load_all

    return load_all()


@pytest.mark.parametrize("key", PROPS_CONSUMERS)
def test_props_consumer_survives_corruption(
    key, spark, registry, corrupted_sf, duck_corrupted
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, corrupted_sf), duck_corrupted, spec.oracle
    )


# --- pre-epoch timestamp injection ------------------------------------------

# Oracled operators that bucket or lag event TIME — the class where
# truncation-vs-floor division and epoch anchoring diverge on negative
# indices (ADVICE r4: events before the 2024-01-01 epoch).
TIME_CONSUMERS = [
    "events_entropy_over_time",
    "events_hill_diversity",
    "ts_resample_gapfill",
    "ts_forecast_mase",
    "events_hour_heatmap",
]


@pytest.fixture(scope="module")
def preepoch_sf(tmp_path_factory):
    """10% of events shifted back 60 days — some land BEFORE the
    2024-01-01 week-bucket epoch, producing negative day indices."""
    d = tmp_path_factory.mktemp("preepochsf")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT event_id,
                 CASE WHEN event_id % 10 = 0
                      THEN ts - INTERVAL 60 DAY ELSE ts END AS ts,
                 user_id, event_type, value, props
          FROM read_parquet('{SF_DIR}/events.parquet')
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_preepoch(preepoch_sf):
    with oracle.connect(preepoch_sf) as con:
        yield con


@pytest.mark.parametrize("key", TIME_CONSUMERS)
def test_time_bucketing_survives_preepoch_rows(
    key, spark, registry, preepoch_sf, duck_preepoch
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, preepoch_sf), duck_preepoch, spec.oracle
    )


# --- degenerate document text injection -------------------------------------

# Oracled text operators that tokenize / shingle / profile documents — the
# class where empty strings, single tokens, and pathological repetition
# expose split/agg edge differences.
TEXT_CONSUMERS = [
    "llm_text_tokens",
    "llm_tfidf",
    "llm_fingerprint",
    "llm_lang_profile",
    "hist_doclen",
    # the substring-span census shingles raw characters, so the repeated
    # 'spam '×200 docs become near-fully duplicated spans across docs —
    # exactly the pathological-repetition case span merging must survive
    "llm_dup_span_census",
    # wave 99 (r7): clipped-count overlap on empty/degenerate pair
    # sides, the cap census re-electing keepers over rewritten n_chars,
    # and the printable gate over empty/repeated text
    "llm_rouge1_overlap",
    "llm_source_domain_cap",
    "dq_text_printable_census",
]


@pytest.fixture(scope="module")
def degenerate_text_sf(tmp_path_factory):
    """documents with 5% empty text, 5% a single token, 5% one word
    repeated 200 times (n_chars kept consistent with the new text)."""
    d = tmp_path_factory.mktemp("degtextsf")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT doc_id,
                 CASE WHEN doc_id % 20 = 0 THEN ''
                      WHEN doc_id % 20 = 1 THEN 'solo'
                      WHEN doc_id % 20 = 2 THEN trim(repeat('spam ', 200))
                      ELSE text END AS text,
                 lang, source,
                 length(CASE WHEN doc_id % 20 = 0 THEN ''
                             WHEN doc_id % 20 = 1 THEN 'solo'
                             WHEN doc_id % 20 = 2 THEN trim(repeat('spam ', 200))
                             ELSE text END)::BIGINT AS n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_degenerate_text(degenerate_text_sf):
    with oracle.connect(degenerate_text_sf) as con:
        yield con


@pytest.mark.parametrize("key", TEXT_CONSUMERS)
def test_text_ops_survive_degenerate_documents(
    key, spark, registry, degenerate_text_sf, duck_degenerate_text
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, degenerate_text_sf), duck_degenerate_text, spec.oracle
    )


# --- malformed embedding injection ------------------------------------------

@pytest.fixture(scope="module")
def corrupted_emb_sf(tmp_path_factory):
    """embeddings with 5% NULL, 5% truncated to 32 dims, 5% all-zero,
    5% carrying one NaN component, 5% carrying one NULL component."""
    d = tmp_path_factory.mktemp("badembsf")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
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
                      ELSE embedding END AS embedding,
                 label
          FROM read_parquet('{SF_DIR}/embeddings.parquet')
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_corrupted_emb(corrupted_emb_sf):
    with oracle.connect(corrupted_emb_sf) as con:
        yield con


def test_embedding_validate_flags_planted_corruption(
    spark, registry, corrupted_emb_sf, duck_corrupted_emb
):
    """dq_embedding_validate must (a) stay oracle-identical on the
    corrupted corpus and (b) actually fire every flag class — a census
    that only ever reports zeros proves nothing."""
    spec = registry["dq_embedding_validate"]
    df = spec.fn(spark, corrupted_emb_sf)
    assert_matches_oracle(df, duck_corrupted_emb, spec.oracle)
    tot = {
        c: sum(r[c] for r in df.collect())
        for c in (
            "n_vecs", "n_null", "n_wrong_dim", "n_null_comp",
            "n_all_zero", "n_nonfinite",
        )
    }
    assert tot["n_null"] > 0, tot
    assert tot["n_null_comp"] > 0, tot
    assert tot["n_wrong_dim"] > 0, tot
    assert tot["n_all_zero"] > 0, tot
    assert tot["n_nonfinite"] > 0, tot


def test_embedding_validate_clean_corpus_reports_clean(spark, registry, duck):
    """On the generated corpus every malformation count must be zero —
    the census certifying the corpus the rest of the vec family runs on."""
    spec = registry["dq_embedding_validate"]
    rows = spec.fn(spark, SF_DIR).collect()
    assert rows and all(
        r["n_null"] == r["n_wrong_dim"] == r["n_null_comp"]
        == r["n_all_zero"] == r["n_nonfinite"] == 0
        for r in rows
    ), rows


# --- unicode text injection --------------------------------------------------

@pytest.fixture(scope="module")
def unicode_text_sf(tmp_path_factory):
    """documents with 10% of texts prefixed by accented/CJK/emoji tokens —
    the class where case folding, char-vs-byte length, and regex word
    classes diverge across engines."""
    d = tmp_path_factory.mktemp("unisf")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT doc_id,
                 CASE WHEN doc_id % 10 = 0
                      THEN 'Crème BRÛLÉE 東京 naïve 🙂 ' || text
                      ELSE text END AS text,
                 lang, source,
                 length(CASE WHEN doc_id % 10 = 0
                             THEN 'Crème BRÛLÉE 東京 naïve 🙂 ' || text
                             ELSE text END)::BIGINT AS n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_unicode(unicode_text_sf):
    with oracle.connect(unicode_text_sf) as con:
        yield con


@pytest.mark.parametrize("key", TEXT_CONSUMERS)
def test_text_ops_survive_unicode(
    key, spark, registry, unicode_text_sf, duck_unicode
):
    spec = registry[key]
    assert_matches_oracle(
        spec.fn(spark, unicode_text_sf), duck_unicode, spec.oracle
    )


# --- duplicate-timestamp injection ------------------------------------------

# Order-sensitive oracled operators: every per-user ordering must carry an
# event_id tiebreak (house style) — duplicated timestamps are where a
# missing tiebreak silently diverges across engines.
ORDER_CONSUMERS = [
    "batch_sessionize",
    "funnel_conversion",
    "events_markov",
    "events_attribution_markov_removal",
    "join_asof",
]


@pytest.fixture(scope="module")
def dupts_sf(tmp_path_factory):
    """10% of events share their timestamp with the user's previous event
    (exact duplicate ts within the ordering key)."""
    d = tmp_path_factory.mktemp("duptssf")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT event_id,
                 CASE WHEN event_id % 10 = 3 AND prev_ts IS NOT NULL
                      THEN prev_ts ELSE ts END AS ts,
                 user_id, event_type, value, props
          FROM (
            SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts,
                                    event_id) AS prev_ts
            FROM read_parquet('{SF_DIR}/events.parquet')
          )
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_dupts(dupts_sf):
    with oracle.connect(dupts_sf) as con:
        yield con


@pytest.mark.parametrize("key", ORDER_CONSUMERS)
def test_order_sensitive_ops_survive_duplicate_ts(
    key, spark, registry, dupts_sf, duck_dupts
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(spec.fn(spark, dupts_sf), duck_dupts, spec.oracle)


# --- relational-star corruption (VERDICT r5 item 5) -------------------------

# Every declared §2.C (join) / §2.D (agg) key that reads orders/lineitem,
# plus the TPC-H shapes that exercise the same star — the families the
# payload-focused classes above never stressed.
STAR_CONSUMERS = [
    "join_inner",
    "join_left",
    "join_right",
    "join_semi",
    "join_anti",
    "join_multiway",
    "agg_basic",
    "agg_stats",
    "agg_cube",
    "agg_grouping_sets",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_volume",
    "q21_waiting_supplier",
    # wave-95 DQ censuses: must not just survive the corrupted star but
    # MEASURE it (detection proofs below)
    "dq_orphan_census",
    "dq_duplicate_pk_census",
    # wave-97 star consumers (r7): reconciliation census, CUSUM series,
    # STL decomposition, the money-magnitude gate
    "dq_order_total_reconcile",
    "ts_cusum_changepoint",
    "ts_stl_decompose",
    "dq_money_magnitude_census",
    # wave-99 star consumers (r7): the Fisher/BH weekly cells count
    # NULL priority/status two-valued on both engines; Ljung-Box rides
    # the exact-cents day grain under dup-PK/negative measures
    "stat_fisher_exact",
    "stat_fdr_bh",
    "ts_ljung_box",
]


def test_star_censuses_detect_planted_corruption(
    spark, registry, star_nullkeys_sf, star_dirty_sf
):
    """The wave-95 audits must fire on exactly the corruption each
    fixture plants: NULL o_custkey rows show up as n_null_key on the
    orders->customer edge; re-inserted PK rows show up as dup_excess
    with multiplicity 2."""
    orphan = registry["dq_orphan_census"].fn(spark, star_nullkeys_sf)
    edge = {r.edge: r for r in orphan.collect()}
    assert edge["orders->customer"].n_null_key > 0
    assert edge["lineitem->orders"].n_child > 0
    dup = registry["dq_duplicate_pk_census"].fn(spark, star_dirty_sf)
    rows = {r.tbl: r for r in dup.collect()}
    assert rows["orders"].dup_excess > 0
    assert rows["orders"].max_multiplicity == 2
    assert rows["lineitem"].dup_excess > 0
    assert rows["customer"].dup_excess == 0


@pytest.fixture(scope="module")
def star_nullkeys_sf(tmp_path_factory):
    """Corruption class 1 — NULL keys in the star: 10% NULL o_custkey
    (join key), NULL order/line group keys (o_orderstatus,
    o_orderpriority, l_returnflag, l_linestatus), and a sliver of NULL
    l_shipdate (filter column). Joins must drop NULL keys identically on
    both engines; GROUP BY must keep the NULL group; filters are
    two-valued over NULL on both sides."""
    d = tmp_path_factory.mktemp("starnullsf")
    for t in TABLES:
        if t not in ("orders", "lineitem"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_custkey END
              AS o_custkey,
            CASE WHEN o_orderkey % 20 = 1 THEN NULL ELSE o_orderstatus END
              AS o_orderstatus,
            CASE WHEN o_orderkey % 20 = 2 THEN NULL ELSE o_orderpriority
              END AS o_orderpriority)
          FROM read_parquet('{SF_DIR}/orders.parquet')
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN l_orderkey % 10 = 3 THEN NULL ELSE l_returnflag END
              AS l_returnflag,
            CASE WHEN l_orderkey % 20 = 4 THEN NULL ELSE l_linestatus END
              AS l_linestatus,
            CASE WHEN (l_orderkey + l_linenumber) % 25 = 5 THEN NULL
                 ELSE l_shipdate END AS l_shipdate)
          FROM read_parquet('{SF_DIR}/lineitem.parquet')
        ) TO '{d}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_star_nullkeys(star_nullkeys_sf):
    with oracle.connect(star_nullkeys_sf) as con:
        yield con


@pytest.mark.parametrize("key", STAR_CONSUMERS)
def test_star_ops_survive_null_keys(
    key, spark, registry, star_nullkeys_sf, duck_star_nullkeys
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, star_nullkeys_sf), duck_star_nullkeys, spec.oracle
    )


@pytest.fixture(scope="module")
def star_dirty_sf(tmp_path_factory):
    """Corruption class 2 — duplicated primary keys and negative
    measures: ~3% of orders and lineitem rows re-inserted verbatim
    (duplicate o_orderkey / (l_orderkey, l_linenumber)), plus negated
    o_totalprice / l_quantity / l_extendedprice on disjoint slivers.
    Join multiplicities and SUM/AVG over signed values must agree."""
    d = tmp_path_factory.mktemp("stardirtysf")
    for t in TABLES:
        if t not in ("orders", "lineitem"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN o_orderkey % 13 = 1 THEN -o_totalprice
                 ELSE o_totalprice END AS o_totalprice)
          FROM (
            SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')
            UNION ALL
            SELECT * FROM read_parquet('{SF_DIR}/orders.parquet')
            WHERE o_orderkey % 31 = 0
          )
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN l_orderkey % 11 = 2 THEN -l_quantity
                 ELSE l_quantity END AS l_quantity,
            CASE WHEN l_orderkey % 17 = 3 THEN -l_extendedprice
                 ELSE l_extendedprice END AS l_extendedprice)
          FROM (
            SELECT * FROM read_parquet('{SF_DIR}/lineitem.parquet')
            UNION ALL
            SELECT * FROM read_parquet('{SF_DIR}/lineitem.parquet')
            WHERE l_orderkey % 37 = 0
          )
        ) TO '{d}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_star_dirty(star_dirty_sf):
    with oracle.connect(star_dirty_sf) as con:
        yield con


@pytest.mark.parametrize("key", STAR_CONSUMERS)
def test_star_ops_survive_dup_pk_and_negatives(
    key, spark, registry, star_dirty_sf, duck_star_dirty
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, star_dirty_sf), duck_star_dirty, spec.oracle
    )


# Corruption class 3 (round 6) — DIMENSION corruption. Classes 1-2 only
# dirtied the fact tables; the dim side has its own failure surface:
# deleted parents create true ORPHANS (the only fixture that fires
# n_orphan > 0), duplicated dim PKs amplify join multiplicity on the
# BUILD side (a different plan path than fact dups), and NULL dim
# attributes land in group keys (c_mktsegment) / LIKE predicates
# (p_type) / FK edges (c_nationkey, s_nationkey).
DIM_CONSUMERS = STAR_CONSUMERS + [
    "q7_volume_shipping",  # supplier + nation x2 consumers
    "q13_order_distribution",  # customer left-join distribution
    "q14_promo_revenue",  # p_type LIKE inside conditional agg
]


@pytest.fixture(scope="module")
def star_dimcorrupt_sf(tmp_path_factory):
    """Customer: ~5% of rows DELETED (orders orphaned), NULL
    c_mktsegment / c_nationkey slivers, ~2% duplicated c_custkey.
    Supplier: NULL s_nationkey sliver, duplicated s_suppkey. Part:
    NULL p_type sliver, duplicated p_partkey. Facts stay clean — the
    divergence risk under test is entirely on the dim side."""
    d = tmp_path_factory.mktemp("stardimsf")
    for t in TABLES:
        if t not in ("customer", "supplier", "part"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN c_custkey % 23 = 3 THEN NULL ELSE c_mktsegment END
              AS c_mktsegment,
            CASE WHEN c_custkey % 29 = 5 THEN NULL ELSE c_nationkey END
              AS c_nationkey)
          FROM (
            SELECT * FROM read_parquet('{SF_DIR}/customer.parquet')
            WHERE c_custkey % 19 <> 7  -- deleted parents => orphans
            UNION ALL
            SELECT * FROM read_parquet('{SF_DIR}/customer.parquet')
            WHERE c_custkey % 19 <> 7 AND c_custkey % 41 = 11
          )
        ) TO '{d}/customer.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN s_suppkey % 13 = 4 THEN NULL ELSE s_nationkey END
              AS s_nationkey)
          FROM (
            SELECT * FROM read_parquet('{SF_DIR}/supplier.parquet')
            UNION ALL
            SELECT * FROM read_parquet('{SF_DIR}/supplier.parquet')
            WHERE s_suppkey % 7 = 2
          )
        ) TO '{d}/supplier.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN p_partkey % 11 = 6 THEN NULL ELSE p_type END
              AS p_type)
          FROM (
            SELECT * FROM read_parquet('{SF_DIR}/part.parquet')
            UNION ALL
            SELECT * FROM read_parquet('{SF_DIR}/part.parquet')
            WHERE p_partkey % 43 = 9
          )
        ) TO '{d}/part.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_star_dimcorrupt(star_dimcorrupt_sf):
    with oracle.connect(star_dimcorrupt_sf) as con:
        yield con


@pytest.mark.parametrize("key", DIM_CONSUMERS)
def test_star_ops_survive_dim_corruption(
    key, spark, registry, star_dimcorrupt_sf, duck_star_dimcorrupt
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, star_dimcorrupt_sf), duck_star_dimcorrupt, spec.oracle
    )


def test_star_censuses_detect_dim_corruption(
    spark, registry, star_dimcorrupt_sf
):
    """The dim fixture must fire the one orphan-census counter no other
    fixture reaches (true orphans from deleted parents) plus the
    NULL-FK and dup-dim-PK counters."""
    orphan = registry["dq_orphan_census"].fn(spark, star_dimcorrupt_sf)
    edge = {r.edge: r for r in orphan.collect()}
    assert edge["orders->customer"].n_orphan > 0  # deleted parents
    assert edge["customer->nation"].n_null_key > 0  # NULL c_nationkey
    assert edge["orders->customer"].n_null_key == 0  # facts untouched
    dup = registry["dq_duplicate_pk_census"].fn(spark, star_dimcorrupt_sf)
    rows = {r.tbl: r for r in dup.collect()}
    assert rows["customer"].dup_excess > 0
    assert rows["customer"].max_multiplicity == 2
    assert rows["orders"].dup_excess == 0


# Corruption class 4 (round 6) — FRACTIONAL MEASURES. The §5.3.6b trap
# (Spark's CAST(double AS INT) truncates where DuckDB's rounds) is
# invisible on today's integral l_quantity domain: a bare cast passes
# every differential and diverges only the day the domain grows
# fractional values. This fixture grows it now — binary-exact quarters
# (+0.25/+0.5/+0.75 on ~75% of lineitem rows) — so any bare cast that
# sneaks back in fails here instead of in production. Quarters keep
# every SUM bit-exact in any reduction order (2 fraction bits,
# magnitudes far below 2^51), so the replay keeps the exact comparator.
FRACTIONAL_CONSUMERS = STAR_CONSUMERS + [
    "fn_math",  # qty_mod7: the site this class caught in round 6
    "ml_learning_curve",  # quantity-band feature: second caught site
    # the rest of the TPC-H sweep: every shape reading quantity or money
    # (q9/q11 were caught by this very replay and respelled in exact
    # integers; quantity double-sums stay exact because quarters carry
    # only 2 fraction bits)
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q11_important_parts",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_quantity",
    "q18_large_orders",
    "q19_disjunctive_revenue",
    "q20_stock_suppliers",
    "q22_idle_customers",
]


@pytest.fixture(scope="module")
def star_fractional_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("starfracsf")
    for t in TABLES:
        if t != "lineitem":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            l_quantity + CASE (l_orderkey + l_linenumber) % 4
              WHEN 0 THEN 0.25 WHEN 1 THEN 0.5 WHEN 2 THEN 0.75
              ELSE 0 END AS l_quantity)
          FROM read_parquet('{SF_DIR}/lineitem.parquet')
        ) TO '{d}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_star_fractional(star_fractional_sf):
    with oracle.connect(star_fractional_sf) as con:
        yield con


@pytest.mark.parametrize("key", FRACTIONAL_CONSUMERS)
def test_star_ops_survive_fractional_measures(
    key, spark, registry, star_fractional_sf, duck_star_fractional
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, star_fractional_sf), duck_star_fractional, spec.oracle
    )


def test_fractional_fixture_exposes_bare_cast(
    spark, star_fractional_sf, duck_star_fractional
):
    """Non-vacuity proof: on this fixture the outlawed bare-cast spelling
    MUST diverge across engines (Spark truncates every quarter down;
    DuckDB rounds the .75s up), while the FLOOR-first house spelling
    agrees exactly — i.e. the fixture really exercises the trap the
    consumer replay above guards against."""
    from training_feed_kinesis_spark.tables import load_table

    load_table(spark, star_fractional_sf, "lineitem").createOrReplaceTempView(
        "li_frac"
    )
    bare = "SELECT SUM(CAST(l_quantity AS BIGINT)) AS s FROM {t}"
    spark_bare = spark.sql(bare.format(t="li_frac")).collect()[0].s
    duck_bare = duck_star_fractional.execute(
        bare.format(t="lineitem")
    ).fetchone()[0]
    assert spark_bare != duck_bare

    good = "SELECT SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS s FROM {t}"
    spark_good = spark.sql(good.format(t="li_frac")).collect()[0].s
    duck_good = duck_star_fractional.execute(
        good.format(t="lineitem")
    ).fetchone()[0]
    assert spark_good == duck_good


# --- planted PII redaction proof (wave 95) ----------------------------------


@pytest.fixture(scope="module")
def pii_docs_sf(tmp_path_factory):
    """10% of documents get a seeded email + phone appended — the clean
    corpus has neither, so without this fixture llm_pii_redact_apply's
    green would only prove both engines agree on a no-op."""
    d = tmp_path_factory.mktemp("piidocs")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN doc_id % 10 = 0
                 THEN text || ' Contact alice.smith+test@example-mail.org'
                          || ' or call +1 (415) 555-0137 today.'
                 ELSE text END AS text)
          FROM read_parquet('{SF_DIR}/documents.parquet')
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_pii_redact_fires_and_matches_on_planted_docs(
    spark, registry, pii_docs_sf
):
    spec = registry["llm_pii_redact_apply"]
    df = spec.fn(spark, pii_docs_sf)
    with oracle.connect(pii_docs_sf) as con:
        assert_matches_oracle(df, con, spec.oracle)
    hits = df.filter("n_email > 0 AND n_phone > 0").count()
    assert hits > 0, "planted PII must fire both kernels"


def test_no_plain_cast_on_json_extraction_anywhere():
    """Regression lint for the hardening campaign: a plain CAST chained
    onto a JSON extraction is the exact pattern that crashes (ANSI Spark)
    or errors (DuckDB) on malformed payloads — every extraction must go
    through try_cast/TRY_CAST. Static sweep over all operator sources."""
    import pathlib
    import re

    ops = pathlib.Path(__file__).resolve().parents[1] / (
        "training_feed_kinesis_spark"
    )
    offenders = []
    # one level of nested parens allowed (F.get_json_object(F.col(...), ...))
    _args = r"(?:[^()]|\([^()]*\))*"
    spark_pat = re.compile(
        rf"get_json_object\({_args}\)\s*\.\s*cast\(", re.MULTILINE | re.DOTALL
    )
    duck_pats = [
        re.compile(r"(?<![A-Z_])CAST\(\s*json_extract", re.IGNORECASE),
        re.compile(
            rf"json_extract(?:_string)?\({_args}\)\s*::", re.IGNORECASE
        ),
    ]
    # round-6 extension: even TRY_CAST is divergent when chained RAW onto
    # an extraction (DuckDB rounds '3.9'→4, accepts '1e3' and '1_000');
    # every numeric extraction must go through the regex-gated shared
    # spellings in _json_compat, where these patterns are allowed to live
    ungated_pats = [
        re.compile(r"TRY_CAST\(\s*json_extract", re.IGNORECASE),
        re.compile(
            rf"get_json_object\({_args}\)\s*\.\s*try_cast\(",
            re.MULTILINE | re.DOTALL,
        ),
    ]
    for f in sorted(ops.rglob("*.py")):
        src = f.read_text()
        for m in spark_pat.finditer(src):
            offenders.append(f"{f.name}: {m.group(0)[:60]!r} (use try_cast)")
        for p in duck_pats:
            for m in p.finditer(src):
                offenders.append(
                    f"{f.name}: {m.group(0)[:60]!r} (use TRY_CAST)"
                )
        if f.name == "_json_compat.py":
            continue
        for p in ungated_pats:
            for m in p.finditer(src):
                offenders.append(
                    f"{f.name}: {m.group(0)[:60]!r}"
                    " (use the _json_compat gated spellings)"
                )
    assert not offenders, offenders


# Payloads reproducing every probe-verified double/string divergence
# (round 6): DuckDB TRY_CAST rounds/accepts where Spark NULLs
# ('1_000'), unquoted NaN/Infinity are valid JSON only to DuckDB,
# DuckDB re-renders JSON numbers ('1e3'→'1000.0', big int → '...0.0')
# while Spark returns raw tokens, and both engines accept non-finite
# and whitespace/sign-lenient numerals that must never reach a cast.
ADVERSARIAL_JSON = [
    '{"k": 3.9}',
    '{"k": "3.9"}',
    '{"k": 1e3}',
    '{"k": "1e3"}',
    '{"k": NaN}',
    '{"k": "NaN"}',
    '{"k": Infinity}',
    '{"k": "-Infinity"}',
    '{"k": "1_000"}',
    '{"k": 100000000000000000000}',
    '{"k": -0.0}',
    '{"k": 1.50}',
    '{"k": "abc"}',
    '{"k": ""}',
    '{"k": "+5"}',
    '{"k": " 5 "}',
    '{"k": "5."}',
    '{"k": ".5"}',
    '{"k": true}',
    '{"k": null}',
    '{"k": [1, 2]}',
    '{"k": {"a": 1}}',
    '{k: ',
    "{}",
    None,
]


def test_json_double_and_string_spellings_cross_engine(spark):
    """The shared double/string spellings must agree cell-for-cell on
    every adversarial payload — including the ones where the engines'
    RAW extractions demonstrably differ."""
    import math

    from training_feed_kinesis_spark.operators._json_compat import (
        duck_json_double,
        duck_json_string,
        spark_json_double,
        spark_json_string,
    )

    rows = [(i, p) for i, p in enumerate(ADVERSARIAL_JSON)]
    df = spark.createDataFrame(rows, "id int, j string")
    got = {
        r.id: (r.d, r.s)
        for r in df.select(
            "id",
            spark_json_double("j", "$.k").alias("d"),
            spark_json_string("j", "$.k").alias("s"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id INT, j VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    exp = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT id, {duck_json_double('j', '$.k')} AS d,"
            f" {duck_json_string('j', '$.k')} AS s FROM t"
        ).fetchall()
    }
    for i, payload in rows:
        sd, ss = got[i]
        dd, ds = exp[i]
        assert sd is None or math.isfinite(sd), (payload, sd)
        assert sd == dd or (sd is None and dd is None), (payload, sd, dd)
        assert ss == ds, (payload, ss, ds)
    # non-vacuity: the gates must actually pass real values through
    assert got[0][0] == 3.9 and got[12][1] == "abc"


# --- corruption class: special floats in the measure column ------------------
# DuckDB STDDEV/VAR/CORR hard-error on NaN input ("Out of Range") while
# Spark returns NaN — the engines fail NON-COMPARABLY, so NaN/Inf must be
# caught at admission (dq_value_finite_census), not handled per-consumer.
# The consumers replayed here are the ones whose contracts survive
# pollution identically in both engines: pure counting/sequencing ops
# (value never read) and SUM-based ops (NaN propagates to the same groups
# both sides; the comparator canonicalizes NaN like the driver's hash).
# Stats consumers (zscore/stddev/corr over value) are intentionally NOT
# replayed: their oracle spelling errors on NaN by engine design — the
# census gate is their documented precondition.

SPECIAL_FLOAT_CONSUMERS = [
    "events_dau_wau",
    "events_hour_heatmap",
    "events_path_topk",
    "events_peak_concurrency",
    "retention_cohorts",
    "funnel_conversion",
    "batch_sessionize",
    "stream_tumbling",
    "join_stream_static",
    "stream_cdc_merge",
    "dq_value_finite_census",
    # Ordering-sensitive consumers: both engines sort NaN GREATEST
    # (above +Inf, below NULLS LAST — probe r6), so rank/lag/top-k over
    # a polluted value column still agree row-for-row. RANGE frames are
    # intentionally absent: a NaN ordering key poisons the frame-bound
    # arithmetic itself (NaN ± x), which is the census gate's job.
    "win_ranking",
    "win_lag_lead",
    "win_frame_rows",
    "win_value",
    "topk_per_group",
]


@pytest.fixture(scope="module")
def specialfloat_sf(tmp_path_factory):
    """~3% NaN, ~2.7% +Inf, ~2.4% -Inf, ~2.3% NULL planted in
    events.value on disjoint-precedence slivers (NaN wins ties)."""
    d = tmp_path_factory.mktemp("nanfsf")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN event_id % 31 = 1 THEN 'NaN'::DOUBLE
                 WHEN event_id % 37 = 2 THEN 'Infinity'::DOUBLE
                 WHEN event_id % 41 = 3 THEN '-Infinity'::DOUBLE
                 WHEN event_id % 43 = 4 THEN NULL
                 ELSE value END AS value)
          FROM read_parquet('{SF_DIR}/events.parquet')
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_specialfloat(specialfloat_sf):
    with oracle.connect(specialfloat_sf) as con:
        yield con


@pytest.mark.parametrize("key", SPECIAL_FLOAT_CONSUMERS)
def test_ops_survive_special_floats(
    key, spark, registry, specialfloat_sf, duck_specialfloat
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, specialfloat_sf), duck_specialfloat, spec.oracle
    )


def test_finite_census_detects_planted_specials(
    spark, registry, specialfloat_sf
):
    """Every special-float counter must fire on the planted corpus, and
    the finite_* stats must ignore the planted rows entirely."""
    rows = registry["dq_value_finite_census"].fn(spark, specialfloat_sf).collect()
    tot = {
        c: sum(r[c] for r in rows)
        for c in ("n", "n_null", "n_nan", "n_posinf", "n_neginf")
    }
    assert tot["n_nan"] > 0
    assert tot["n_posinf"] > 0
    assert tot["n_neginf"] > 0
    assert tot["n_null"] > 0
    for r in rows:
        if r.finite_min is not None:
            assert math.isfinite(r.finite_min) and math.isfinite(r.finite_max)
            assert math.isfinite(r.finite_sum)


def test_finite_census_clean_corpus_reports_clean(spark, registry):
    """Non-vacuity complement: the clean corpus must show ZERO special
    floats — otherwise the planted-fixture proof above proves nothing."""
    rows = registry["dq_value_finite_census"].fn(spark, SF_DIR).collect()
    assert rows, "census returned no groups"
    for r in rows:
        assert r.n_null == 0 and r.n_nan == 0, r
        assert r.n_posinf == 0 and r.n_neginf == 0, r


# --- corruption class: EMPTY CORPUS (round 6) --------------------------------
# A filter chain, a dead upstream, or a fresh deployment hands every
# operator zero rows. A full-registry census (r6) found 504/537 oracled
# keys already empty-clean and three defect families; the fixed keys are
# replayed here permanently. The one ENGINE divergence found — Spark
# ROLLUP/CUBE/GROUPING SETS return zero rows over an empty relation
# where DuckDB (standard-correctly) emits the grand-total row — cannot
# be fixed spelling-side and is pinned as a documented precondition
# below.

EMPTY_CLEAN_CONSUMERS = [
    # the keys the census caught and r6 fixed (NULL-vs-0 COUNT FILTER
    # mirrors, ANSI zero-divisors, fabricated rows from global aggs)
    "sql_scripting_batch",
    "ml_conformal_interval",
    "vec_pca_power",
    "dq_orphan_census",
    "fn_luhn",
    "events_sequence_regex",
    "events_ab_srm_check",
    "events_cart_abandonment",
    "events_poisson_two_rate",
    "sink_parquet_codecs",
    "agg_approx_percentile_bound",
    # scratch-path keys: explicit read-back schemas (an empty write
    # leaves nothing to infer from) and a no-files guard for binaryFile
    "sink_partitioned",
    "scan_pruned_partitions",
    "sink_dynamic_overwrite",
    "source_binary_files",
    "join_dpp_partitioned",
    # iterative/ratio keys: zero-node teleport guard, NULLIF'd
    # dup-rate and precision/recall denominators
    "graph_pagerank",
    "llm_data_card",
    "llm_dedup_method_matrix",
    # Still loud-fail-on-empty BY DESIGN (documented, not replayed):
    # the iterative series/vector algorithms whose oracles also
    # error or have nothing to emit — ts_croston, ts_holt_linear,
    # ts_holt_winters, ts_turning_points (DuckDB-side sqrt error),
    # vec_farthest_first_init, vec_mmr_rerank,
    # events_attribution_markov_removal, source_kinesis_pyds.
    # A loud error beats a fabricated answer; each needs real input.
    # representative always-were-clean keys across the §2 families
    "agg_basic",
    "agg_stats",
    "filter_compare",
    "join_inner",
    "join_left",
    "win_ranking",
    "topk_per_group",
    "set_union_all",
    "fn_string",
    "q3_shipping_priority",
    "q22_idle_customers",
    "q11_important_parts",
    "revenue_pareto",
    "customer_rfm",
    "llm_dedup_exact",
    # wave 97 (r7): empty-clean by construction — global aggs COALESCE
    # their counters, scalar subqueries go NULL, joins against empty
    # CTEs yield zero rows on both engines
    "llm_wimbd_ngram_sources",
    "ts_cusum_changepoint",
    "stat_brown_forsythe",
    "ts_stl_decompose",
    "dq_order_total_reconcile",
    "llm_langid_confusion",
    "events_dwell_transition",
    "dq_money_magnitude_census",
    # wave 98 (r7): segfit oracle GROUP BY 1 pins the 0-row empty
    # behavior; cohens_d degenerates to one NULL-stats row both engines
    "ts_changepoint_segfit",
    "stat_cohens_d",
    "events_bounce_rate",
    "dq_date_sanity_census",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    """Schema-only copies of every table (parquet schemas preserved)."""
    d = tmp_path_factory.mktemp("emptysf")
    for t in TABLES:
        duckdb.execute(
            f"COPY (SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            f" WHERE 1=0) TO '{d}/{t}.parquet' (FORMAT PARQUET)"
        )
    return str(d)


@pytest.fixture(scope="module")
def duck_empty(empty_sf):
    with oracle.connect(empty_sf) as con:
        yield con


@pytest.mark.parametrize("key", EMPTY_CLEAN_CONSUMERS)
def test_ops_survive_empty_corpus(key, spark, registry, empty_sf, duck_empty):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(spec.fn(spark, empty_sf), duck_empty, spec.oracle)


def test_grouping_sets_empty_divergence_pinned(spark, duck_empty):
    """Document-by-test: over an EMPTY relation Spark's grouping-sets
    family returns ZERO rows while DuckDB emits the SQL-standard
    grand-total row (COUNT=0). agg_rollup/agg_cube/agg_grouping_sets/
    rollup_rank_report/ts_rollup_hierarchy therefore carry a non-empty-
    input precondition. If this assert ever flips, Spark fixed the
    divergence — drop the precondition and add those keys to the
    empty-clean replay above."""
    spark.sql("SELECT 1 AS a WHERE 1=0").createOrReplaceTempView(
        "empty_probe"
    )
    q = "SELECT a, COUNT(*) AS n FROM empty_probe GROUP BY ROLLUP(a)"
    assert spark.sql(q).count() == 0
    duck_empty.execute("CREATE OR REPLACE VIEW empty_probe AS SELECT 1 AS a WHERE 1=0")
    assert len(duck_empty.execute(q).fetchall()) == 1


# Corruption class 7 (round 6, final session) — NULL ATTRIBUTE slivers.
# Every prior class dirtied payloads, measures, keys, or text; the
# low-cardinality attribute columns the sampling/mixture/quality
# families GROUP and STRATIFY on (documents.lang, documents.source,
# embeddings.label) have never carried NULLs. NULL group keys form
# their own group identically in both engines, but ratio/stratum/
# centroid math built on top can diverge (NULL-stratum shares, NTILE
# over NULL keys, centroids of the NULL-label group).

ATTR_TEXT_CONSUMERS = [
    "llm_lang_profile",
    "llm_lang_id",
    "corpus_mix",
    "hist_doclen",
    "sample_per_group",
    "split_train_test",
    "llm_source_winrate",
    "llm_crosssource_dup",
    "llm_mixture_temperature",
    "sample_stratified_neyman",
    # the four this replay caught on first run, now NULL-safe: the
    # codec keys serialize NULL attributes as EMPTY wire fields
    # (concat_ws silently DROPS null fields, shifting columns; DuckDB
    # || nulls the whole line), and the pivot∘unpivot identity is
    # restricted to the enumerated pivot domain on both engines
    "agg_unpivot",
    "fn_csv",
    "fn_str_to_map",
    "source_text",
]

ATTR_LABEL_CONSUMERS = [
    "vec_label_centroid_sim",
    "ml_knn_classify",
    "ml_precision_at_k",
    "ml_kfold_assign",
    "llm_sim_topk",
    "llm_embed_stats",
    # same vote-tiebreak shape as ml_knn_classify (whose NULLS-order
    # divergence this replay caught) — pinned NULLS LAST both engines
    "ml_knn_eval",
]


@pytest.fixture(scope="module")
def attr_null_sf(tmp_path_factory):
    """~6% NULL lang and ~6% NULL source in documents (disjoint-ish
    slivers), ~6% NULL label in embeddings; text/vectors untouched."""
    d = tmp_path_factory.mktemp("attrnullsf")
    for t in TABLES:
        if t not in ("documents", "embeddings"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN doc_id % 17 = 3 THEN NULL ELSE lang END AS lang,
            CASE WHEN doc_id % 19 = 5 THEN NULL ELSE source END AS source)
          FROM read_parquet('{SF_DIR}/documents.parquet')
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN vec_id % 17 = 3 THEN NULL ELSE label END AS label)
          FROM read_parquet('{SF_DIR}/embeddings.parquet')
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_attr_null(attr_null_sf):
    with oracle.connect(attr_null_sf) as con:
        yield con


@pytest.mark.parametrize("key", ATTR_TEXT_CONSUMERS)
def test_doc_attr_ops_survive_null_lang_source(
    key, spark, registry, attr_null_sf, duck_attr_null
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, attr_null_sf), duck_attr_null, spec.oracle
    )


@pytest.mark.parametrize("key", ATTR_LABEL_CONSUMERS)
def test_embedding_ops_survive_null_label(
    key, spark, registry, attr_null_sf, duck_attr_null
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, attr_null_sf), duck_attr_null, spec.oracle
    )


# Corruption class 8 (round 6, final session) — NULL EVENT KEYS. The
# fact table's own identity columns (events.user_id, events.event_type)
# had never carried NULLs; an exhaustive 180-consumer sweep against
# this fixture found 15 real divergences in one pass, all one of four
# seams: (1) Spark NULLS FIRST vs DuckDB NULLS LAST in ordering
# tiebreaks (RFM quintiles, kNN votes), (2) concat_ws dropping null
# fields vs || nulling the whole string (digests, printf lines, seq
# contexts, candidate-key composites), (3) equality joins dropping
# null-key rows where a window spelling groups them (asof pair, bitmap
# join-back, stream enrichments), (4) DuckDB arg_min/arg_max skipping
# NULL value arguments where min_by/max_by return them. Every fix pins
# ONE explicit spelling on both engines; this replay keeps them pinned.

EVENT_KEY_CONSUMERS = [
    # the 15 keys the class caught, now fixed
    "agg_bitmap",
    "agg_first_last",
    "dq_candidate_keys",
    "fn_printf",
    "events_rfm_segmentation",
    "events_seq_train_pairs",
    "sink_parquet_codecs",
    "ts_resample_gapfill",
    "join_asof",
    "join_asof_forward",
    "join_stream_static",
    "join_stream_scd2",
    "join_stream_stream_outer",
    "source_kinesis_pyds",
    "source_kinesis_pyds_stream",
    # wave 99 (r7): SPRT paths — a NULL user_id sliver forms its own
    # NULL variant arm whose window order stays the unique
    # (ts, event_id) key on both engines
    "events_sprt_boundary",
    # always-were-clean representatives across the event families
    "batch_sessionize",
    "funnel_conversion",
    "retention_cohorts",
    "events_dau_wau",
    "events_path_topk",
    "events_markov",
    "events_hour_heatmap",
    "agg_mode",
    "win_running_distinct",
    "topk_per_group",
    # wave 97 (r7): NULL user_id partitions group identically; NULL
    # event_type rides through lag and the (prev, next) grid; the lag
    # order pins ts ASC NULLS LAST on both engines
    "events_dwell_transition",
    # wave 98 (r8, ADVICE r7): elects session entry types over
    # event_type via the chr(1) sentinel and partitions by user_id —
    # exactly the columns this fixture nulls
    "events_bounce_rate",
]


@pytest.fixture(scope="module")
def event_key_null_sf(tmp_path_factory):
    """~5% NULL event_type and ~4% NULL user_id in events (overlapping
    slivers); ts/value/props untouched."""
    d = tmp_path_factory.mktemp("evkeynullsf")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN event_id % 21 = 4 THEN NULL ELSE event_type END
              AS event_type,
            CASE WHEN event_id % 23 = 6 THEN NULL ELSE user_id END
              AS user_id)
          FROM read_parquet('{SF_DIR}/events.parquet')
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_event_key_null(event_key_null_sf):
    with oracle.connect(event_key_null_sf) as con:
        yield con


@pytest.mark.parametrize("key", EVENT_KEY_CONSUMERS)
def test_event_ops_survive_null_keys(
    key, spark, registry, event_key_null_sf, duck_event_key_null
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, event_key_null_sf), duck_event_key_null, spec.oracle
    )


# --- document re-ingest corruption (round 7 final session) -------------------

# The documents table had never been stressed with the two re-ingest
# signatures every fetch pipeline produces: DUPLICATED doc_id rows
# (verbatim redelivery AND conflicting refetch) and NULL text/n_chars
# (failed fetches). An exhaustive 148-consumer sweep against the combined
# fixture found 27 divergences in five seams, each now pinned to ONE
# spelling on both engines:
#   1. per-row shingle/fingerprint substrates inflating count-based
#      Jaccard multiplicatively (set semantics: DISTINCT (doc_id, sh),
#      per-version winnow windows, array-grain version merge);
#   2. NTILE/RANK windows ordered by a now-NULLable measure (Spark
#      NULLS FIRST vs DuckDB NULLS LAST — complete-case filters);
#   3. the unquoted-wire NULL conventions missing one field (fn_csv /
#      fn_str_to_map / source_text), plus DuckDB split_part(NULL)=''
#      vs Spark NULL (fn_sentences);
#   4. Python kernels crashing on None payloads (quarantine filters,
#      NULL-transparent UDTFs, MIN-content-hash file-sink keeper);
#   5. DuckDB's bare OVER(ORDER BY) RANGE default folding duplicate-id
#      PEERS into running sums (llm_pack_chunks explicit ROWS frame).
DOC_REINGEST_CONSUMERS = [
    # the 27 keys the sweep caught, now fixed
    "fn_array_setops",
    "fn_csv",
    "fn_sentences",
    "fn_str_to_map",
    "hist_equidepth",
    "llm_bigram_interp_nll",
    "llm_crosssource_dup",
    "llm_curriculum_order",
    "llm_dedup_method_matrix",
    "llm_dedup_near",
    "llm_dedup_threshold_sweep",
    "llm_jaccard_pairs",
    "llm_multimodal_features",
    "llm_pack_chunks",
    "llm_preference_pairs",
    "llm_quality_router",
    "llm_source_winrate",
    "llm_winnow",
    "llm_winnow_pairs",
    "multimodal_byte_entropy",
    "multimodal_byte_stats",
    "multimodal_image_decode_bmp",
    "source_binary_files",
    "source_text",
    "stream_dedup_near_incremental",
    "udtf_polymorphic",
    "udtf_split",
    # caught by the post-fix re-sweep: its oracle inlined the pre-fix
    # per-row shingle spelling while the Spark side took the shared
    # substrate — the df cap then counted duplicates on one engine only
    "llm_stopshingle_jaccard",
    # always-were-clean representatives across the doc families
    "llm_text_tokens",
    "llm_tfidf",
    "llm_dedup_exact",
    "llm_dup_span_census",
    "llm_rouge1_overlap",
    "llm_source_domain_cap",
    "dq_text_printable_census",
    "llm_contamination",
]


@pytest.fixture(scope="module")
def doc_reingest_sf(tmp_path_factory):
    """~4% NULL text+n_chars (failed fetch), ~3% verbatim re-ingested
    duplicate doc_id rows, ~2.4% conflicting refetch (same doc_id,
    different payload)."""
    d = tmp_path_factory.mktemp("docreingest")
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT doc_id,
                 CASE WHEN doc_id % 25 = 7 THEN NULL ELSE text END AS text,
                 lang, source,
                 CASE WHEN doc_id % 25 = 7 THEN NULL ELSE n_chars END
                   AS n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
          UNION ALL
          SELECT doc_id, text, lang, source, n_chars
          FROM read_parquet('{SF_DIR}/documents.parquet')
          WHERE doc_id % 31 = 2
          UNION ALL
          SELECT doc_id, 'conflicting refetch body ' || doc_id AS text,
                 lang, source,
                 CAST(25 + length(CAST(doc_id AS VARCHAR)) AS BIGINT)
          FROM read_parquet('{SF_DIR}/documents.parquet')
          WHERE doc_id % 41 = 3
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_doc_reingest(doc_reingest_sf):
    with oracle.connect(doc_reingest_sf) as con:
        yield con


@pytest.mark.parametrize("key", DOC_REINGEST_CONSUMERS)
def test_doc_ops_survive_reingest_corruption(
    key, spark, registry, doc_reingest_sf, duck_doc_reingest
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, doc_reingest_sf), duck_doc_reingest, spec.oracle
    )


def test_dup_pk_census_detects_doc_reingest(
    spark, registry, doc_reingest_sf
):
    """The admission gate in front of the fixed consumers: the documents
    row of dq_duplicate_pk_census must report the planted duplicate
    excess (verbatim + conflicting re-ingest rows)."""
    rows = {
        r["tbl"]: r
        for r in registry["dq_duplicate_pk_census"]
        .fn(spark, doc_reingest_sf)
        .collect()
    }
    d = rows["documents"]
    assert d["dup_excess"] > 0
    assert d["max_multiplicity"] >= 2


# --- embedding re-ingest corruption (round 7 final session) ------------------

# The vector twin of DOC_REINGEST: NULL embeddings (failed embed jobs),
# verbatim re-delivered duplicate vec_id rows, and conflicting refetches
# (same vec_id, negated vector + shifted label). A 37-consumer sweep
# found 13 divergences; the one-spelling fix is the shared ADMISSION
# GATE (llm_similarity.load_embeddings_admitted / VEC_ADMIT_SQL):
# non-NULL vectors, one deterministic version per vec_id — keeper
# elected on the md5 of a canonical integer rendering (1e-4 grain), so
# the choice never depends on engine float formatting. fn_array instead
# pins Spark's explode-drops-NULL semantics in its oracle.
VEC_REINGEST_CONSUMERS = [
    # the 13 keys the sweep caught, now gated
    "fn_array",
    "llm_embed_stats",
    "llm_semdedup_cell",
    "llm_sim_topk",
    "ml_kmeans_step",
    "ml_knn_eval",
    "ml_linear_score",
    "vec_binary_sign_search",
    "vec_energy_profile",
    "vec_pca_power",
    "vec_pq_codebook",
    "vec_sq8_recall",
    "vec_twostage_rerank",
    # always-were-clean representatives across the vector families
    "llm_dedup_embed",
    "vec_dim_stats",
    "vec_norm_outliers",
    "vec_mmr_rerank",
    "dq_embedding_validate",
    "vec_label_centroid_sim",
    "vec_cosine_hist",
]


@pytest.fixture(scope="module")
def vec_reingest_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("vecreingest")
    for t in TABLES:
        if t != "embeddings":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT vec_id,
                 CASE WHEN vec_id % 25 = 7 THEN NULL ELSE embedding END
                   AS embedding,
                 CASE WHEN vec_id % 25 = 7 THEN NULL ELSE label END AS label
          FROM read_parquet('{SF_DIR}/embeddings.parquet')
          UNION ALL
          SELECT vec_id, embedding, label
          FROM read_parquet('{SF_DIR}/embeddings.parquet')
          WHERE vec_id % 31 = 2
          UNION ALL
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(-x AS FLOAT))
                   AS embedding,
                 (label + 1) % 4 AS label
          FROM read_parquet('{SF_DIR}/embeddings.parquet')
          WHERE vec_id % 41 = 3
        ) TO '{d}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_vec_reingest(vec_reingest_sf):
    with oracle.connect(vec_reingest_sf) as con:
        yield con


@pytest.mark.parametrize("key", VEC_REINGEST_CONSUMERS)
def test_vec_ops_survive_reingest_corruption(
    key, spark, registry, vec_reingest_sf, duck_vec_reingest
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, vec_reingest_sf), duck_vec_reingest, spec.oracle
    )


def test_vec_gates_detect_reingest(spark, registry, vec_reingest_sf):
    """Detection side of the admission gate: the embedding validator
    must count the planted NULL vectors, and the dup-PK census must
    report the duplicate vec_id excess."""
    rows = (
        registry["dq_embedding_validate"].fn(spark, vec_reingest_sf)
        .collect()
    )
    # the 20 planted NULL vectors land in the NULL-label row's n_null
    assert sum(r["n_null"] for r in rows) == 20
    null_row = [r for r in rows if r["label"] is None]
    assert null_row and null_row[0]["n_null"] == 20
    pk = {
        r["tbl"]: r
        for r in registry["dq_duplicate_pk_census"]
        .fn(spark, vec_reingest_sf)
        .collect()
    }
    assert pk["embeddings"]["dup_excess"] > 0


# --- events redelivery corruption (round 7 final session) --------------------

# Duplicate event_id rows in the BATCH events table: verbatim redelivery
# and conflicting redelivery (same event_id and ts, doubled value). A
# 204-consumer sweep found six divergences: three batch seams (OHLC's
# open/close election tied on (ts, event_id); the codec digest's
# ORDER BY event_id alone; RANK vs sequential rank in the grouped-map
# oracle) — fixed to one spelling — and the three exactly-once dedup
# machines (stream_dedup, stream_dedup_watermark, stream_backfill_union),
# whose CONTRACT is to disagree with raw-table SQL on a duplicated
# source: their precondition (unique event_id in the batch table, the
# transport's redelivery handled separately) is documented and gated by
# dq_duplicate_pk_census; the invariant test below pins that they still
# deduplicate correctly — counts collapse to the distinct-id answer.
EVENTS_REDELIVERY_CONSUMERS = [
    # the three batch keys the sweep caught, now fixed
    "ts_ohlc",
    "sink_parquet_codecs",
    "udf_grouped_map",
    # always-were-clean representatives across the event families
    "batch_sessionize",
    "funnel_conversion",
    "retention_cohorts",
    "events_dau_wau",
    "events_markov",
    "events_hour_heatmap",
    "events_dwell_transition",
    "events_sprt_boundary",
    "events_bounce_rate",
    "win_ranking",
    "agg_first_last",
    "dq_duplicate_pk_census",
]


@pytest.fixture(scope="module")
def ev_redelivery_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("evredelivery")
    for t in TABLES:
        if t != "events":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SF_DIR}/events.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/events.parquet')
          WHERE event_id % 31 = 2
          UNION ALL
          SELECT event_id, ts, user_id, event_type, value * 2 AS value,
                 props FROM read_parquet('{SF_DIR}/events.parquet')
          WHERE event_id % 41 = 3
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_ev_redelivery(ev_redelivery_sf):
    with oracle.connect(ev_redelivery_sf) as con:
        yield con


@pytest.mark.parametrize("key", EVENTS_REDELIVERY_CONSUMERS)
def test_event_ops_survive_redelivery(
    key, spark, registry, ev_redelivery_sf, duck_ev_redelivery
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, ev_redelivery_sf), duck_ev_redelivery, spec.oracle
    )


@pytest.mark.parametrize(
    "key", ["stream_dedup", "stream_backfill_union"]
)
def test_stream_dedup_collapses_redelivered_source(
    key, spark, registry, ev_redelivery_sf, duck_ev_redelivery
):
    """The dedup machines' invariant on a duplicated SOURCE: per-type
    counts collapse to the distinct-event_id answer (which copy's VALUE
    survives a conflicting redelivery is arrival-order semantics by
    design, so values are not asserted)."""
    rows = {
        r["event_type"]: r["n"]
        for r in registry[key].fn(spark, ev_redelivery_sf).collect()
    }
    expected = dict(
        duck_ev_redelivery.execute(
            "SELECT event_type, COUNT(DISTINCT event_id) FROM events"
            " GROUP BY event_type"
        ).fetchall()
    )
    assert rows == expected


# --- NULL ORDERING KEYS (round 8, ADVICE r7) ---------------------------------

# The running-window families order by time keys that had never carried
# NULLs in any fixture: events.ts (sessionization, SPRT paths, dwell)
# and the day series derived from orders.o_orderdate (CUSUM prefix,
# segment fits, STL, Ljung-Box). Spark defaults ASC NULLS FIRST while
# DuckDB defaults NULLS LAST, so a NULL time sliver sits at OPPOSITE
# ends of every unbounded-preceding window — silently shifting session
# ids, SPRT t-numbering, and every prefix sum/lag — without changing a
# single group key. The one-spelling fix is IS NOT NULL on both engines
# (the _FISHER_GROUP_SQL discipline): a NULL-timestamped event/order
# has no position on a timeline, so dropping it is the only
# engine-symmetric semantics. dq_date_sanity_census is the detection
# side (NULL dates counted as expected corruption).

NULL_TIME_EVENT_CONSUMERS = [
    # the ADVICE r7 seam keys, now filtered
    "events_bounce_rate",
    "events_sprt_boundary",
    # pinned asc_nulls_last before this fixture existed; replay keeps it
    "events_dwell_transition",
    # always-were-clean representatives over ts windows
    "batch_sessionize",
    "funnel_conversion",
    "ts_resample_gapfill",
    "events_seq_train_pairs",
    "win_frame_time_range",
    # the r8 EXHAUSTIVE sweep (all 563 oracled keys vs this fixture at
    # sf0.01) found 39 more live divergences beyond the targeted list;
    # every one fixed to a single spelling and pinned here. Sequence/
    # path/markov + asof + scd2 + sink families drop NULL time keys on
    # both engines (an untimestamped event has no sequence/as-of/
    # partition position — and DuckDB's sort-based ASOF treats a NULL
    # probe ts as +inf where Spark's NULLS FIRST matches nothing);
    # pure window-surface keys pin ts ASC NULLS LAST instead, keeping
    # every row under an engine-identical order.
    "events_markov",
    "events_markov_absorption",
    "events_attribution_markov_removal",
    "events_path_topk",
    "events_sequence_regex",
    "events_cart_abandonment",
    "graph_pagerank",
    "join_asof",
    "join_asof_forward",
    "join_asof_nearest",
    "join_asof_tolerance",
    "scd2_intervals",
    "sink_dynamic_overwrite",
    "sql_named_window",
    "win_frame_rows",
    "win_ignore_nulls",
    "win_lag_lead",
    "win_rolling_median",
    "win_running_distinct",
    "win_value",
]

# streaming consumers: NULL event-time rows dropped at the stream source
# on both engines — an event with no event time has no window, session,
# join interval, or migration epoch; sentinel rows carry far-future ts
# and survive the filter
NULL_TIME_STREAM_CONSUMERS = [
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_dedup_watermark",
    "stream_stateful_timeout",
    "stream_chained_aggs",
    "stream_session_dynamic_gap",
    "stream_topk_windowed",
    "stream_backfill_union",
    "join_stream_scd2",
    "join_stream_stream_outer",
]

NULL_TIME_DAY_CONSUMERS = [
    # the ADVICE r7 seam keys (all ride the o_orderdate day grain)
    "ts_cusum_changepoint",
    "ts_changepoint_segfit",
    "ts_stl_decompose",
    "ts_ljung_box",
    # sibling day-series keys over the same substrate
    "ts_ewma",
    "ts_theil_sen",
    "ts_seasonal_dow",
    "ts_holt_linear",
    "dq_date_sanity_census",
    # the r8 exhaustive-sweep finds over ts/o_orderdate day grains
    "ts_autocorr",
    "ts_page_hinkley",
    "ts_snaive_backtest",
    "ts_holt_winters",
    "ts_pinball_loss",
    "ts_index_rebase",
    "ts_gap_islands",
    "ts_ohlc",
    "ts_variance_ratio",
    "orders_interarrival",
    # second-pass finds: the wave-78 shared daily-cents substrate (fixed
    # AT the substrate, covering all four consumers) and ts_best_split
    "ts_best_split",
    "ts_seasonal_strength",
    "ts_bollinger_breakout",
    "ts_croston",
    "ts_turning_points",
    # third-pass finds — the quantize-the-float-SUM class: ROUND(SUM(
    # value)) of a FLOAT sum differs between engines when the physical
    # row order puts a knife-edge day on different rounding sides
    # (reproduced: regenerating the fixture flipped stat_runs_test's
    # runs count and ts_effective_sample_size's rho1). Fixed by per-row
    # quantization (SUM(CAST(ROUND(value*100,0) AS BIGINT)) — exact,
    # order-free) across 22 sites in ten modules, plus NULL-day filters;
    # a 6x-regenerated-fixture knife-edge test pinned zero divergences.
    "stat_runs_test",
    "ts_effective_sample_size",
    "ts_haar_energy",
    "ts_sax_similarity",
    "ts_forecast_mase",
    "ts_hier_reconcile",
    "events_interrupted_ts",
    "stat_hodges_lehmann",
    "stat_kendall_tau",
    "stat_theil_sen",
]


@pytest.fixture(scope="module")
def null_time_sf(tmp_path_factory):
    """~4% NULL ts in events and ~3% NULL o_orderdate in orders; every
    other column untouched."""
    d = tmp_path_factory.mktemp("nulltimesf")
    for t in TABLES:
        if t not in ("events", "orders"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN event_id % 27 = 8 THEN NULL ELSE ts END AS ts)
          FROM read_parquet('{SF_DIR}/events.parquet')
        ) TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN o_orderkey % 29 = 9 THEN NULL ELSE o_orderdate END
              AS o_orderdate)
          FROM read_parquet('{SF_DIR}/orders.parquet')
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_null_time(null_time_sf):
    with oracle.connect(null_time_sf) as con:
        yield con


@pytest.mark.parametrize(
    "key",
    NULL_TIME_EVENT_CONSUMERS
    + NULL_TIME_STREAM_CONSUMERS
    + NULL_TIME_DAY_CONSUMERS,
)
def test_time_ordered_ops_survive_null_time_keys(
    key, spark, registry, null_time_sf, duck_null_time
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, null_time_sf), duck_null_time, spec.oracle
    )


def test_null_time_fixture_is_nonvacuous(null_time_sf):
    """The slivers must actually exist, or every replay above passes
    for the wrong reason."""
    n_ev = duckdb.execute(
        f"SELECT COUNT(*) FROM read_parquet('{null_time_sf}/events.parquet')"
        " WHERE ts IS NULL"
    ).fetchone()[0]
    n_ord = duckdb.execute(
        f"SELECT COUNT(*) FROM read_parquet('{null_time_sf}/orders.parquet')"
        " WHERE o_orderdate IS NULL"
    ).fetchone()[0]
    assert n_ev > 0 and n_ord > 0


# --- DIM CORRUPTION: region/nation (round 8, VERDICT r7 item 8) -------------

# The tiny dimensions feed every TPC-H shape's broadcast side and had
# never been stressed like events/documents/embeddings/orders. Shapes:
# NULL r_name on a region NOT filtered by the hot queries (AFRICA — the
# first campaign draft nulled ASIA and turned q5/q8 into vacuous 0-row
# greens), a VERBATIM duplicate of the hot filtered region row (ASIA),
# verbatim-redelivered nation rows, and conflicting nation refetches
# (lowercased n_name). A 28-consumer sweep found ONE divergence:
# q8_market_share resolved customer-region membership by left_semi on
# Spark but a plain join chain in the oracle — equivalent only on
# duplicate-free dims (the duplicated region row fanned out the oracle's
# customer side ×2, shifting every year's share). Fixed to the semi
# spelling on both engines (membership is a set test, not a fan-out);
# nation payload joins (supplier nation name) fan out IDENTICALLY on
# both engines by design and the hash gate holds.

DIM_CORRUPT_CONSUMERS = [
    # the one the campaign caught, now fixed
    "q8_market_share",
    # broadcast-dim join family and TPC-H shapes over region/nation
    "join_broadcast",
    "join_cross",
    "join_multiway",
    "join_inner",
    "join_left",
    "join_full",
    "join_semi",
    "join_anti",
    "q5_local_supplier",
    "q7_volume_shipping",
    "q9_product_profit",
    "q21_waiting_supplier",
    "agg_rollup",
    "rollup_rank_report",
    "agg_listagg",
    "cbo_join_reorder",
    "supplier_concentration_hhi",
    "dq_orphan_census",
    # the detection side itself must oracle-match on the corruption it
    # exists to flag (r8 ADVICE: NULL-FK / NULL-PK anti-join vs NOT IN)
    "dq_dim_conformity",
]


@pytest.fixture(scope="module")
def dim_corrupt_sf(tmp_path_factory):
    """region: NULL r_name for AFRICA + verbatim duplicate of ASIA + a
    NULL-PK ghost row (NULL r_regionkey — poisons NOT IN for every
    unmatched key, the r8 ADVICE seam); nation: verbatim redelivery
    (n_nationkey % 7 = 2) + conflicting refetch with lowercased n_name
    (n_nationkey % 11 = 3) + a NULL-FK refetch of nation 6 + an
    orphan-FK row (n_regionkey = 999, no such region)."""
    d = tmp_path_factory.mktemp("dimcorrupt")
    for t in TABLES:
        if t not in ("region", "nation"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT r_regionkey,
                 CASE WHEN r_regionkey = 0 THEN NULL ELSE r_name END
                   AS r_name
          FROM read_parquet('{SF_DIR}/region.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/region.parquet')
          WHERE r_regionkey = 2
          UNION ALL
          SELECT CAST(NULL AS INTEGER) AS r_regionkey,
                 'LIMBO' AS r_name
        ) TO '{d}/region.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SF_DIR}/nation.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/nation.parquet')
          WHERE n_nationkey % 7 = 2
          UNION ALL
          SELECT n_nationkey, lower(n_name) AS n_name, n_regionkey
          FROM read_parquet('{SF_DIR}/nation.parquet')
          WHERE n_nationkey % 11 = 3
          UNION ALL
          SELECT n_nationkey, n_name, CAST(NULL AS INTEGER) AS n_regionkey
          FROM read_parquet('{SF_DIR}/nation.parquet')
          WHERE n_nationkey = 6
          UNION ALL
          SELECT CAST(99 AS INTEGER) AS n_nationkey,
                 'ATLANTIS' AS n_name, CAST(999 AS INTEGER) AS n_regionkey
        ) TO '{d}/nation.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_dim_corrupt(dim_corrupt_sf):
    with oracle.connect(dim_corrupt_sf) as con:
        yield con


@pytest.mark.parametrize("key", DIM_CORRUPT_CONSUMERS)
def test_dim_ops_survive_corrupted_dims(
    key, spark, registry, dim_corrupt_sf, duck_dim_corrupt
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, dim_corrupt_sf), duck_dim_corrupt, spec.oracle
    )


def test_dim_corrupt_fixture_nonvacuous(dim_corrupt_sf, spark, registry):
    """The hot filtered region (ASIA) must still produce rows under
    corruption — the first campaign draft nulled ASIA itself and every
    ASIA-filtered query passed vacuously at 0 rows."""
    import duckdb as _dd

    n = _dd.execute(
        f"SELECT COUNT(*) FROM"
        f" read_parquet('{dim_corrupt_sf}/region.parquet')"
        " WHERE r_name = 'ASIA'"
    ).fetchone()[0]
    assert n == 2  # original + verbatim duplicate
    rows = registry["q8_market_share"].fn(spark, dim_corrupt_sf).count()
    assert rows > 0


# --- CUSTOMER re-ingest corruption (round 8, third campaign) -----------------

# The customer table had never been stressed with the re-ingest
# signatures: verbatim re-delivered duplicate c_custkey rows, conflicting
# refetches (re-cased name, NULL segment, penny-shifted balance), and a
# NULL c_nationkey sliver. A 54-consumer sweep found TWO genuine bugs:
# set_except spelled SQL EXCEPT as exceptAll().distinct(), equivalent
# only on a duplicate-free left side (a key appearing twice left / once
# right survived — fixed to subtract(), the true set difference); and
# q8_market_share's oracle still fanned out through the plain
# customer-join hop where Spark used left_semi (the region/nation find,
# one table deeper — the oracle now spells the WHOLE membership chain
# as nested INs).

CUST_REINGEST_CONSUMERS = [
    # the two the campaign caught, now fixed
    "set_except",
    "q8_market_share",
    # join/setop/TPC-H/analytics representatives over customer
    "join_inner",
    "join_left",
    "join_semi",
    "join_anti",
    "join_multiway",
    "set_union_distinct",
    "set_intersect",
    "set_except_all",
    "set_intersect_all",
    "q3_shipping_priority",
    "q10_returned_items",
    "q13_order_distribution",
    "q22_idle_customers",
    "customer_rfm",
    "customer_gini",
    "customer_migration_matrix",
    "dq_kanonymity",
    "dq_orphan_census",
    "dq_duplicate_pk_census",
]


@pytest.fixture(scope="module")
def cust_reingest_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("custreingest")
    for t in TABLES:
        if t != "customer":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN c_custkey % 23 = 4 THEN NULL ELSE c_nationkey END
              AS c_nationkey)
          FROM read_parquet('{SF_DIR}/customer.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/customer.parquet')
          WHERE c_custkey % 31 = 2
          UNION ALL
          SELECT * REPLACE (upper(c_name) AS c_name,
                            NULL AS c_mktsegment,
                            c_acctbal + 0.01 AS c_acctbal)
          FROM read_parquet('{SF_DIR}/customer.parquet')
          WHERE c_custkey % 41 = 3
        ) TO '{d}/customer.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_cust_reingest(cust_reingest_sf):
    with oracle.connect(cust_reingest_sf) as con:
        yield con


@pytest.mark.parametrize("key", CUST_REINGEST_CONSUMERS)
def test_customer_ops_survive_reingest(
    key, spark, registry, cust_reingest_sf, duck_cust_reingest
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, cust_reingest_sf), duck_cust_reingest, spec.oracle
    )


def test_cust_reingest_fixture_nonvacuous(cust_reingest_sf):
    dup = duckdb.execute(
        f"SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM"
        f" read_parquet('{cust_reingest_sf}/customer.parquet')"
    ).fetchone()[0]
    assert dup > 0


# --- SUPPLIER + PART re-ingest corruption (round 9 campaign) -----------------

# The last two unstressed tables. Signatures mirror the customer
# campaign: verbatim re-delivered duplicate PK rows, conflicting
# refetches (re-cased names, NULL attribute slivers, penny-shifted
# money/price), and a NULL-FK sliver (s_nationkey). One joint fixture
# corrupts BOTH tables because they co-occur in q2/q9/q16/q20 — the
# interaction (duplicated supplier x duplicated part through lineitem)
# is the scary case a one-table fixture cannot exercise.

SUPP_PART_REINGEST_CONSUMERS = [
    # TPC-H shapes over supplier and/or part
    "q2_shape_synthetic",
    "q5_local_supplier",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_supplier_variety",
    "q17_small_quantity",
    "q19_disjunctive_revenue",
    "q20_stock_suppliers",
    "q21_waiting_supplier",
    # string/scan/function family reading part
    "filter_like",
    "fn_string",
    "fn_regex",
    "fn_regexp_extract_all",
    "fn_collation_ci",
    "join_fuzzy",
    "scan_parquet",
    # analytics over supplier/part
    "rollup_rank_report",
    "supplier_concentration_hhi",
    "graph_modularity_brand",
    # detection side: both censuses must oracle-match ON the corruption
    "dq_orphan_census",
    "dq_duplicate_pk_census",
]


@pytest.fixture(scope="module")
def supp_part_reingest_sf(tmp_path_factory):
    """supplier: NULL s_nationkey sliver (s_suppkey % 23 = 4), verbatim
    redelivery (% 13 = 5), conflicting refetch (% 17 = 6: UPPER name +
    penny-shifted acctbal); part: verbatim redelivery (p_partkey % 19 =
    7), conflicting refetch (% 29 = 8: lower p_type, NULL p_brand,
    penny-shifted retailprice), NULL p_size sliver (% 37 = 9)."""
    d = tmp_path_factory.mktemp("supppartreingest")
    for t in TABLES:
        if t not in ("supplier", "part"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN s_suppkey % 23 = 4 THEN NULL ELSE s_nationkey END
              AS s_nationkey)
          FROM read_parquet('{SF_DIR}/supplier.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/supplier.parquet')
          WHERE s_suppkey % 13 = 5
          UNION ALL
          SELECT * REPLACE (upper(s_name) AS s_name,
                            s_acctbal + 0.01 AS s_acctbal)
          FROM read_parquet('{SF_DIR}/supplier.parquet')
          WHERE s_suppkey % 17 = 6
        ) TO '{d}/supplier.parquet' (FORMAT PARQUET)
        """
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT * REPLACE (
            CASE WHEN p_partkey % 37 = 9 THEN NULL ELSE p_size END
              AS p_size)
          FROM read_parquet('{SF_DIR}/part.parquet')
          UNION ALL
          SELECT * FROM read_parquet('{SF_DIR}/part.parquet')
          WHERE p_partkey % 19 = 7
          UNION ALL
          SELECT * REPLACE (lower(p_type) AS p_type,
                            NULL AS p_brand,
                            p_retailprice + 0.01 AS p_retailprice)
          FROM read_parquet('{SF_DIR}/part.parquet')
          WHERE p_partkey % 29 = 8
        ) TO '{d}/part.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


@pytest.fixture(scope="module")
def duck_supp_part(supp_part_reingest_sf):
    with oracle.connect(supp_part_reingest_sf) as con:
        yield con


@pytest.mark.parametrize("key", SUPP_PART_REINGEST_CONSUMERS)
def test_supplier_part_ops_survive_reingest(
    key, spark, registry, supp_part_reingest_sf, duck_supp_part
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(
        spec.fn(spark, supp_part_reingest_sf), duck_supp_part, spec.oracle
    )


def test_supp_part_fixture_nonvacuous(supp_part_reingest_sf):
    for tbl, pk in (("supplier", "s_suppkey"), ("part", "p_partkey")):
        dup = duckdb.execute(
            f"SELECT COUNT(*) - COUNT(DISTINCT {pk}) FROM"
            f" read_parquet('{supp_part_reingest_sf}/{tbl}.parquet')"
        ).fetchone()[0]
        assert dup > 0, tbl
    # every corruption signature must actually fire (region-campaign
    # lesson: the first draft there nulled the hot region and produced
    # vacuous 0-row greens)
    checks = [
        ("supplier", "s_nationkey IS NULL"),
        ("supplier", "s_name = upper(s_name) AND s_name LIKE '%SUPPLIER%'"),
        ("part", "p_brand IS NULL"),
        ("part", "p_size IS NULL"),
        ("part", "p_type = lower(p_type)"),
    ]
    for tbl, cond in checks:
        n = duckdb.execute(
            f"SELECT COUNT(*) FROM"
            f" read_parquet('{supp_part_reingest_sf}/{tbl}.parquet')"
            f" WHERE {cond}"
        ).fetchone()[0]
        assert n > 0, (tbl, cond)


# --- NULL PRIMARY KEYS (round 9 campaign) ------------------------------------

# The r8 campaigns stressed NULL FKs, NULL attributes, and NULL time
# keys — never NULL PKs on the fact/content tables. An exhaustive
# full-registry sweep over this fixture found 37 divergences in six
# families, each fixed with one spelling per family:
#   basket/graph: a NULL-orderkey line item belongs to NO basket
#     (groupBy was building a spurious mega-basket; the oracle's
#     self-join dropped it) — fixed at the two basket substrates;
#   identity dedup/sampling/packing: identity-keyed operations exclude
#     id-less rows on BOTH engines (dropDuplicates groups all NULLs as
#     one key; md5(NULL) ordering and id-ordered pack offsets diverge);
#   score windows: unscorable rows excluded before score-ordered ranks;
#   order tiebreaks: event_id pinned ASC NULLS LAST both engines;
#   NOT IN denylists: IS NOT NULL guard (one NULL-keyed supplier
#     NULL-poisoned q16 to 0 rows);
#   sources/codecs: empty-field wire convention for NULL ids, parity
#     routing for three-valued filters, NULL-safe sort keys in the
#     Python stream reader, int(None) quarantined before kernels.

NULLPK_CONSUMERS = [
    # basket/graph family (substrate fix)
    "assoc_rules",
    "graph_assortativity",
    "graph_bfs_distance",
    "graph_clustering_coeff",
    "graph_degree",
    "graph_kcore",
    "graph_label_propagation",
    "graph_linkpred_scores",
    "graph_modularity_brand",
    "graph_triangles",
    # embedding identity (admission gate + CC seeds)
    "llm_dedup_clusters",
    "llm_dedup_apply",
    "vec_pca_power",
    "llm_semdedup_cell",
    # id-ordered packing / adjacency
    "llm_shard_integrity",
    "llm_dataloader_epoch_plan",
    "llm_bradley_terry_strength",
    "multimodal_shard_pack",
    # codec kernels
    "llm_multimodal_features",
    "multimodal_image_decode_bmp",
    # score windows
    "ml_auc_rank",
    "ml_isotonic_calibration",
    "ml_permutation_importance",
    # NOT IN denylist
    "q16_supplier_variety",
    # identity sampling
    "sample_per_group",
    "sample_reservoir_fixedk",
    "sample_stratified_neyman",
    "sample_weighted",
    # order tiebreaks
    "sort_nulls_ordering",
    "win_ranking",
    "win_percent_rank_cume",
    # sources
    "source_text",
    "source_schema_evolution",
    # identity dedup streams
    "stream_dedup",
    "stream_dedup_watermark",
    "stream_backfill_union",
    # detection side
    "dq_duplicate_pk_census",
    "dq_orphan_census",
    "dq_key_skew_census",
]


@pytest.fixture(scope="module")
def null_pk_sf(tmp_path_factory):
    """NULL-PK slivers on every PK-bearing fact/content table (~1-3%):
    the re-ingest-with-broken-id signature."""
    d = tmp_path_factory.mktemp("nullpksf")
    specs = {
        "documents": "CASE WHEN doc_id % 41 = 7 THEN NULL ELSE doc_id END"
                     " AS doc_id",
        "embeddings": "CASE WHEN vec_id % 37 = 5 THEN NULL ELSE vec_id END"
                      " AS vec_id",
        "events": "CASE WHEN event_id % 53 = 9 THEN NULL ELSE event_id END"
                  " AS event_id",
        "orders": "CASE WHEN o_orderkey % 61 = 11 THEN NULL"
                  " ELSE o_orderkey END AS o_orderkey",
        "lineitem": "CASE WHEN l_orderkey % 67 = 13 AND l_linenumber = 1"
                    " THEN NULL ELSE l_orderkey END AS l_orderkey",
        "supplier": "CASE WHEN s_suppkey % 29 = 3 THEN NULL"
                    " ELSE s_suppkey END AS s_suppkey",
        "part": "CASE WHEN p_partkey % 43 = 17 THEN NULL"
                " ELSE p_partkey END AS p_partkey",
        "customer": "CASE WHEN c_custkey % 47 = 19 THEN NULL"
                    " ELSE c_custkey END AS c_custkey",
    }
    for t in TABLES:
        if t in specs:
            duckdb.execute(
                f"""
                COPY (SELECT * REPLACE ({specs[t]})
                      FROM read_parquet('{SF_DIR}/{t}.parquet'))
                TO '{d}/{t}.parquet' (FORMAT PARQUET)
                """
            )
        else:
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck_null_pk(null_pk_sf):
    with oracle.connect(null_pk_sf) as con:
        yield con


@pytest.mark.parametrize("key", NULLPK_CONSUMERS)
def test_ops_survive_null_primary_keys(
    key, spark, registry, null_pk_sf, duck_null_pk
):
    spec = registry[key]
    assert spec.oracle is not None, key
    assert_matches_oracle(spec.fn(spark, null_pk_sf), duck_null_pk, spec.oracle)


def test_null_pk_fixture_nonvacuous(null_pk_sf):
    for tbl, pk in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
        ("orders", "o_orderkey"),
        ("lineitem", "l_orderkey"),
        ("supplier", "s_suppkey"),
        ("part", "p_partkey"),
        ("customer", "c_custkey"),
    ):
        n = duckdb.execute(
            f"SELECT COUNT(*) FROM read_parquet('{null_pk_sf}/{tbl}.parquet')"
            f" WHERE {pk} IS NULL"
        ).fetchone()[0]
        assert n > 0, (tbl, pk)
