"""Wave-97 invariants: planted-fixture detection proofs and structural
identities for the round-7 keys (the per-key differential vs DuckDB runs
in test_operators.py; these prove the operators are NON-VACUOUS — the
detectors fire on planted signal, the identities hold row-wise)."""

from __future__ import annotations

import shutil

import duckdb
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import TABLES

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()


# --- planted changepoint: CUSUM must alarm after the shift, never before ----


@pytest.fixture(scope="module")
def shifted_orders_sf(tmp_path_factory):
    """Orders copy with a 3x level shift on the last ~quarter of days."""
    d = tmp_path_factory.mktemp("cusumsf")
    for t in TABLES:
        if t != "orders":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderdate >= TIMESTAMP '1997-07-01'
                      THEN o_totalprice * 3 ELSE o_totalprice END
                   AS o_totalprice,
                 o_orderdate, o_orderpriority
          FROM read_parquet('{SF_DIR}/orders.parquet')
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_cusum_alarms_only_after_planted_shift(spark, shifted_orders_sf):
    rows = (
        _REGISTRY["ts_cusum_changepoint"]
        .fn(spark, shifted_orders_sf)
        .collect()
    )
    alarmed = [r for r in rows if r["alarm"]]
    assert alarmed, "planted 3x level shift must trip the CUSUM alarm"
    import datetime

    shift = datetime.date(1997, 7, 1)
    assert all(
        (r["day"].date() if hasattr(r["day"], "date") else r["day"])
        >= shift
        for r in alarmed
    ), "no alarm may fire before the planted shift"


def test_cusum_oracle_parity_on_planted_shift(spark, shifted_orders_sf):
    with oracle.connect(shifted_orders_sf) as con:
        spec = _REGISTRY["ts_cusum_changepoint"]
        assert_matches_oracle(
            spec.fn(spark, shifted_orders_sf), con, spec.oracle
        )


def test_cusum_statistic_is_nonnegative(spark):
    rows = _REGISTRY["ts_cusum_changepoint"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(r["cusum"] >= 0.0 for r in rows)


# --- planted reconciliation: the census must see a repaired header ----------


@pytest.fixture(scope="module")
def reconciled_orders_sf(tmp_path_factory):
    """Orders copy where every 7th order's header is REWRITTEN to the
    exact lineitem-derived total (the rest stay independently generated,
    i.e. mismatched) — proves n_reconciled counts real reconciliation,
    not accidental agreement."""
    d = tmp_path_factory.mktemp("reconsf")
    for t in TABLES:
        if t != "orders":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          WITH lt AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                       * (1 + l_tax) * 100, 0) AS BIGINT))
                        AS BIGINT) AS calc_c
            FROM read_parquet('{SF_DIR}/lineitem.parquet')
            GROUP BY l_orderkey
          )
          SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus,
                 CASE WHEN o.o_orderkey % 7 = 0 AND lt.calc_c IS NOT NULL
                      THEN lt.calc_c / 100.0
                      ELSE o.o_totalprice END AS o_totalprice,
                 o.o_orderdate, o.o_orderpriority
          FROM read_parquet('{SF_DIR}/orders.parquet') o
          LEFT JOIN lt ON o.o_orderkey = lt.l_orderkey
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_reconcile_detects_planted_repairs(spark, reconciled_orders_sf):
    base = {
        r["o_orderstatus"]: r
        for r in _REGISTRY["dq_order_total_reconcile"]
        .fn(spark, SF_DIR)
        .collect()
    }
    fixed = {
        r["o_orderstatus"]: r
        for r in _REGISTRY["dq_order_total_reconcile"]
        .fn(spark, reconciled_orders_sf)
        .collect()
    }
    assert sum(r["n_reconciled"] for r in fixed.values()) > sum(
        r["n_reconciled"] for r in base.values()
    ), "repaired headers must raise the reconciled count"
    for status, r in fixed.items():
        b = base[status]
        assert r["n_orders"] == b["n_orders"]
        assert (
            r["n_no_lines"] + r["n_reconciled"] + r["n_mismatch"]
            == r["n_orders"]
        ), "census rows must partition the orders"


# --- structural identities on the real corpus -------------------------------


def test_stl_components_sum_to_series(spark):
    rows = _REGISTRY["ts_stl_decompose"].fn(spark, SF_DIR).collect()
    assert rows
    full = [r for r in rows if r["trend"] is not None]
    assert full, "interior days must carry a full 7-day trend window"
    for r in full:
        assert r["seasonal"] is not None and r["resid"] is not None
        # revenue = trend + seasonal + resid up to the 4dp rounding of
        # the three emitted components
        assert (
            abs(r["revenue"] - (r["trend"] + r["seasonal"] + r["resid"]))
            < 2e-4
        ), r


def test_wimbd_topk_is_ordered_and_attributed(spark):
    rows = (
        _REGISTRY["llm_wimbd_ngram_sources"].fn(spark, SF_DIR).collect()
    )
    assert 0 < len(rows) <= 25
    counts = [r["n_occurrences"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert len(r["gram"].split(" ")) == 5
        assert r["n_occurrences"] >= r["n_docs"] >= 1
        assert 1 <= r["n_sources"] <= r["n_docs"]
    # the census is an attribution report — the fixture corpus shares
    # vocabulary across sources, so top grams must span several sources
    assert max(r["n_sources"] for r in rows) > 1


def test_langid_confusion_shares_partition_each_label(spark):
    rows = _REGISTRY["llm_langid_confusion"].fn(spark, SF_DIR).collect()
    assert rows
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, cell in by_lang.items():
        total_share = sum(r["lang_share"] for r in cell)
        # exact floored basis points: within n_cells/10000 below 1
        assert 1.0 - len(cell) / 10000.0 <= total_share <= 1.0, lang
    # non-vacuous confusion: more than one predicted class must appear
    assert len({r["predicted"] for r in rows}) > 1


def test_dwell_percentiles_are_ordered(spark):
    rows = (
        _REGISTRY["events_dwell_transition"].fn(spark, SF_DIR).collect()
    )
    assert rows
    for r in rows:
        assert r["p50_dwell_s"] <= r["p90_dwell_s"]
        assert r["p50_dwell_s"] >= 0.0
        assert r["n_transitions"] >= 1


def test_brown_forsythe_matches_anova_on_deviations(spark):
    """The BF statistic is definitionally one-way ANOVA on
    z = |x − group median|: both mean squares must be positive and the
    F ratio must equal their quotient (internal consistency)."""
    row = _REGISTRY["stat_brown_forsythe"].fn(spark, SF_DIR).collect()[0]
    assert row["n_groups"] >= 2
    assert row["ms_between"] > 0 and row["ms_within"] > 0
    assert (
        abs(row["f_stat"] - row["ms_between"] / row["ms_within"]) < 1e-2
    )


# --- §5.3.6c int64 capacity campaign ----------------------------------------


def test_int64_sum_overflow_divergence_pinned(spark):
    """The divergence that motivates the money-magnitude admission gate
    (probe r7): on the SAME over-2^63 aggregation DuckDB silently widens
    to HUGEINT while ANSI Spark hard-errors ARITHMETIC_OVERFLOW — a
    non-comparable failure class like NaN-in-STDDEV, so overflow must be
    designed out (DECIMAL widening at aggregated grain) or gated at
    ingest, never tolerated. If Spark ever starts widening, this test
    flips and the campaign can be revisited."""
    from pyspark.errors.exceptions.captured import CapturedException

    big = 9223372036854775807
    assert (
        duckdb.sql(
            f"SELECT SUM(x) FROM (SELECT unnest([{big}, {big}]) AS x)"
        ).fetchone()[0]
        == 2 * big
    )
    with pytest.raises(CapturedException) as exc:
        spark.sql(
            f"SELECT SUM(x) FROM VALUES ({big}L), ({big}L) t(x)"
        ).collect()
    assert "ARITHMETIC_OVERFLOW" in str(exc.value)


@pytest.fixture(scope="module")
def polluted_money_sf(tmp_path_factory):
    """Orders copy planting every money-pollution class the census must
    count: NULL, NaN, +Inf, cents-unrepresentable magnitude (1e300), and
    an over-cap-but-representable whale ($5e11)."""
    d = tmp_path_factory.mktemp("moneysf")
    for t in TABLES:
        if t != "orders":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 50 = 0 THEN NULL
                      WHEN o_orderkey % 50 = 1 THEN CAST('nan' AS DOUBLE)
                      WHEN o_orderkey % 50 = 2 THEN CAST('inf' AS DOUBLE)
                      WHEN o_orderkey % 50 = 3 THEN 1e300
                      WHEN o_orderkey % 50 = 4 THEN 5e11
                      ELSE o_totalprice END AS o_totalprice,
                 o_orderdate, o_orderpriority
          FROM read_parquet('{SF_DIR}/orders.parquet')
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_money_census_detects_planted_pollution(spark, polluted_money_sf):
    rows = {
        r["money_col"]: r
        for r in _REGISTRY["dq_money_magnitude_census"]
        .fn(spark, polluted_money_sf)
        .collect()
    }
    o = rows["orders.o_totalprice"]
    assert o["n_null"] > 0
    assert o["n_unrepresentable"] > 0, "NaN/Inf/1e300 must be counted"
    assert o["n_over_cap"] > 0, "the $5e11 whale must be counted"
    assert o["max_abs_cents"] == 5 * 10**13
    assert o["headroom_rows"] == 9223372036854775807 // (5 * 10**13)
    # clean tables stay clean (non-vacuity of the zero counters)
    li = rows["lineitem.l_extendedprice"]
    assert li["n_unrepresentable"] == 0 and li["n_over_cap"] == 0


def test_money_census_oracle_parity_on_pollution(
    spark, polluted_money_sf
):
    with oracle.connect(polluted_money_sf) as con:
        spec = _REGISTRY["dq_money_magnitude_census"]
        assert_matches_oracle(
            spec.fn(spark, polluted_money_sf), con, spec.oracle
        )


@pytest.fixture(scope="module")
def whale_orders_sf(tmp_path_factory):
    """Orders copy with two LEGITIMATE whale orders (5e16 dollars each,
    distinct customers and days): every per-row and per-customer cents
    term still fits int64, but any corpus-total int64 accumulation
    overflows (2 x 5e18 cents > 2^63) — exactly the regime the
    DECIMAL(38,0) widenings exist for."""
    d = tmp_path_factory.mktemp("whalesf")
    for t in TABLES:
        if t != "orders":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT o_orderkey, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey IN (
                        (SELECT MIN(o_orderkey)
                         FROM read_parquet('{SF_DIR}/orders.parquet')),
                        (SELECT MAX(o_orderkey)
                         FROM read_parquet('{SF_DIR}/orders.parquet')))
                      THEN 5e16 ELSE o_totalprice END AS o_totalprice,
                 o_orderdate, o_orderpriority
          FROM read_parquet('{SF_DIR}/orders.parquet')
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


WIDENED_ORDERS_KEYS = [
    "customer_gini",
    "revenue_pareto",
    "ts_cusum_changepoint",
]


@pytest.mark.parametrize("key", WIDENED_ORDERS_KEYS)
def test_widened_keys_survive_whale_corpus(spark, whale_orders_sf, key):
    """Before the §5.3.6c widenings these keys died with
    ARITHMETIC_OVERFLOW on this fixture (corpus-total > 2^63 cents);
    now they complete AND still hash-match the oracle, whose HUGEINT
    arithmetic is exact on the same frame."""
    with oracle.connect(whale_orders_sf) as con:
        spec = _REGISTRY[key]
        assert_matches_oracle(
            spec.fn(spark, whale_orders_sf), con, spec.oracle
        )


@pytest.fixture(scope="module")
def whale_lineitem_sf(tmp_path_factory):
    """Lineitem copy with two legitimate whale lines (5e16 dollars,
    zero discount/tax so the derived cents stay representable), planted
    in DIFFERENT returnflag groups and on DIFFERENT parts: each
    fact-grain group sum stays inside its int64 budget (the per-group
    contract the census headroom polices) while every corpus-TOTAL
    accumulator exceeds 2^63 — exactly the widened-window regime."""
    d = tmp_path_factory.mktemp("whalelisf")
    for t in TABLES:
        if t != "lineitem":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    src = f"read_parquet('{SF_DIR}/lineitem.parquet')"
    r1 = duckdb.sql(
        f"SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag"
        f" FROM {src} ORDER BY l_orderkey, l_linenumber LIMIT 1"
    ).fetchone()
    r2 = duckdb.sql(
        f"SELECT l_orderkey, l_linenumber FROM {src}"
        f" WHERE l_returnflag <> '{r1[3]}' AND l_partkey <> {r1[2]}"
        f" ORDER BY l_orderkey, l_linenumber LIMIT 1"
    ).fetchone()
    whale = (
        f"(l_orderkey = {r1[0]} AND l_linenumber = {r1[1]})"
        f" OR (l_orderkey = {r2[0]} AND l_linenumber = {r2[1]})"
    )
    duckdb.execute(
        f"""
        COPY (
          SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
                 l_quantity,
                 CASE WHEN {whale} THEN 5e16 ELSE l_extendedprice END
                   AS l_extendedprice,
                 CASE WHEN {whale} THEN 0.0 ELSE l_discount END
                   AS l_discount,
                 CASE WHEN {whale} THEN 0.0 ELSE l_tax END AS l_tax,
                 l_returnflag, l_linestatus, l_shipdate
          FROM {src}
        ) TO '{d}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


WIDENED_LINEITEM_KEYS = [
    "win_ratio_to_report",
    "revenue_abc_class",
    "orders_abc_xyz",
]


@pytest.mark.parametrize("key", WIDENED_LINEITEM_KEYS)
def test_widened_lineitem_keys_survive_whales(
    spark, whale_lineitem_sf, key
):
    """Same load-bearing proof as the orders side: with >2^63 total
    cents in play, the widened window/total accumulators complete and
    hash-match DuckDB's HUGEINT arithmetic."""
    with oracle.connect(whale_lineitem_sf) as con:
        spec = _REGISTRY[key]
        assert_matches_oracle(
            spec.fn(spark, whale_lineitem_sf), con, spec.oracle
        )


# --- wave 98: post-detection analytics ---------------------------------------


def test_segfit_identities(spark):
    """Structural identities: segments partition the day series and the
    level shift equals the segment-mean difference."""
    n_days = _REGISTRY["ts_cusum_changepoint"].fn(spark, SF_DIR).count()
    row = _REGISTRY["ts_changepoint_segfit"].fn(spark, SF_DIR).collect()[0]
    assert row["n_pre"] + row["n_post"] == n_days
    assert row["n_pre"] >= 1 and row["n_post"] >= 1
    assert abs(
        row["level_shift"] - (row["mean_post"] - row["mean_pre"])
    ) < 2e-4


def test_segfit_recovers_planted_shift(spark, shifted_orders_sf):
    """On the 3x level-shift fixture, argmax |P| must locate the split
    at (or within days of) the planted boundary — the property that
    caught the original argmax-S spelling, which peaked at the series
    END for a sustained shift — and the estimated post mean must be ~3x
    the pre mean."""
    row = (
        _REGISTRY["ts_changepoint_segfit"]
        .fn(spark, shifted_orders_sf)
        .collect()[0]
    )
    assert row["level_shift"] > 0
    assert row["mean_post"] > 2.5 * row["mean_pre"], row
    # argmax |P| has sampling noise on a noisy series — accept a ±6-week
    # neighborhood of the planted 1997-07-01 boundary (the broken
    # argmax-S spelling sat MONTHS away, at the series end)
    assert "1997-05-20" <= row["cp_day"] <= "1997-08-15", row


def test_bounce_rate_partitions_sessions(spark):
    sessions = (
        _REGISTRY["batch_sessionize"].fn(spark, SF_DIR).count()
    )
    rows = _REGISTRY["events_bounce_rate"].fn(spark, SF_DIR).collect()
    assert sum(r["n_sessions"] for r in rows) == sessions
    for r in rows:
        assert 0 <= r["n_bounce"] <= r["n_sessions"]
        assert 0.0 <= r["bounce_rate"] <= 1.0


def test_cohens_d_hedges_relation(spark):
    row = _REGISTRY["stat_cohens_d"].fn(spark, SF_DIR).collect()[0]
    assert row["sd_pooled"] > 0
    df = row["n_treat"] + row["n_control"] - 2
    corr = 1 - 3.0 / (4 * df - 1)
    assert abs(row["hedges_g"] - row["cohens_d"] * corr) < 2e-3
    assert abs(row["cohens_d"]) >= abs(row["hedges_g"])


@pytest.fixture(scope="module")
def skewed_dates_sf(tmp_path_factory):
    """Orders copy planting clock-skew rows: a sliver of 1985 dates
    (epoch-misparse signature) and one year-2031 row."""
    d = tmp_path_factory.mktemp("datesf")
    for t in TABLES:
        if t != "orders":
            shutil.copy(f"{SF_DIR}/{t}.parquet", d / f"{t}.parquet")
    duckdb.execute(
        f"""
        COPY (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 CASE WHEN o_orderkey % 100 = 0
                      THEN TIMESTAMP '1985-03-04 00:00:00'
                      WHEN o_orderkey % 101 = 1
                      THEN TIMESTAMP '2031-12-31 00:00:00'
                      ELSE o_orderdate END AS o_orderdate,
                 o_orderpriority
          FROM read_parquet('{SF_DIR}/orders.parquet')
        ) TO '{d}/orders.parquet' (FORMAT PARQUET)
        """
    )
    return str(d)


def test_date_census_detects_planted_skew(spark, skewed_dates_sf):
    rows = {
        r["date_col"]: r
        for r in _REGISTRY["dq_date_sanity_census"]
        .fn(spark, skewed_dates_sf)
        .collect()
    }
    o = rows["orders.o_orderdate"]
    assert o["n_before_range"] > 0, "1985 rows must be counted"
    assert o["n_after_range"] > 0, "2031 row must be counted"
    assert o["min_day"] == "1985-03-04"
    assert o["max_day"] == "2031-12-31"
    # untouched columns stay in range
    assert rows["lineitem.l_shipdate"]["n_before_range"] == 0
    with oracle.connect(skewed_dates_sf) as con:
        spec = _REGISTRY["dq_date_sanity_census"]
        assert_matches_oracle(
            spec.fn(spark, skewed_dates_sf), con, spec.oracle
        )
