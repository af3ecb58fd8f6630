"""Temporal-seams corruption replay class (round 12; SURVEY §5.3.11).

The campaign series (NULL-PK → empty → re-ingest → joint → max-tie →
special-float → Unicode → binary-container) had never stressed TIME.
This round planted pre-epoch (1969-07-20), pre-Gregorian (1582-10-04),
year-one (0001-01-01), far-future (9999-12-31) sentinels densely, plus
sparse in-window seam instants (US DST spring-gap 2024-03-10T02:30,
leap-day last-microsecond 2024-02-29T23:59:59.999999, DST fall-back
overlap 2024-11-03T01:30) in events.ts / orders.o_orderdate /
lineitem.l_shipdate over sf0.01 and swept the full registry:
**38 diverging keys**, reducible to four primitive seams:

  * COLLECTION BOUNDS: a result column carrying a raw out-of-window
    timestamp is uncollectable — pandas datetime64[ns] spans only
    1677–2262 and Python datetime 1–9999 (year-10000 interval results,
    year-0 week/LMT artifacts) — and the SAME bound breaks Arrow/pandas
    conversion INSIDE engine kernels (as-of pandas stages, GroupState
    runners, Python datasource envelopes).
  * GRID EXPLOSION: one [0001, 9999] user span materializes an
    87-million-hour gap-fill sequence in a single task (executor OOM).
  * WATERMARK WEDGE / ORDER POISON: a 9999 event time outruns the
    replay sentinel and becomes the permanent high-water mark (every
    later event "late"; freshness lag 4.2M hours; latest-wins CDC
    keeps the sentinel forever).
  * ARITHMETIC OVERFLOW / FORMAT: datediff-squared moment sums overflow
    32-bit products; Java's yyyy prints five-digit years as '+10000'
    where DuckDB strftime prints bare digits.

Fix: the temporal admission contract (tables.sane_ts / sane_ts_sql) —
a NULL-preserving [1970-01-01, 2200-01-01) gate spelled identically in
both engines, applied to every time-ARITHMETIC operator's time-bearing
input. Census keys (dq_date_sanity_census) stay ungated by design.
fn_interval_arith instead normalizes the '+' five-digit-year sign;
scan_agg_pushdown emits epoch-micros BIGINTs (a filter would block the
footer-stats pushdown it demonstrates).

This module pins the class at sf0.001. In-window DST/leap instants are
VALID values both engines must agree on (and do — UTC session tz makes
date_trunc/window arithmetic tz-free); the out-of-window classes
exercise the gate.
"""

from __future__ import annotations

import datetime
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.tables import (
    SANE_TS_MAX,
    SANE_TS_MIN,
    TABLES,
)

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()

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

# the 38-key campaign surface, by seam family (each key's gate/re-spell
# is asserted by the oracle-match sweep below)
TEMPORAL_CONSUMERS = [
    # collection bounds / emitted raw timestamps
    "fn_date",
    "fn_interval_arith",
    "join_bucketed",
    "q3_shipping_priority",
    "q18_large_orders",
    "q18_large_volume",
    "scan_agg_pushdown",
    "cdc_latest_merge",
    "scd2_intervals",
    "dq_partition_sentry",
    "dq_freshness_lag",
    # kernel-internal pandas/Arrow bounds
    "join_asof",
    "join_asof_forward",
    "join_asof_nearest",
    "join_asof_tolerance",
    # grid explosion / day-series order poison
    "ts_resample_gapfill",
    "ts_anomaly_zscore",
    "ts_bollinger_breakout",
    "ts_cusum_changepoint",
    "ts_changepoint_segfit",
    "ts_stl_decompose",
    "events_backlog_queue",
    "events_cohort_ltv_curve",
    "events_peak_concurrency",
    "events_interrupted_ts",
    "batch_sessionize",
    # watermark wedge / stream family
    "stream_tumbling",
    "stream_sliding",
    "stream_session",
    "stream_session_dynamic_gap",
    "stream_chained_aggs",
    "stream_dedup_watermark",
    "stream_topk_windowed",
    "stream_stateful",
    "stream_cdc_merge",
    "join_stream_stream",
    "join_stream_stream_outer",
    "join_stream_scd2",
    "join_stream_static",
    "source_kinesis_pyds_stream",
    "sink_foreachbatch",
    "stream_exactly_once",
    # sentinels: ungated-by-design census keys that must SEE the dirt
    "dq_date_sanity_census",
]


@pytest.fixture(scope="module")
def temporal_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("temporal_r12")

    def corrupt(table, pk, col):
        t = pq.read_table(f"{SF_DIR}/{table}.parquet")
        pks = t.column(pk).to_pylist()
        vals = t.column(col).to_pylist()
        for i, k in enumerate(pks):
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

    corrupt("events", "event_id", "ts")
    corrupt("orders", "o_orderkey", "o_orderdate")
    corrupt("lineitem", "l_orderkey", "l_shipdate")
    for t in TABLES:
        if t not in ("events", "orders", "lineitem"):
            shutil.copy(f"{SF_DIR}/{t}.parquet", f"{d}/{t}.parquet")
    return str(d)


@pytest.fixture(scope="module")
def duck_temporal(temporal_dir):
    with oracle.connect(temporal_dir) as con:
        yield con


def test_fixture_nonvacuous(temporal_dir):
    """Every planted class must exist in the corrupted fixture."""
    got = duckdb.execute(
        f"""
        SELECT
          SUM(CASE WHEN ts < TIMESTAMP '{SANE_TS_MIN}' THEN 1 ELSE 0 END),
          SUM(CASE WHEN ts >= TIMESTAMP '{SANE_TS_MAX}' THEN 1 ELSE 0 END),
          SUM(CASE WHEN ts = TIMESTAMP '2024-02-29 23:59:59.999999'
                   THEN 1 ELSE 0 END)
        FROM read_parquet('{temporal_dir}/events.parquet')
        """
    ).fetchone()
    assert min(got) > 0, got


@pytest.mark.parametrize("key", TEMPORAL_CONSUMERS)
def test_temporal_consumer_matches_oracle(spark, temporal_dir, duck_temporal, key):
    spec = _REGISTRY[key]
    if spec.oracle is None:
        # rows-only keys in the list just must not crash
        assert spec.fn(spark, temporal_dir).count() >= 0
        return
    assert_matches_oracle(spec.fn(spark, temporal_dir), duck_temporal, spec.oracle)


def test_gapfill_grid_stays_bounded(spark, temporal_dir):
    """The seam that OOMed an executor: a [0001, 9999] user span is an
    87-million-hour sequence. Post-gate, the grid is bounded by the
    sane-window span of the ADMITTED events."""
    n = _REGISTRY["ts_resample_gapfill"].fn(spark, temporal_dir).count()
    # sf0.001 clean span is ~1 month hourly per user; in-window seam
    # instants stretch some users to ~9 months — still thousands of
    # rows per user, never year-spanning millions
    assert 0 < n < 2_000_000, n


def test_date_sanity_census_still_sees_the_dirt(spark, temporal_dir, duck_temporal):
    """The admission gate must NOT creep into the census family: the
    date sanity census exists to count exactly these rows."""
    spec = _REGISTRY["dq_date_sanity_census"]
    rows = spec.fn(spark, temporal_dir).collect()
    assert rows, "census empty on a corrupted dir"
    assert_matches_oracle(
        spec.fn(spark, temporal_dir), duck_temporal, spec.oracle
    )


def test_five_digit_year_format_normalized(spark):
    """fn_interval_arith's format seam: Java yyyy prints '+10000-…' for
    five-digit years, DuckDB strftime prints bare digits. Pin the
    normalization on a synthetic frame (clean fixtures never reach
    year 9999 + 3 months)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("9999-12-31 23:59:59",)], "t string"
    ).select(
        F.regexp_replace(
            F.date_format(
                F.add_months(F.col("t").cast("timestamp"), 3), "yyyy-MM-dd"
            ),
            "^\\+",
            "",
        ).alias("s")
    )
    assert df.collect()[0]["s"] == "10000-03-31"
