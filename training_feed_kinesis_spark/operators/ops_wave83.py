"""Wave 83: watermark-gap accounting + feed-abuse heuristics.

  * ``stream_watermark_gap_census``: runs a deterministic 4-batch
    interleaved replay through an append-mode watermarked aggregation
    and ACCOUNTS for every input row: emitted, counted-late-dropped,
    and the SILENT GAP — rows arriving between Spark's
    watermarkForLateEvents (previous trigger) and watermarkForEviction
    (current) that are neither counted in numRowsDroppedByWatermark
    nor ever emitted (their window was already finalized). Measured in
    SURVEY §5.3.7b; this operator turns the finding into a number an
    SLA can watch. Rows-only by necessity (the gap is a property of
    Spark's two-watermark execution, not of the data);
    tests/test_consistency.py asserts the conservation identity
    emitted + dropped + gap = inputs.
  * ``events_bot_heuristics``: per-user feed-abuse screen — inter-event
    timing regularity (coefficient of variation of gaps), event-type
    diversity, and peak hourly rate; metronomic timing OR single-note
    behavior OR burst rates flag the account. The admission-control
    sibling of events_rate_limit_audit.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..streaming.replay import _stamp_mtimes, drain, progress, sentinel_events
from ..tables import load_table
from .scans import derived_dir

CAT_STREAM = "2.I streaming"
CAT_EV = "2.L event analytics"

N_BATCHES = 4


def _mod4_replay(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic interleaved replay: batch b = {event_id % 4 == b},
    one parquet file per batch in mtime order, plus the replay sentinel
    file stamped last. Unlike replay.py's range-partitioned variants, the
    batch assignment is a pure function of event_id, so batch contents
    are restatable in SQL. Built once per session (scans.derived_dir)."""

    def build(out: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        batches = [
            ev.filter(F.col("event_id") % N_BATCHES == b) for b in range(N_BATCHES)
        ]
        for b, df in enumerate([*batches, sentinel_events(spark)]):
            # one file per batch: write to a hidden (_-prefixed, skipped by
            # the file source) temp dir inside out, then move the part up
            tmp = os.path.join(out, f"_b{b}")
            df.coalesce(1).write.parquet(tmp)
            part = next(
                f for f in os.listdir(tmp)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            dst = os.path.join(out, f"part-{b:05d}.parquet")
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
        _stamp_mtimes(out)

    events = os.path.join(sf_dir, "events.parquet")
    return derived_dir(spark, "replay_mod4", [events], build)


@register("stream_watermark_gap_census", CAT_STREAM)  # rows-only: engine-behavior census
def stream_watermark_gap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-accounting census of append-mode watermark behavior: a 1-hour
    windowed count under a 10-minute watermark drains a 4-batch
    event_id-interleaved replay (worst-case out-of-order arrival), and
    every input row is attributed to exactly one of: EMITTED (reached a
    flushed window), LATE_DROPPED (counted by
    numRowsDroppedByWatermark), or the SILENT GAP — rows admitted by the
    lagging watermarkForLateEvents but landing in windows the leading
    watermarkForEviction had already finalized; Spark discards these
    without counting them anywhere. No filter may precede the watermark
    operator (a pushable predicate prunes the sentinel file at the scan
    and the final windows never flush — SURVEY §5.3.7b), so the
    sentinel's window is excluded by a result-side bound instead.

    At 100 TB the gap rate is the metric that decides whether the
    watermark delay honors the pipeline's loss SLA: dropped rows are
    VISIBLE in metrics, gap rows are not — this census makes them so."""
    src = _mod4_replay(spark, sf_dir)
    schema = load_table(spark, sf_dir, "events").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = drain(agg, "append")
    progresses = progress(out)
    input_rows = sum(p["numInputRows"] for p in progresses)
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in progresses
        if p["stateOperators"]
    )
    emitted = (
        out.filter(F.col("window.start") < "2025-01-01")
        .agg(F.coalesce(F.sum("n"), F.lit(0)))
        .collect()[0][0]
    )
    real_inputs = input_rows - 1  # sentinel
    gap = real_inputs - emitted - dropped
    return spark.createDataFrame(
        [
            (
                len([p for p in progresses if p["numInputRows"] > 0]),
                int(real_inputs),
                int(emitted),
                int(dropped),
                int(gap),
            )
        ],
        "n_data_batches long, input_rows long, emitted_rows long,"
        " late_dropped long, silent_gap long",
    )


@register(
    "events_bot_heuristics",
    CAT_EV,
    """
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM events
    ),
    timing AS (
      SELECT user_id, COUNT(*)::BIGINT AS n_gaps,
             AVG(gap_us) AS mean_gap,
             stddev_samp(gap_us) AS sd_gap
      FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id
    ),
    diversity AS (
      SELECT user_id, COUNT(*)::BIGINT AS n_events,
             COUNT(DISTINCT event_type)::BIGINT AS n_types
      FROM events GROUP BY user_id
    ),
    burst AS (
      SELECT user_id, MAX(hn)::BIGINT AS max_hourly FROM (
        SELECT user_id, COUNT(*)::BIGINT AS hn
        FROM events GROUP BY user_id, date_trunc('hour', ts)
      ) GROUP BY user_id
    )
    SELECT d.user_id, d.n_events, d.n_types, b.max_hourly,
           ROUND(t.sd_gap / t.mean_gap, 4) AS gap_cv,
           -- flag derives from the EMITTED rounded cv, so it can never
           -- disagree between engines unless gap_cv itself already does
           (ROUND(t.sd_gap / t.mean_gap, 4) < 0.1 AND t.n_gaps >= 5)
             OR d.n_types = 1 OR b.max_hourly >= 20 AS bot_flag
    FROM diversity d
    JOIN timing t ON t.user_id = d.user_id
    JOIN burst b ON b.user_id = d.user_id
    """,
)
def events_bot_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user abuse screen over the feed: (1) timing regularity — the
    coefficient of variation of inter-event gaps; humans are bursty
    (CV ≈ 1 for Poisson-ish arrivals), schedulers are metronomic
    (CV → 0); (2) behavioral diversity — accounts emitting a single
    event type; (3) burst rate — max events in any hour. A user trips
    the flag on metronomic timing with enough evidence (≥5 gaps),
    zero diversity, or a ≥20/hour burst. The producer-side admission
    gate that keeps synthetic traffic out of the training feed.

    Scale shape: one lag window + two map-combinable censuses, all
    keyed by user — three shuffles on the same key, no joins beyond
    user-grain tables."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", F.col("event_id").asc_nulls_last())
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    timing = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.avg("gap_us").alias("mean_gap"),
        F.stddev_samp("gap_us").alias("sd_gap"),
    )
    diversity = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )
    burst = (
        ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("hn"))
        .groupBy("user_id")
        .agg(F.max("hn").alias("max_hourly"))
    )
    cv = F.col("sd_gap") / F.col("mean_gap")
    return (
        diversity.join(timing, "user_id")
        .join(burst, "user_id")
        .select(
            "user_id",
            "n_events",
            "n_types",
            "max_hourly",
            F.round(cv, 4).alias("gap_cv"),
            (
                ((F.round(cv, 4) < 0.1) & (F.col("n_gaps") >= 5))
                | (F.col("n_types") == 1)
                | (F.col("max_hourly") >= 20)
            ).alias("bot_flag"),
        )
    )
