"""§2.I Streaming operators (+ §2.A streaming source/sink keys).

Model: "Structured Streaming: A Declarative API for Real-Time Applications
in Apache Spark" (SIGMOD 2018, PAPERS.md) — the same declarative plans run
batch and incremental; these operators lean on that equivalence for their
drained-stream == batch oracles.

Every key drains a finite replay stream with Trigger.AvailableNow and
returns the materialized result (SURVEY §5.3.7): where a drained stream is
semantically ≡ the batch query (tumbling/sliding/session windows, dedup,
stream-static join), the DuckDB batch oracle applies in full; genuinely
streaming-only behaviors (late-data drop, stream-stream join tail, arbitrary
state) are rows-only.

State & scale posture: every stateful operator here carries a watermark
(state eviction bound — SURVEY §4.3); at 100 TB/day the state store backend
is RocksDB (``TFK_ROCKSDB_STATE=1`` in session.py — off-heap/on-disk state
with changelog checkpointing; parity + growth-bound tests in
tests/test_consistency.py), watermark delay is the SLA for out-of-orderness,
and keyed state shuffles on the group key exactly like a batch groupBy.

Watermark-horizon state size per stateful query (what an executor holds):
  * tumbling/sliding windows — #keys × windows inside (watermark delay +
    window length); sliding multiplies by window/slide overlap factor.
  * session windows — #active sessions whose gap hasn't closed past the
    watermark; worst case #keys with dribbling activity.
  * dropDuplicates[WithinWatermark] — #distinct event ids inside the
    watermark horizon (the unbounded batch dedup key set never accrues).
  * stream-stream interval join — both sides buffer (join interval +
    watermark delay) of rows per key; eviction is watermark-driven, so the
    watermark is the memory contract, not an optimization.
  * applyInPandasWithState / transformWithState — whatever the user state
    schema holds per key, plus timer state; bounded only if the operator
    sets timeouts — ours do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.exact import CENTS_SUM_SQL, cents_sum

# exact integer-cents SUM of events.value, emitted unrounded (r11
# projected-magnitude lint, SURVEY §5.3.9(a)): total_value is a grower
_VAL_CENTS_SUM = CENTS_SUM_SQL.format(col="value")
from ..operators.scans import scratch_dir
from ..registry import register
from ..tables import load_table, sane_ts, sane_ts_sql
from .replay import drain, replay_stream, start_stream

CAT_SRC = "2.A scans/sources/sinks"
CAT = "2.I streaming"


@register(
    "source_kinesis",
    CAT_SRC,
    "SELECT event_id, user_id, event_type, value FROM events",
)
def source_kinesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-feed ingest via sources.kinesis.feed_stream: a real Kinesis
    readStream when TFK_KINESIS_STREAM is set, deterministic file replay in
    CI (SURVEY §1.4 row 1). Drained passthrough ≡ the batch table — which is
    exactly what the oracle asserts (exactly-once replay, no loss, no dups)."""
    from ..sources.kinesis import feed_stream

    stream = feed_stream(spark, sf_dir)
    out = drain(
        stream.select("event_id", "user_id", "event_type", "value"), "append"
    )
    return out


@register(
    "stream_tumbling",
    CAT,
    f"""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n, {_VAL_CENTS_SUM} AS total_value
    FROM events WHERE ts IS NOT NULL AND (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01'))
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation. Complete mode: a drained
    finite stream then holds exactly the batch group-by result. The
    watermark bounds state eviction in continuous operation. NULL
    event-time rows dropped on both engines (the r8 NULL-time seam: an
    event with no event time has no window)."""
    stream = replay_stream(spark, sf_dir, "ordered").filter(
        F.col("ts").isNotNull() & sane_ts("ts")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), cents_sum("value").alias("total_value"))
    )
    res = drain(agg, "complete")
    return res.select(
        F.col("window.start").alias("hour_start"), "event_type", "n", "total_value"
    )


@register(
    "stream_sliding",
    CAT,
    # each event belongs to 4 sliding windows: starts at bucket15(ts)-k*15min
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts)
             - k * INTERVAL '15 minutes' AS window_start,
           COUNT(*) AS n
    FROM events, (SELECT unnest(range(0, 4)) AS k)
    WHERE ts IS NOT NULL AND (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01'))
    GROUP BY window_start
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1h length, 15min slide): every event lands in 4
    overlapping windows; both engines align windows to the unix epoch.
    NULL event-time rows dropped on both engines (r8 NULL-time seam)."""
    stream = replay_stream(spark, sf_dir, "ordered").filter(
        F.col("ts").isNotNull() & sane_ts("ts")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    res = drain(agg, "complete")
    return res.select(F.col("window.start").alias("window_start"), "n")


@register(
    "stream_session",
    CAT,
    # lag-gap-cumsum sessionization ≡ session_window semantics
    # (end = last event + gap); SURVEY §5.3.7, verified writable
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL AND (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01'))
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id,
           MIN(ts)                          AS session_start,
           MAX(ts) + INTERVAL '30 minutes'  AS session_end,
           COUNT(*)                         AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window (30-minute gap) per user, append mode — sessions emit
    once the watermark proves no more events can merge into them. The replay
    sentinel (far-future row) pushes the watermark past all real sessions so
    the drained result is complete (SURVEY §5.3.7); sentinel filtered out.
    NULL ts rows are dropped before the watermark on both engines — a
    NULL event-time row has no session (the batch_sessionize seam)."""
    stream = replay_stream(spark, sf_dir, "ordered", sentinel=True)
    agg = (
        stream.filter(F.col("ts").isNotNull() & sane_ts("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    res = drain(agg, "append")
    return res.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@register("stream_watermark_late", CAT)  # rows-only: late-drop is stream-order-dependent
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling: the shuffled replay delivers events wildly out of
    time order under a tight 10-minute watermark in APPEND mode — windows
    finalize as the watermark passes and genuinely-late rows are dropped, so
    emitted counts ≤ batch counts (strictly fewer here). Deliberately
    rows-only: the drop set depends on arrival order, which is the point.
    The tumbling/sliding/session keys prove the lossless cases."""
    stream = replay_stream(spark, sf_dir, "shuffled", sentinel=True)
    agg = (
        stream.filter(F.col("user_id") >= 0)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_ontime"))
    )
    res = drain(agg, "append")
    return res.select(F.col("window.start").alias("window_start"), "n_ontime")


@register(
    "stream_dedup",
    CAT,
    # exactly-once = ONE row per distinct event_id (r10 joint-corruption
    # sweep): the SOURCE TABLE itself may carry redelivered duplicate ids
    # — exactly what dedup must collapse — so the oracle's per-row COUNT
    # must run over the distinct-id relation, not raw rows. Redelivery is
    # verbatim by contract (at-least-once re-sends the same record), so
    # MIN per column reconstructs the unique payload; conflicting same-id
    # payloads are a re-ingest corruption owned by the admission-gate
    # family, not stream dedup.
    f"""
    WITH once AS (
      SELECT event_id, MIN(event_type) AS event_type, MIN(value) AS value
      FROM events WHERE event_id IS NOT NULL
      GROUP BY event_id
    )
    SELECT event_type, COUNT(*) AS n,
           {_VAL_CENTS_SUM} AS total_value
    FROM once
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup under at-least-once delivery: the doubled
    replay redelivers every record; dropDuplicates on the payload key makes
    the drained result identical to the exactly-once batch answer — the
    Kinesis replay-tolerance pattern (SURVEY §1.1). Production uses
    dropDuplicatesWithinWatermark to bound the key state; unbounded here to
    keep CI deterministic."""
    stream = replay_stream(spark, sf_dir, "doubled")
    # identity dedup needs identity (NULL-PK r9): dropDuplicates groups
    # ALL NULL event_ids as one key and keeps a single survivor, while
    # the exactly-once batch oracle counts every such row — an id-less
    # event cannot be distinguished from its redelivery, so it is
    # excluded from the exactly-once contract on both engines
    deduped = stream.filter(F.col("event_id").isNotNull()).dropDuplicates(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        cents_sum("value").alias("total_value"),
    )
    return drain(agg, "complete")


@register(
    "stream_stateful",
    CAT,
    """
    SELECT user_id, COUNT(*) AS n_events, ROUND(MAX(value), 4) AS max_value
    FROM events WHERE (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01')) GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state via applyInPandasWithState: a running
    (count, max) per user, emitted as cumulative updates each micro-batch.
    (Spark 4's successor API, transformWithStateInPandas, was probed and
    crashes in this container: its Python runner imports google.protobuf,
    which is not installed and cannot be — the GroupState API below is the
    equivalent supported path here.)
    After draining, the last update per key ≡ the batch aggregate — that
    equivalence is the oracle. State is explicit (tuple in GroupState),
    eviction would use timeouts in continuous operation."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [round(mx, 4)]}
        )

    # temporal admission (r12): a year-9999 event time breaks the Arrow
    # batch conversion inside the GroupState runner (pandas ns bound)
    stream = replay_stream(spark, sf_dir, "ordered").filter(sane_ts("ts"))
    updates = stream.groupBy("user_id").applyInPandasWithState(
        running,
        outputStructType="user_id long, n_events long, max_value double",
        stateStructType="n long, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = drain(updates, "update")
    # cumulative emissions: the per-key maximum IS the final state
    return res.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("max_value").alias("max_value")
    )


@register(
    "stream_output_modes",
    CAT,
    """
    SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
    """,
)
def stream_output_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-mode semantics, verified against each other: the same
    aggregation runs in COMPLETE mode (memory sink snapshot) and in UPDATE
    mode (foreachBatch capturing per-batch changed keys); the last update
    per key must equal the complete snapshot — asserted here, and the
    snapshot is oracle-checked against batch."""
    agg_of = lambda s: s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))  # noqa: E731

    complete = drain(agg_of(replay_stream(spark, sf_dir, "ordered")), "complete")

    captured: list = []

    def capture(batch_df: DataFrame, batch_id: int) -> None:
        captured.append((batch_id, batch_df.toPandas()))

    q = start_stream(
        spark,
        agg_of(replay_stream(spark, sf_dir, "ordered"))
        .writeStream.foreachBatch(capture)
        .outputMode("update")
        .trigger(availableNow=True),
    )
    q.awaitTermination()

    final_update: dict = {}
    for _, pdf in sorted(captured, key=lambda t: t[0]):
        for r in pdf.itertuples(index=False):
            final_update[r.event_type] = r.n
    snapshot = {r["event_type"]: r["n"] for r in complete.toPandas().to_dict("records")}
    if final_update != snapshot:
        raise AssertionError(
            f"update-mode final state {final_update} != complete snapshot {snapshot}"
        )
    return complete


def _foreachbatch_sink(
    spark: SparkSession, sf_dir: str, sink: str, ckpt: str | None = None
) -> None:
    """Run the feed into an idempotent foreachBatch parquet sink: each batch
    writes to a batchId-keyed subdirectory with overwrite — a retried batch
    rewrites the same path instead of duplicating (SURVEY §1.4 at-least-once
    → exactly-once)."""
    stream = replay_stream(spark, sf_dir, "ordered").filter(
        sane_ts("ts")  # temporal admission (r12): 9999 wins latest-wins
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink}/batch={batch_id}")

    start_stream(
        spark,
        stream.writeStream.foreachBatch(write_batch).trigger(availableNow=True),
        state_partitions=None,
        checkpoint=ckpt,
    ).awaitTermination()


@register(
    "sink_foreachbatch",
    CAT_SRC,
    f"""
    SELECT event_type, COUNT(*) AS n,
           {_VAL_CENTS_SUM} AS total_value
    FROM events WHERE (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01')) GROUP BY event_type
    """,
)
def sink_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: batchId-keyed idempotent parquet writes; the sink's
    contents re-aggregated must equal the batch answer (no loss, no dups)."""
    sink = scratch_dir("febsink_")
    _foreachbatch_sink(spark, sf_dir, sink)
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), cents_sum("value").alias("total_value"))
    )


@register(
    "stream_exactly_once",
    CAT,
    """
    SELECT event_type, COUNT(*) AS n FROM events
    WHERE (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01')) GROUP BY event_type
    """,
)
def stream_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once under restart: the same foreachBatch pipeline runs TWICE
    with one checkpoint — the restarted run finds all offsets committed and
    writes nothing new; the sink still holds each event exactly once, which
    the oracle asserts. (Checkpoint WAL + idempotent sink = the recipe.)"""
    sink = scratch_dir("eosink_")
    ckpt = scratch_dir("ckpt_eo_")
    _foreachbatch_sink(spark, sf_dir, sink, ckpt)
    _foreachbatch_sink(spark, sf_dir, sink, ckpt)  # restart with same checkpoint
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "join_stream_static",
    "2.C joins",
    f"""
    SELECT user_id % 5 AS cohort, COUNT(*) AS n,
           {_VAL_CENTS_SUM} AS total_value
    FROM events WHERE (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01')) GROUP BY user_id % 5
    """,
)
def join_stream_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enrichment: streaming events ⋈ static dimension (user cohort
    map, broadcast — re-resolved per micro-batch). The dim here derives from
    the batch events table; production swaps in any slowly-changing dim."""
    cohorts = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("cohort", F.col("user_id") % 5)
    )
    stream = replay_stream(spark, sf_dir, "ordered").filter(
        sane_ts("ts")  # temporal admission (r12): 9999 wins latest-wins
    )
    # LEFT enrichment: an unknown/NULL-keyed event keeps flowing with a
    # NULL cohort instead of vanishing — an inner join here silently
    # drops every null-key record (NULL-attribute corruption replay);
    # on a fully-matched corpus left ≡ inner
    enriched = stream.join(F.broadcast(cohorts), "user_id", "left")
    agg = enriched.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"), cents_sum("value").alias("total_value")
    )
    return drain(agg, "complete")


@register(
    "join_stream_stream",
    "2.C joins",
    """
    SELECT p.event_id AS p_event, c.event_id AS c_event,
           p.user_id AS p_user, p.ts AS p_ts, c.ts AS c_ts
    FROM events p JOIN events c ON p.user_id = c.user_id
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
      AND (p.ts IS NULL OR (p.ts >= TIMESTAMP '1970-01-01'
           AND p.ts < TIMESTAMP '2200-01-01'))
      AND (c.ts IS NULL OR (c.ts >= TIMESTAMP '1970-01-01'
           AND c.ts < TIMESTAMP '2200-01-01'))
    """,
)
def join_stream_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases ⋈ clicks by the same user
    within the preceding 30 minutes, both sides watermarked (bounds the
    buffered state to the interval + watermark — mandatory, SURVEY §4.3).

    Drained-equals-batch oracle (same discipline as stream_cdc_merge): for
    an INNER stream-stream join, append mode emits a match in the
    micro-batch where it is found — emission never waits on the watermark
    (only state EVICTION does). Under ordered replay the watermark trails
    the batch boundary by the 1-hour delay, so a click is evicted only
    after every purchase that could still match it (≤ 30 min later) has
    been processed: no match is ever lost to eviction, and the drained
    result equals the batch interval join the oracle runs."""
    # temporal admission (r12): a 9999 event time outruns the sentinel
    # and wedges the min-watermark; raw p_ts/c_ts must stay collectable
    stream = replay_stream(spark, sf_dir, "ordered", sentinel=True).filter(
        sane_ts("ts")
    )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_event"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"
        ),
    )
    res = drain(joined.select("p_event", "c_event", "p_user", "p_ts", "c_ts"), "append")
    return res


@register(
    "stream_cdc_merge",
    CAT,
    """
    WITH ranked AS (
      SELECT user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01')))
    SELECT user_id, ts AS last_ts, event_type AS last_type,
           ROUND(value, 4) AS last_value
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: each micro-batch MERGEs into a versioned
    snapshot via foreachBatch — latest-wins per key under the (ts,
    event_id) total order, tombstones (latest = 'error') retained in the
    snapshot and dropped only at serve time (so an out-of-order older
    change can never resurrect a deleted key mid-stream).

    Because per-key argmax is associative, incremental merge over any batch
    split equals the global batch compaction — which is exactly what the
    oracle asserts (same SQL as ``cdc_latest_merge``). Versioned snapshot
    dirs stand in for a table format's transactional commit; production
    swaps the write for MERGE INTO on Delta/Iceberg, keyed by batchId for
    replay idempotence.
    """
    from pyspark.sql.window import Window

    stream = replay_stream(spark, sf_dir, "ordered").filter(
        sane_ts("ts")  # temporal admission (r12): 9999 wins latest-wins
    )
    root = scratch_dir("cdc_merge_")
    state = {"v": 0}
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cols = ["user_id", "ts", "event_id", "event_type", "value"]

    def merge(batch_df, batch_id):
        b = (
            batch_df.select(*cols)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        if state["v"]:
            b = spark.read.parquet(f"{root}/v{state['v']}").unionByName(b)
            b = (
                b.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
        state["v"] += 1
        b.write.mode("overwrite").parquet(f"{root}/v{state['v']}")

    start_stream(
        spark,
        stream.writeStream.foreachBatch(merge).trigger(availableNow=True),
        state_partitions=None,
    ).awaitTermination()
    return (
        spark.read.parquet(f"{root}/v{state['v']}")
        .filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_type"),
            F.round("value", 4).alias("last_value"),
        )
    )


@register(
    "stream_dedup_watermark",
    CAT,
    # exactly-once over the distinct-id relation (r10 joint sweep; see
    # stream_dedup — the source table itself may carry redelivered ids)
    """
    WITH once AS (
      SELECT event_id, MIN(ts) AS ts, MIN(event_type) AS event_type,
             MIN(value) AS value
      FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL AND (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01'))
      GROUP BY event_id
    )
    SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS total_value
    FROM once
    GROUP BY event_type, strftime(ts, '%Y-%m-%d')
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup: ``dropDuplicatesWithinWatermark``
    evicts seen-key state once the watermark passes, turning the unbounded
    key set of plain dropDuplicates into O(keys-per-delay) state. The delay
    is the redelivery SLA: the doubled replay redelivers the whole feed one
    full pass later, so the delay here covers the entire span (400 days) and
    the drained result is exactly the exactly-once batch answer. In
    production the delay is minutes (Kinesis redelivers close to the
    original) and state stays tiny; semantics are identical.

    Runs under the RocksDB state-store provider (``drain(rocksdb=True)``):
    dedup state is the canonical state-cardinality blowup (one entry per
    key in the watermark horizon), exactly where heap-backed state dies at
    100 TB — tests assert the provider actually ran via the query's final
    StreamingQueryProgress (``replay.progress(out)[-1]``) AND the oracle proves
    results are unchanged.
    """
    # NULL event-time rows dropped on both engines (r8 NULL-time seam:
    # watermark-bounded dedup state is keyed by event time)
    stream = replay_stream(spark, sf_dir, "doubled").filter(
        F.col("ts").isNotNull() & sane_ts("ts")
    )
    # identity dedup needs identity (NULL-PK r9; see stream_dedup)
    deduped = (
        stream.filter(F.col("event_id").isNotNull())
        .withWatermark("ts", "400 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    agg = deduped.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return drain(agg, "complete", rocksdb=True)


@register(
    "join_stream_stream_outer",
    "2.C joins",
    """
    SELECT p.event_id AS p_event, c.event_id AS c_event,
           p.user_id AS p_user, p.ts AS p_ts, c.ts AS c_ts
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL
            AND ts IS NOT NULL AND (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01'))) p
    LEFT JOIN (SELECT * FROM events
               WHERE event_type = 'click' AND ts IS NOT NULL AND (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01'))) c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTE AND p.ts
    """,
)
def join_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the hardest streaming
    emission semantics: matches emit when found (like the inner join),
    but an UNMATCHED purchase emits its null-extended row only once the
    watermark proves no future click can still fall in its 30-minute
    interval. The far-future sentinel row drives the watermark past
    every real event before AvailableNow terminates, so all unmatched
    rows flush and the drained result equals the batch left join the
    oracle runs (sentinel filtered back out by user_id >= 0).

    State/scale: identical bound to the inner spelling — both sides
    buffer interval+watermark; the outer variant additionally tracks
    which buffered left rows matched, same O(window) footprint.

    The sentinel must pass BOTH side filters (`user_id < 0` escape
    hatch): each side's watermark is computed from rows surviving its
    own filter, and the global watermark is their minimum — a sentinel
    swallowed by either filter stalls eviction and the last unmatched
    purchases never flush (observed: exactly the final purchase row
    missing).

    NULL-keyed purchases are excluded on BOTH engines: the sentinel
    strip-filter (user_id >= 0) is three-valued and removes them from
    the Spark output, so the oracle's left side pins the same
    `user_id IS NOT NULL` (NULL-attribute corruption replay).
    NULL event-time rows dropped on both engines (r8 NULL-time seam) —
    the sentinel's far-future ts survives the filter."""
    stream = replay_stream(spark, sf_dir, "ordered", sentinel=True).filter(
        F.col("ts").isNotNull() & sane_ts("ts")
    )
    p = (
        stream.filter(
            (F.col("event_type") == "purchase") | (F.col("user_id") < 0)
        )
        .select(
            F.col("event_id").alias("p_event"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    c = (
        stream.filter(
            (F.col("event_type") == "click") | (F.col("user_id") < 0)
        )
        .select(
            F.col("event_id").alias("c_event"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    joined = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 30 MINUTES AND p_ts"
        ),
        "leftOuter",
    )
    res = drain(
        joined.select("p_event", "c_event", "p_user", "p_ts", "c_ts"), "append"
    )
    return res.filter(F.col("p_user") >= 0).select(
        "p_event", "c_event", "p_user", "p_ts", "c_ts"
    )


@register(
    "stream_stateful_timeout",
    CAT,
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL AND (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01'))
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id,
           MIN(ts)                          AS session_start,
           MAX(ts) + INTERVAL '30 minutes'  AS session_end,
           COUNT(*)                         AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def stream_stateful_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sessionization with EVENT-TIME TIMERS: applyInPandasWithState
    keeps one open session per user and registers an event-time timeout at
    last_event + 30 minutes — when the watermark passes it, the state
    times out and the session emits (the timer-driven flush that
    session_window does internally, exercised through the arbitrary-state
    API). Intra-batch session breaks emit immediately; only the open tail
    lives in state, so state is O(users), not O(events). The far-future
    sentinel drives the final watermark so every real session's timer
    fires before AvailableNow terminates.

    Drained result ≡ the batch lag-gap-cumsum sessionization — the same
    oracle as stream_session/batch_sessionize, which is the point: three
    independent spellings (batch window, session_window, stateful timers)
    must agree."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    GAP_US = 30 * 60 * 1_000_000  # state keeps microseconds (full ts precision)

    def sessionize(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us + GAP_US, unit="us")],
                    "n_events": [n],
                }
            )
            return
        rows = []
        ts_us = []
        for pdf in pdfs:
            ts_us.extend((pdf["ts"].astype("int64") // 1_000).tolist())
        ts_us.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        for t in ts_us:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > GAP_US:
                rows.append((key[0], start_us, last_us + GAP_US, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        state.update((start_us, last_us, n))
        # the timer API is millisecond-resolution; round UP so the timeout
        # never fires before the exact microsecond session end
        state.setTimeoutTimestamp((last_us + GAP_US + 999) // 1000)
        if rows:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in rows],
                    "session_start": [
                        pd.Timestamp(r[1], unit="us") for r in rows
                    ],
                    "session_end": [pd.Timestamp(r[2], unit="us") for r in rows],
                    "n_events": [r[3] for r in rows],
                }
            )

    # NULL event-time rows dropped (r8 NULL-time seam): NaT would turn
    # into int64 garbage inside the pandas state kernel; the shared
    # sessionize oracle already filters ts IS NOT NULL
    stream = replay_stream(spark, sf_dir, "ordered", sentinel=True).filter(
        F.col("ts").isNotNull() & sane_ts("ts")
    )
    out = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType="user_id long, session_start timestamp, "
            "session_end timestamp, n_events long",
            stateStructType="start_us long, last_us long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    res = drain(out, "append")
    return res.filter(F.col("user_id") >= 0).select(
        "user_id", "session_start", "session_end", "n_events"
    )


# transformWithStateInPandas hard-depends on google.protobuf (Spark's TWS
# Python runner serializes state requests as protobuf messages); the
# library is absent in this container, which crashes the runner at init —
# an ENVIRONMENT gap, not an API gap. Register the key only where the
# dependency exists so the driver never samples a key that cannot run;
# tests skip on the same condition.
try:  # find_spec raises if even the 'google' namespace package is absent
    HAS_PROTOBUF = (
        __import__("importlib").util.find_spec("google.protobuf") is not None
    )
except ModuleNotFoundError:
    HAS_PROTOBUF = False

_TWS_SESSION_ORACLE = """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL AND (ts IS NULL OR (ts >= TIMESTAMP '1970-01-01' AND ts < TIMESTAMP '2200-01-01'))
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id,
           MIN(ts)                          AS session_start,
           MAX(ts) + INTERVAL '30 minutes'  AS session_end,
           COUNT(*)                         AS n_events
    FROM sess GROUP BY user_id, session_id
    """


def _register_if(cond: bool, key: str, category: str, oracle: str | None):
    if cond:
        return register(key, category, oracle)
    return lambda fn: fn


@_register_if(HAS_PROTOBUF, "stream_stateful_tws", CAT, _TWS_SESSION_ORACLE)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via ``transformWithStateInPandas`` — Spark 4's
    successor to applyInPandasWithState (SURVEY §2.I; VERDICT r3 item 8):
    an object-oriented StatefulProcessor with named state variables and
    first-class event-time timers instead of a single state tuple +
    timeout conf. One ValueState holds the open session per user; a timer
    at last_event + 30 min (re-registered as the session extends, stale
    timer deleted) flushes it once the watermark passes. Intra-batch
    session breaks emit immediately, so state is O(users).

    transformWithState REQUIRES the RocksDB state-store provider (the API
    is built on its column-family support) — ``drain(rocksdb=True)`` —
    making this the second operator exercising the 100 TB state backend.

    Drained result ≡ the batch lag-gap-cumsum sessionization: the FOURTH
    independent sessionizer against the same oracle (batch window,
    session_window, applyInPandasWithState timers, and this).

    Registration is gated on ``google.protobuf`` (HAS_PROTOBUF): Spark's
    TWS Python runner requires it and this container lacks it — where the
    dependency exists the key registers and oracles like any other."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    GAP_US = 30 * 60 * 1_000_000

    def _emit(rows):
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "session_start": [pd.Timestamp(r[1], unit="us") for r in rows],
                "session_end": [pd.Timestamp(r[2], unit="us") for r in rows],
                "n_events": [r[3] for r in rows],
            }
        )

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            # open session + the ms timestamp of its registered timer
            self.sess = handle.getValueState(
                "sess", "start_us long, last_us long, n long, timer_ms long"
            )

        def handleInputRows(self, key, rows, timerValues):
            ts_us: list[int] = []
            for pdf in rows:
                ts_us.extend((pdf["ts"].astype("int64") // 1_000).tolist())
            ts_us.sort()
            if self.sess.exists():
                start_us, last_us, n, timer_ms = self.sess.get()
                self.handle.deleteTimer(timer_ms)
            else:
                start_us, last_us, n = None, None, 0
            closed = []
            for t in ts_us:
                if start_us is None:
                    start_us, last_us, n = t, t, 1
                elif t - last_us > GAP_US:
                    closed.append((key[0], start_us, last_us + GAP_US, n))
                    start_us, last_us, n = t, t, 1
                else:
                    last_us, n = last_us if t <= last_us else t, n + 1
            # timer API is ms-resolution; round UP so it never fires before
            # the exact microsecond session end
            timer_ms = (last_us + GAP_US + 999) // 1000
            self.sess.update((start_us, last_us, n, timer_ms))
            self.handle.registerTimer(timer_ms)
            if closed:
                yield _emit(closed)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if self.sess.exists():
                start_us, last_us, n, _ = self.sess.get()
                self.sess.clear()
                yield _emit([(key[0], start_us, last_us + GAP_US, n)])

        def close(self) -> None:
            pass

    stream = replay_stream(spark, sf_dir, "ordered", sentinel=True)
    out = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType="user_id long, session_start timestamp, "
            "session_end timestamp, n_events long",
            outputMode="Append",
            timeMode="EventTime",
        )
    )
    res = drain(out, "append", rocksdb=True)
    return res.filter(F.col("user_id") >= 0).select(
        "user_id", "session_start", "session_end", "n_events"
    )
