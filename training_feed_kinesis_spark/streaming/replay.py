"""Deterministic file-replay of `events` as a streaming source (SURVEY §3.4).

CI has no Kinesis endpoint, so streams are exercised by replaying
events.parquet through the file source with Trigger.AvailableNow — the
documented equivalence (SURVEY §1.4): a drained finite stream must produce
the same answer as the batch query over the same rows, which is exactly what
the DuckDB oracles check.

Replay variants:
  * ordered   — files range-partitioned and sorted by event time: the
                happy-path feed (watermark advances monotonically).
  * shuffled  — files range-partitioned by a time-uncorrelated key
                (event_id hash order): heavy out-of-order arrival, for
                watermark/late-data behavior.
  * doubled   — every record appears twice across different files: the
                at-least-once redelivery simulation for dedup testing.

`maxFilesPerTrigger=1` makes each file one micro-batch (deterministic batch
boundaries). Spark's FileStreamSource orders files by MODIFICATION TIME, and
part files from a single write job can tie at millisecond resolution — a tie
broken the wrong way processes a later-time-range file first, advances the
watermark, and silently drops an earlier file as late (observed: ~25% of
sessions lost, exactly one range partition). :func:`_stamp_mtimes` therefore
pins strictly-increasing mtimes in part-file-name order (range partition 0 =
earliest time range) after every write; the sentinel file is stamped far
later still.
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scans import derived_dir, scratch_dir, track_scratch
from ..session import scoped_conf
from ..tables import load_table

N_REPLAY_FILES = 4

_qcounter = itertools.count()


def _stamp_mtimes(path: str, base_offset: int = 0) -> int:
    """Assign strictly-increasing mtimes (2s apart) to parquet part files in
    part-name order, so FileStreamSource's mtime ordering equals the intended
    replay order. Returns the number of files stamped."""
    parts = sorted(
        f for f in os.listdir(path) if f.startswith("part-") and not f.endswith(".crc")
    )
    base = time.time() - 86400  # yesterday: never in the future
    for i, f in enumerate(parts):
        t = base + (base_offset + i) * 2
        os.utime(os.path.join(path, f), (t, t))
    return len(parts)


def _prepare(spark: SparkSession, sf_dir: str, variant: str) -> str:
    """Write the replay files of ``variant`` once per session and
    events.parquet content (``scans.derived_dir``); return the source dir.
    Checkpoints are never reused (each drain gets a fresh one)."""

    def build(out: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        if variant == "ordered":
            df = ev.repartitionByRange(N_REPLAY_FILES, "ts").sortWithinPartitions("ts")
        elif variant == "shuffled":
            # range-partition on a time-uncorrelated key → each file spans the
            # whole time range → later batches carry events older than the
            # watermark established by earlier batches
            df = ev.withColumn("_k", F.xxhash64("event_id")).repartitionByRange(
                N_REPLAY_FILES, "_k"
            ).drop("_k")
        elif variant == "doubled":
            df = (
                ev.withColumn("_copy", F.lit(0))
                .unionByName(ev.withColumn("_copy", F.lit(1)))
                .repartitionByRange(N_REPLAY_FILES, "_copy", "ts")
                .drop("_copy")
            )
        else:
            raise ValueError(f"unknown replay variant: {variant}")
        df.write.mode("overwrite").parquet(out)
        _stamp_mtimes(out)

    events = os.path.join(sf_dir, "events.parquet")
    return derived_dir(spark, f"replay_{variant}", [events], build)


def replay_stream(
    spark: SparkSession, sf_dir: str, variant: str = "ordered", sentinel: bool = False
) -> DataFrame:
    """Streaming replay of events. With ``sentinel=True`` a single far-future
    marker row (user_id=-1, ts=2025-06-01) is appended as the LAST file: it
    drives the watermark past every real event so append-mode stateful
    operators flush their final windows before AvailableNow terminates (the
    no-data finalization batch). Consumers filter ``user_id >= 0``."""
    src = _prepare(spark, sf_dir, variant)
    if sentinel:
        src = _with_sentinel(spark, src)
    schema = load_table(spark, sf_dir, "events").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


def sentinel_events(spark: SparkSession) -> DataFrame:
    """The one far-future marker row (user_id=-1, ts=2025-06-01) in the
    events schema."""
    return spark.createDataFrame(
        [(-1, "2025-06-01 00:00:00", -1, "sentinel", 0.0, "{}")],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _with_sentinel(spark: SparkSession, src: str) -> str:
    """A copy of the replay dir ``src`` with the sentinel file appended,
    keyed on ``src`` itself."""

    def build(out: str) -> None:
        # byte-copy part files (preserving names ⇒ preserving time order); a
        # Spark re-write would pack input files by size and scramble the ranges
        for f in sorted(os.listdir(src)):
            if f.startswith("part-"):
                shutil.copy(os.path.join(src, f), os.path.join(out, f))
        n_data = _stamp_mtimes(out)
        # append the sentinel, then stamp it strictly later than every data file
        before = set(os.listdir(out))
        sentinel_events(spark).coalesce(1).write.mode("append").parquet(out)
        t = time.time() - 86400 + (n_data + 100) * 2
        for f in set(os.listdir(out)) - before:
            if f.startswith("part-") and not f.endswith(".crc"):
                os.utime(os.path.join(out, f), (t, t))

    return derived_dir(spark, "replay_sent", [src], build)


def _ckpt_dir() -> str:
    """Checkpoint scratch: prefer tmpfs (/dev/shm) — checkpoint WAL/state
    commits are fsync-heavy and throwaway in this harness. Production
    deployments pass a durable `checkpoint` path instead."""
    import tempfile

    shm = "/dev/shm/tfk_ckpt"
    try:
        os.makedirs(shm, exist_ok=True)
        # tmpfs: throwaway WAL/state commits MUST be reclaimed at exit or
        # repeated invocations grow RAM-backed storage (ADVICE r12)
        return track_scratch(tempfile.mkdtemp(prefix="ckpt_", dir=shm))
    except OSError:
        return scratch_dir("ckpt_")


# Final StreamingQueryProgress of the most recent drain() — tests assert
# state-store provider/metrics from here (driver-side metadata, never data).
LAST_PROGRESS: dict | None = None

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def drain(
    df: DataFrame,
    output_mode: str = "complete",
    checkpoint: str | None = None,
    state_partitions: int | None = 8,
    rocksdb: bool = False,
):
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink; return the materialized batch DataFrame. The memory sink is a
    test/CI harness — production sinks are parquet/foreachBatch.

    ``state_partitions`` right-sizes ``spark.sql.shuffle.partitions`` for
    this query (the stateful-operator partition count is fixed at query
    start from that conf, and each micro-batch commits one state-store
    delta PER partition): the replay corpus has O(10³) keys, where 64 state
    partitions × N batches is pure commit overhead — measured 2.5× slower
    than 8. On a real cluster state cardinality is huge and the conf comes
    from cluster tuning, so ``None`` (leave untouched) is the production
    setting.

    ``rocksdb=True`` runs this query under the RocksDB state-store
    provider (off-heap/on-disk keyed state + changelog checkpointing) —
    the 100 TB posture, where state cardinality outgrows executor heap;
    the provider is picked up at query start, so a per-drain conf scope
    is enough and results are identical by construction.

    A query fixes its confs when it starts, so both are scoped to
    ``start()`` alone: concurrent drains hold the conf lock only briefly."""
    global LAST_PROGRESS
    spark = df.sparkSession
    name = f"tfk_replay_{next(_qcounter)}"
    confs = {}
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    if rocksdb:
        confs["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_PROVIDER
        confs[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ] = "true"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint or _ckpt_dir())
        .trigger(availableNow=True)
    )
    with scoped_conf(spark, **confs):
        q = writer.start()
    q.awaitTermination()
    LAST_PROGRESS = q.lastProgress
    # the resolved frame keeps the sink's data; the view is only its name
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
