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
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..operators.scans import derived_dir, scratch_dir
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


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

# The default state-partition count, one wave of tasks (a sentinel,
# because ``None`` already means "leave the session's conf alone").
ONE_WAVE = object()

FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_confs(checkpoint: str) -> dict:
    """The checkpoint-manager conf for a query checkpointing at
    ``checkpoint``: the file-system manager for a local path (no scheme,
    or ``file:``), none (Spark's default) for any other scheme."""
    if urlsplit(checkpoint).scheme in ("", "file"):
        return {"spark.sql.streaming.checkpointFileManagerClass": FS_CHECKPOINT_MANAGER}
    return {}


def start_stream(
    spark: SparkSession,
    writer: DataStreamWriter,
    state_partitions=ONE_WAVE,
    rocksdb: bool = False,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Start ``writer``'s query with its checkpoint and state store placed
    and sized: every stream in the package starts here (:func:`drain` for
    memory sinks, directly for ``foreachBatch`` and file sinks).

    ``checkpoint`` is the query's ``checkpointLocation``; ``None`` gives
    it a fresh scratch dir, removed at exit. A local checkpoint is
    written through Spark's ``FileSystemBasedCheckpointFileManager``
    (:func:`checkpoint_confs`). Spark's default manager goes through
    Hadoop's ``FileContext``, and without libhadoop the local file
    system forks a shell (``chmod``, ``readlink``) for its permission
    and link-status calls: every micro-batch paid that in its offset
    WAL, each state-store partition's commit and the commit log. On a
    4-core host, a warm ``stream_dedup_watermark`` drain at sf0.01 went
    from ~1 824 new processes to ~527 and from 1.7-2.4 s of summed state
    commit to 0.13-0.15 s, and ``feed_stream`` ``pass_s`` from 3.59 to
    2.88 s (medians of 12 pairs). Any other scheme keeps Spark's
    default: the file-system manager commits by ``FileSystem.rename``,
    which is not atomic on an object store (rename there is copy +
    delete), and on HDFS the default's ``FileContext`` rename is what
    makes a commit atomic.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` for this
    query, which fixes its stateful-operator partition count at start.
    Each micro-batch commits one state-store version PER partition, a
    fixed cost that does not depend on row count. The default is one
    wave of tasks, ``min(8, defaultParallelism)``, so every partition
    commits in the same wave. At 8 partitions on a 4-slot host the
    commits ran in two serial waves; at 4, the traced ``feed_stream``
    run (``stream_dedup_watermark``) went from 693 to 372 ms
    ``state.commit_ms`` per batch and from 72 to 40 tasks per pass, and
    ``feed_stream`` ``pass_s`` from 5.97 to 4.61 s (medians of 12 pairs).
    An in-process sweep over seven stateful keys at sf0.1 measured 3-32%
    less time at 4 partitions than at 8. 8 stays the cap, so hosts with
    8+ slots keep 8; one partition is too few (``stream_stateful`` took
    25 s at 1 against 11 s at 8). An explicit count is honoured;
    ``None`` leaves the session's conf alone — the production setting,
    where state cardinality is huge and the conf comes from cluster
    tuning, and the setting for a ``foreachBatch`` sink whose batch
    work should keep the session's shuffle partitions.

    ``rocksdb=True`` runs this query under the RocksDB state-store
    provider (off-heap/on-disk keyed state + changelog checkpointing) —
    the 100 TB posture, where state cardinality outgrows executor heap;
    results are identical by construction.

    A query fixes its confs when it starts, so all of them are scoped to
    ``writer.start()`` alone: concurrent starts hold the conf lock only
    briefly."""
    checkpoint = checkpoint or scratch_dir("ckpt_")
    if state_partitions is ONE_WAVE:
        state_partitions = min(8, spark.sparkContext.defaultParallelism)
    confs = checkpoint_confs(checkpoint)
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    if rocksdb:
        confs["spark.sql.streaming.stateStore.providerClass"] = ROCKSDB_PROVIDER
        confs[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ] = "true"
    with scoped_conf(spark, **confs):
        return writer.option("checkpointLocation", checkpoint).start()


def drain(
    df: DataFrame,
    output_mode: str = "complete",
    checkpoint: str | None = None,
    state_partitions=ONE_WAVE,
    rocksdb: bool = False,
):
    """Run a streaming DataFrame to completion (AvailableNow) into a memory
    sink; return the materialized batch DataFrame. The memory sink is a
    test/CI harness — production sinks are parquet/foreachBatch.

    The query starts through :func:`start_stream`, which checkpoints it
    at ``checkpoint`` (``None``: a fresh scratch dir) through the
    file-system manager when that path is local, sizes its state to one
    wave of tasks, ``min(8, defaultParallelism)`` partitions, unless
    ``state_partitions`` says otherwise (``None``: the session's conf),
    and with ``rocksdb=True`` puts it on the RocksDB provider. The
    query's full progress history rides on the returned frame; read it
    with :func:`progress`."""
    spark = df.sparkSession
    name = f"tfk_replay_{next(_qcounter)}"
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    q = start_stream(spark, writer, state_partitions, rocksdb, checkpoint)
    q.awaitTermination()
    # the resolved frame keeps the sink's data; the view is only its name
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    out._tfk_progress = list(q.recentProgress)
    return out


def progress(drained: DataFrame) -> list:
    """Every StreamingQueryProgress of the query :func:`drain` ran to
    produce ``drained``, one per micro-batch, oldest first (Spark keeps
    the last ``spark.sql.streaming.numRecentProgressUpdates``, 100 by
    default; a replay drains a handful). The history is an attribute of
    the returned frame object (the ``_tfk_npart`` idiom of
    ``tables.parallelize``), so frames derived from it do not carry it."""
    return drained._tfk_progress
