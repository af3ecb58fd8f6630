"""Checkpoint placement: ``replay.start_stream`` writes a local checkpoint
through Spark's file-system checkpoint manager, leaves any other scheme
on Spark's default, and a checkpoint committed that way restarts."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from training_feed_kinesis_spark.streaming import replay

from .conftest import SF_DIR

_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


@pytest.mark.parametrize(
    "path, local",
    [
        ("/data/ckpt/q1", True),
        ("relative/ckpt", True),
        ("file:/data/ckpt/q1", True),
        ("file:///data/ckpt/q1", True),
        ("s3a://bucket/ckpt/q1", False),
        ("hdfs://namenode:8020/ckpt/q1", False),
    ],
)
def test_only_local_checkpoints_get_the_file_system_manager(path, local):
    want = {_MANAGER: replay.FS_CHECKPOINT_MANAGER} if local else {}
    assert replay.checkpoint_confs(path) == want


def test_started_query_runs_with_the_file_system_manager(spark):
    """The manager is scoped to ``start()``, yet the query's own session
    has it (read inside the batch), and the caller's conf is as found."""
    before = spark.conf.getAll
    seen = []

    def record(batch_df, batch_id):
        seen.append(batch_df.sparkSession.conf.get(_MANAGER, None))

    stream = replay.replay_stream(spark, SF_DIR, "ordered")
    replay.start_stream(
        spark,
        stream.writeStream.foreachBatch(record).trigger(availableNow=True),
        state_partitions=None,
    ).awaitTermination()
    assert seen and set(seen) == {replay.FS_CHECKPOINT_MANAGER}, seen
    assert spark.conf.getAll == before


_T0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)


def _add_file(src, n: int, ids) -> None:
    """Write replay file ``n`` holding ``ids`` (event time ``_T0 + id`` s),
    then pin file mtimes in name order (one file per micro-batch)."""
    ids = list(ids)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [_T0 + datetime.timedelta(seconds=i) for i in ids],
                    pa.timestamp("us", tz="UTC"),
                ),
            }
        ),
        src / f"part-{n:05d}.parquet",
    )
    replay._stamp_mtimes(str(src))


def test_restart_reads_back_a_file_system_committed_checkpoint(spark, tmp_path):
    """A RocksDB ``dropDuplicatesWithinWatermark`` replay drains into an
    explicit local checkpoint (a ``foreachBatch`` sink: the memory sink
    cannot restart in append mode); restarted on it after one more file
    arrives, the query runs only that file's batch and still drops the
    ids the first run saw, so the offsets, commits and state written by
    the file-system manager read back."""
    src, ckpt = tmp_path / "src", str(tmp_path / "ckpt")
    src.mkdir()

    def run():
        ids = set()
        deduped = (
            spark.readStream.schema("event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        q = replay.start_stream(
            spark,
            deduped.writeStream.foreachBatch(
                lambda b, _: ids.update(r.event_id for r in b.collect())
            ).trigger(availableNow=True),
            rocksdb=True,
            checkpoint=ckpt,
        )
        q.awaitTermination()
        return ids, q.recentProgress

    _add_file(src, 0, range(0, 100))
    _add_file(src, 1, range(100, 200))
    first, history = run()
    assert first == set(range(200))
    assert [p["numInputRows"] for p in history if p["numInputRows"]] == [100, 100]

    _add_file(src, 2, range(150, 250))  # 50 ids seen in run 1, 50 new
    second, history = run()
    assert [p["numInputRows"] for p in history if p["numInputRows"]] == [100]
    assert second == set(range(200, 250))
    op = history[-1]["stateOperators"][0]
    assert any("rocksdb" in k.lower() for k in op["customMetrics"]), op
