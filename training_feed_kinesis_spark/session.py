"""SparkSession construction and defensive per-session configuration.

Two entry paths exist:
  * our own tests / bench build a session via :func:`build_session`;
  * the verify driver passes us ITS session — so every conf this engine
    depends on must also be settable at runtime on a foreign session.
    :func:`configure` does exactly that, on a session's first table load.

Scale posture (SURVEY.md §4): AQE on (skew-join split, shuffle coalescing,
runtime join re-planning), broadcast threshold generous for star-schema dims,
shuffle partitions sized for the local harness — on a real 1000-executor
cluster these come from cluster conf, not code; nothing here hard-schedules.
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import SparkSession

# Confs that MUST hold for correctness (not perf) on any session we touch.
# - UTC session timezone: DuckDB TIMESTAMP is naive; Spark TimestampType is
#   session-tz-aware. UTC makes both engines see identical wall-clock values
#   (SURVEY.md §1.4, probe-verified).
# - nanosAsLong: Spark 4.1.2 refuses INT64 TIMESTAMP(NANOS) parquet outright
#   ([PARQUET_TYPE_ILLEGAL]); older events.parquet generations store
#   timestamp[ns] (today's store timestamp[us]). With this legacy flag the
#   column arrives as LongType nanos and tables.py converts with integer
#   division (exact parity with DuckDB's truncation).
_CORRECTNESS_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Perf-only confs; best-effort at runtime (fine if a foreign session locked them).
_PERF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # star-schema dims (region/nation/customer at test sf) comfortably fit
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


# Session confs are global, not thread-local: every temporary conf change
# in the package goes through scoped_conf, serialized by this one lock.
_CONF_LOCK = threading.RLock()


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine-required confs to an existing (possibly foreign)
    session, once per Python session object: the object is marked, the
    way ``tables.parallelize`` marks frames, so every later table load
    skips the six py4j ``conf.set`` calls. A ``newSession()`` is a new
    object and is configured on its first load."""
    if getattr(spark, "_tfk_configured", False):
        return spark
    with _CONF_LOCK:
        if not getattr(spark, "_tfk_configured", False):
            for k, v in _CORRECTNESS_CONFS.items():
                spark.conf.set(k, v)
            for k, v in _PERF_CONFS.items():
                try:
                    spark.conf.set(k, v)
                except Exception:
                    pass  # static conf on this deployment; perf-only, never correctness
            spark._tfk_configured = True
    return spark


@contextlib.contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Set session confs for the ``with`` body and restore them exactly on
    exit: a key that was unset is unset again, any other key gets its old
    value back. Conf names contain dots, so pass them as
    ``**{"spark.sql.x": "v"}``. Nesting is safe."""
    with _CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def build_session(app_name: str = "training-feed-kinesis-spark") -> SparkSession:
    """Build the engine's own local session (tests / bench)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Local-harness sizing: at bench sf (≤600k rows) task-scheduling
        # overhead dominates, and AQE coalescing already caps downstream
        # parallelism — cpus/2 measured ~15-20% faster than 2*cpus on the
        # batch suite. A real cluster sets this (or AQE initialPartitionNum)
        # from cluster conf; nothing in the engine assumes this value.
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("TFK_SHUFFLE_PARTITIONS", str(max(int(cpus) // 2, 8))),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    # Streaming state store backend. The default HDFSBackedStateStoreProvider
    # keeps every state row on the executor heap — fine for the bounded
    # watermarked state these tests carry, but at 100 TB key cardinality the
    # RocksDB provider is the production posture: state lives off-heap /
    # on-disk with incremental (changelog) checkpointing, so state size is
    # bounded by local disk, not executor memory. Opt-in via env because the
    # provider class is a per-query-start conf and tests exercise both.
    if os.environ.get("TFK_ROCKSDB_STATE", "").lower() in ("1", "true", "yes"):
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    for conf in (_CORRECTNESS_CONFS, _PERF_CONFS):
        for k, v in conf.items():
            builder = builder.config(k, v)
    return configure(builder.getOrCreate())
