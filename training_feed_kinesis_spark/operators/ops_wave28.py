"""Wave 28: atomic snapshot publish, corrupt-file tolerance.

  * ``sink_manifest_atomic_swap``: versioned-snapshot publish — write a
    new immutable snapshot directory, then atomically swap a pointer
    file; readers resolve the pointer and never observe a half-written
    table (the poor-man's table format, and the exact pattern the CDC
    snapshot sink uses).
  * ``scan_ignore_corrupt_files``: one poisoned file in a delivery must
    not kill the 10⁴-file batch — ignoreCorruptFiles skips it, the scan
    returns every valid row, and the lineage count pins exactly what was
    skipped.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import scoped_conf
from .exact import CENTS_SUM_SQL, cents_sum
from ..tables import load_table
from .scans import derived_dir, scratch_dir

# exact integer-cents SUM of events.value, unrounded (r11 projected-
# magnitude lint, SURVEY 5.3.9a): total_value is a SUM-driven grower
_VAL_CENTS_SUM = CENTS_SUM_SQL.format(col="value")

CAT_SINK = "2.A scans/sources/sinks"


@register(
    "sink_manifest_atomic_swap",
    CAT_SINK,
    f"""
    SELECT event_type, COUNT(*) AS n, {_VAL_CENTS_SUM} AS total_value
    FROM events GROUP BY event_type
    """,
)
def sink_manifest_atomic_swap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic publish via pointer swap: snapshot v1 (half the data) is
    published, then snapshot v2 (all of it) is written to a NEW immutable
    directory and the one-line pointer file is atomically replaced
    (os.replace — POSIX rename). Readers resolve the pointer at read
    time: they see all-of-v1 or all-of-v2, never a torn mix — publishing
    is metadata-only, data files are write-once. The oracle asserts the
    post-swap read equals the full batch aggregate.

    At 100 TB this is the transactional-commit primitive table formats
    formalize (Delta/Iceberg manifest pointer); the snapshot directories
    double as time travel."""
    root = scratch_dir("atomic_swap_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    v1, v2 = os.path.join(root, "snap_v1"), os.path.join(root, "snap_v2")
    ptr, ptr_tmp = os.path.join(root, "CURRENT"), os.path.join(root, "CURRENT.tmp")
    # v1: a partial early publish (half the events by id parity)
    ev.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(v1)
    with open(ptr_tmp, "w") as fh:
        fh.write(v1)
    os.replace(ptr_tmp, ptr)
    # v2: the complete snapshot, then the atomic pointer swap
    ev.write.mode("overwrite").parquet(v2)
    with open(ptr_tmp, "w") as fh:
        fh.write(v2)
    os.replace(ptr_tmp, ptr)
    with open(ptr) as fh:
        current = fh.read().strip()
    return (
        spark.read.parquet(current)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            cents_sum("value").alias("total_value"),
        )
    )


@register(
    "scan_ignore_corrupt_files",
    CAT_SINK,
    """
    SELECT event_type, COUNT(*) AS n
    FROM events WHERE dayofmonth(ts) <= 10 GROUP BY event_type
    """,
)
def scan_ignore_corrupt_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-delivery resilience: a directory holding the first ten
    days of events as parquet PLUS one garbage file; with
    ``spark.sql.files.ignoreCorruptFiles`` the scan logs and skips the
    poisoned file and returns every valid row (the oracle pins that
    count exactly). Default behavior — fail the job — is right for
    correctness-critical tables; this flag is the quarantine mode for
    bulk ingest where one bad producer must not block the day's 10⁴
    files. Pair with ``scan_file_lineage`` to report WHICH file was
    skipped.

    Conf flipped only for this read (saved/restored)."""

    def build(out: str) -> None:
        load_table(spark, sf_dir, "events").filter(F.dayofmonth("ts") <= 10).select(
            "event_id", "event_type", "ts"
        ).write.mode("overwrite").parquet(out)
        with open(os.path.join(out, "part-corrupt.parquet"), "wb") as fh:
            fh.write(b"PAR1 this is not a real parquet footer")

    events = os.path.join(sf_dir, "events.parquet")
    root = derived_dir(spark, "corrupt_scan", [events], build)
    with scoped_conf(spark, **{"spark.sql.files.ignoreCorruptFiles": "true"}):
        out = (
            spark.read.schema("event_id long, event_type string, ts timestamp")
            .parquet(root)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out.collect()  # force the scan while the conf is on
        return out