"""§2.A Scans / sources / sinks (batch side; streaming sources in streaming/).

Scale notes (100 TB): scans rely on Catalyst pushdown — `.explain` on these
plans shows PushedFilters + pruned ReadSchema reaching the parquet reader, so
row-groups that can't match are skipped and unused columns never leave disk.
At cluster scale the loader swaps to partitioned catalog tables (tables.py).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ..tables import content_key, load_table

CAT = "2.A scans/sources/sinks"

# scratch space for sink/source round-trips (kept inside the repo, gitignored)
SCRATCH = os.environ.get(
    "TFK_SCRATCH", os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")
)

# Scratch dirs THIS process created, removed at interpreter exit (ADVICE
# r12): session-scoping the derived fixture/replay dir names (r12
# compliance fix) meant each process writes fresh dirs under the stable
# SCRATCH path and nothing ever deleted them — unbounded disk growth
# across bench/test/sweep invocations (streaming checkpoints included).
# Every creation site registers its dir here; cleanup is best-effort
# (ignore_errors: a dir busy at shutdown is left for the next run's
# atexit, never an exception during teardown).
_SESSION_SCRATCH: list[str] = []

# Serializes derived_dir builds so concurrent driver threads — the test
# suite builds registry plans from a thread pool (guide §2.6) — cannot
# interleave two writers into one dir. RLock: a build may itself request
# a nested derived dir. Coarse by design; builds happen once per session.
FIXTURE_LOCK = threading.RLock()


def track_scratch(path: str) -> str:
    """Register a scratch path for removal when this process exits."""
    if not _SESSION_SCRATCH:
        import atexit

        def _cleanup() -> None:
            for p in _SESSION_SCRATCH:
                shutil.rmtree(p, ignore_errors=True)

        atexit.register(_cleanup)
    _SESSION_SCRATCH.append(path)
    return path


def scratch_dir(prefix: str) -> str:
    os.makedirs(SCRATCH, exist_ok=True)
    return track_scratch(tempfile.mkdtemp(prefix=prefix, dir=SCRATCH))


def derived_dir(
    spark: SparkSession,
    name: str,
    inputs: Sequence[str],
    build: Callable[[str], object],
) -> str:
    """Build a scratch fixture derived from the ``inputs`` paths once, and
    return its dir.

    The dir is keyed on ``name`` and the ``tables.content_key`` of the
    inputs: rewriting an input in place yields a new dir, and no dir
    outlives the process that built it (it is removed at exit).
    ``build(out)`` fills the existing, empty ``out``; a ``_READY`` marker
    written after it returns guards against serving a partial build."""
    key = (name, content_key(spark, inputs))
    digest = hashlib.sha1(repr(key).encode()).hexdigest()[:16]
    out = os.path.join(SCRATCH, f"{name}_{digest}")
    ready = os.path.join(out, "_READY")
    if os.path.isfile(ready):
        return out
    with FIXTURE_LOCK:
        if not os.path.isfile(ready):
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            track_scratch(out)
            build(out)
            with open(ready, "w") as fh:
                fh.write("ok")
    return out


@register("scan_parquet", CAT, "SELECT * FROM part")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table parquet scan (schema from parquet footer, no inference)."""
    return load_table(spark, sf_dir, "part")


@register(
    "scan_projected",
    CAT,
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity < 10",
)
def scan_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pruned + filtered scan — ReadSchema shows only 3 of 11 columns and
    PushedFilters shows LessThan(l_quantity,10) reaching the reader."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") < 10).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


_EVENT_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@register(
    "source_json",
    CAT,
    "SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'purchase'",
)
def source_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines ingest with an explicit user-supplied StructType (schema
    lives in consumer code — the reference-class schema-on-read model,
    SURVEY §1.1). Round-trips events→JSON→DataFrame, so the oracle is the
    original selection."""
    out = scratch_dir("json_src_")
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    ev.select("event_id", "user_id", "event_type", "value").write.mode(
        "overwrite"
    ).json(out)
    return spark.read.schema(_EVENT_JSON_SCHEMA).json(out)


@register(
    "sink_parquet",
    CAT,
    # sink round-trip of the flagship aggregate — same oracle as agg_basic
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(ROUND(l_quantity * 4, 0) AS BIGINT)) AS DOUBLE) / 4.0 AS sum_qty,
           COUNT(*)                  AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch parquet sink + re-read: proves what we write is what we read."""
    out = scratch_dir("parquet_sink_")
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # exact quarter-scaled quantity sum, unrounded (flagship sq4
            # idiom; r11 magnitude lint, 5.3.9a)
            F.expr(
                "CAST(SUM(CAST(ROUND(l_quantity * 4, 0) AS BIGINT))"
                " AS DOUBLE) / 4.0"
            ).alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    agg.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "sink_partitioned",
    CAT,
    """
    SELECT event_type, user_id, COUNT(*) AS n
    FROM events GROUP BY event_type, user_id
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink (partitionBy event_type) + re-read.
    At 100 TB this layout is what enables static+dynamic partition pruning on
    every downstream read; the partition column round-trips from directory
    names, which is also why it comes back last in the schema."""
    out = scratch_dir("parquet_part_")
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    agg.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit schema: an EMPTY input writes no partition dirs and
    # schema inference would fail (empty-corpus census r6)
    back = spark.read.schema(agg.schema).parquet(out)
    # partition value decodes as string from the path; restore declared type+order
    return back.select(
        F.col("event_type").cast("string").alias("event_type"), "user_id", "n"
    )


@register(
    "source_csv",
    CAT,
    """
    SELECT c_custkey, c_name, c_nationkey, ROUND(c_acctbal, 4) AS acctbal
    FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def source_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV ingest with an explicit schema (no inference pass — at 100 TB a
    schema-inference scan doubles the read; headers off, types declared).
    Round-trips customer→CSV→DataFrame; ROUND pins the float text parse."""
    out = scratch_dir("csv_src_")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    c.select(
        "c_custkey", "c_name", "c_nationkey", F.round("c_acctbal", 4).alias("acctbal")
    ).write.mode("overwrite").option("header", "false").csv(out)
    return spark.read.schema(
        "c_custkey bigint, c_name string, c_nationkey int, acctbal double"
    ).csv(out)


@register(
    "source_schema_evolution",
    CAT,
    """
    SELECT doc_id, lang, n_chars,
           CASE WHEN doc_id % 2 = 1 THEN n_chars * 2 ELSE NULL END AS quality
    FROM documents
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a v1 writer emits (doc_id, lang, n_chars),
    a later v2 writer adds a `quality` column; `mergeSchema=true` reconciles
    the union schema and back-fills NULL for pre-evolution files.

    This is how a long-lived 100 TB feed actually grows columns — no
    rewrite of historical data, the merged schema is computed from parquet
    footers only. (Footer-merge cost scales with file count, so production
    turns mergeSchema OFF per-read and declares the schema from a catalog;
    the capability matters for the evolution boundary itself.)"""
    d = load_table(spark, sf_dir, "documents")
    out = scratch_dir("schema_evo_")
    # a NULL doc_id matches NEITHER parity filter (three-valued logic
    # silently dropped the row — NULL-PK r9); id-less rows are routed
    # to the v1 legacy writer, matching the oracle's CASE which gives
    # them NULL quality
    v1 = d.filter(
        (F.col("doc_id") % 2 == 0) | F.col("doc_id").isNull()
    ).select("doc_id", "lang", "n_chars")
    v2 = (
        d.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "n_chars")
        .withColumn("quality", F.col("n_chars") * 2)
    )
    v1.write.mode("overwrite").parquet(f"{out}/v1")
    v2.write.mode("overwrite").parquet(f"{out}/v2")
    back = spark.read.option("mergeSchema", "true").parquet(f"{out}/v1", f"{out}/v2")
    return back.select("doc_id", "lang", "n_chars", "quality")


@register(
    "sink_compacted",
    CAT,
    """
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)
def sink_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction sink: repartition to a target file count +
    `maxRecordsPerFile` cap, then re-read and aggregate — the maintenance
    pass every streaming feed needs (each micro-batch emits one file per
    state partition; a day of 1-minute batches is ~10^5 files, and at
    100 TB footer/listing overhead starts to dominate scans). Round-trip
    aggregate proves content survives compaction byte-exactly."""
    d = load_table(spark, sf_dir, "documents")
    out = scratch_dir("compacted_")
    (
        d.repartition(4, "lang")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 500_000)
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@register(
    "source_orc",
    CAT,
    "SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'error'",
)
def source_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC ingest: round-trips a selection through ORC and reads it back
    with the file-carried schema — same pattern as source_json, proving the
    columnar-format breadth of the source layer (parquet, ORC, JSON, CSV).
    DuckDB cannot read ORC, so the oracle replays the original selection —
    the check still proves write→read byte fidelity."""
    out = scratch_dir("orc_src_")
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    ev.select("event_id", "user_id", "event_type", "value").write.mode(
        "overwrite"
    ).orc(out)
    return spark.read.orc(out)


@register(
    "source_json_permissive",
    CAT,
    """
    SELECT (SELECT COUNT(*) FROM events WHERE event_type = 'view') AS n_valid,
           CAST(5 AS BIGINT)  AS n_corrupt
    """,
)
def source_json_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance: PERMISSIVE JSON parse routes unparseable
    lines into `_corrupt_record` instead of failing the job — mandatory for
    a real feed, where one producer bug must not poison the whole batch.
    Five deterministic malformed lines are injected; the count of survivors
    and corpses is the oracle. At 100 TB the corrupt branch is written to a
    quarantine sink for replay, never dropped silently."""
    import os

    out = scratch_dir("json_perm_")
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    ev.select("event_id", "user_id", "event_type", "value").write.mode(
        "overwrite"
    ).json(out)
    bad = os.path.join(out, "part-99999-malformed.json")
    with open(bad, "w") as f:
        for i in range(5):
            f.write(f'{{"event_id": {i}, "user_id": BROKEN{i}\n')
    schema = T.StructType(
        list(_EVENT_JSON_SCHEMA.fields)
        + [T.StructField("_corrupt_record", T.StringType())]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    # EAGER localCheckpoint before splitting on _corrupt_record: Spark
    # requires the parsed relation to be materialized before referencing
    # the corrupt column (documented JSON-source restriction); checkpoint
    # blocks self-clean where a cache() entry leaked (r7 residue class)
    df = df.localCheckpoint()
    return df.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0)).alias(
            "n_valid"
        ),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
    )


@register("scan_file_lineage", CAT)  # rows-only: file paths are environment-specific
def scan_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level lineage via the hidden `_metadata` struct: every row tagged
    with its source file and intra-file position — the provenance primitive
    a 100 TB feed needs for quarantining bad producers, reprocessing a
    single day's files, or attributing training examples back to shards.
    Zero-cost: served from the reader's own bookkeeping, no extra scan."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        d.select(
            "doc_id",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "source_file"
            ),
            F.col("_metadata.row_index").alias("row_index"),
        )
        .groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("row_index").alias("first_row"),
            F.max("row_index").alias("last_row"),
        )
    )


@register(
    "scan_pruned_partitions",
    CAT,
    """
    SELECT event_type, user_id, COUNT(*)::BIGINT AS n,
           ROUND(SUM(value), 4) AS total_value
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type, user_id
    """,
)
def scan_pruned_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side partition pruning: write the per-(event_type, user_id)
    rollup Hive-partitioned by event_type, then read it back filtered to 2
    of 5 partition values. The filter matches only directory names — the
    other partitions' files are never opened (`.explain` shows the IN
    filter under PartitionFilters with 2 selected partitions). At 100 TB
    this is the difference between scanning 40 TB and scanning 16 TB for
    the same query; the complementary write side is `sink_partitioned`.
    """
    out = scratch_dir("parquet_prune_")
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    agg.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit schema: an EMPTY input writes no partition dirs and
    # schema inference would fail (empty-corpus census r6)
    back = spark.read.schema(agg.schema).parquet(out).filter(
        F.col("event_type").isin("purchase", "signup")
    )
    return back.select(
        F.col("event_type").cast("string").alias("event_type"),
        "user_id",
        "n",
        "total_value",
    )
