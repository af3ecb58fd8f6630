"""Wave 11: incremental AvailableNow ingestion, Neyman-allocation
sampling.

  * ``stream_trigger_incremental``: two AvailableNow runs over a growing
    source directory sharing one checkpoint — the second run processes
    ONLY the newly arrived files (incremental nightly ingest, the
    Trigger.AvailableNow operating mode a feed pipeline actually runs).
  * ``sample_stratified_neyman``: optimal (Neyman) sample allocation —
    per-stratum sample sizes proportional to N_h·σ_h, drawn
    deterministically by md5 rank within stratum.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .exact import CENTS_SUM_SQL, cents_sum
from ..tables import load_table

# exact integer-cents SUM of events.value, unrounded (r11 projected-
# magnitude lint, SURVEY 5.3.9a): total_value is a SUM-driven grower
_VAL_CENTS_SUM = CENTS_SUM_SQL.format(col="value")

CAT_STREAM = "2.I streaming"
CAT_SAMPLE = "2.L sampling"

_N_FIRST = 2    # files visible to the first run
_SAMPLE_N = 100


@register(
    "stream_trigger_incremental",
    CAT_STREAM,
    f"""
    SELECT event_type, COUNT(*) AS n, {_VAL_CENTS_SUM} AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_trigger_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental AvailableNow ingestion: run 1 drains the 2 files
    present at start into a parquet sink; 2 more files then arrive; run 2
    REUSES the checkpoint and therefore processes only the new files
    (FileStreamSource's committed-offset log skips the old ones). The
    sink re-aggregated must equal the full batch table — no gap at the
    boundary, no reprocessing overlap.

    This is the nightly-ingest operating mode (cron-triggered
    AvailableNow): state lives in the checkpoint, compute runs only for
    new data, and a crashed run resumes from the offset log. The
    companion test asserts run 1's sink really held only the first
    files' rows (tests/test_scale_guards.py pattern)."""
    from ..streaming.replay import _prepare, _stamp_mtimes, start_stream

    src_all = _prepare(spark, sf_dir, "ordered")
    parts = sorted(
        f for f in os.listdir(src_all)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    from .scans import scratch_dir

    work = scratch_dir("incr_src_")
    sink = scratch_dir("incr_sink_")
    ckpt = scratch_dir("incr_ckpt_")
    schema = load_table(spark, sf_dir, "events").schema

    def run_once() -> None:
        start_stream(
            spark,
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(work)
            .writeStream.format("parquet")
            .option("path", sink)
            .trigger(availableNow=True),
            state_partitions=None,
            checkpoint=ckpt,
        ).awaitTermination()

    for f_ in parts[:_N_FIRST]:
        shutil.copy(os.path.join(src_all, f_), os.path.join(work, f_))
    _stamp_mtimes(work)
    run_once()
    for f_ in parts[_N_FIRST:]:
        shutil.copy(os.path.join(src_all, f_), os.path.join(work, f_))
    _stamp_mtimes(work)
    run_once()
    return (
        spark.read.parquet(sink)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            cents_sum("value").alias("total_value"),
        )
    )


@register(
    "sample_stratified_neyman",
    CAT_SAMPLE,
    f"""
    WITH frame AS (
      -- the sampling frame excludes id-less docs: the md5 rank order
      -- needs identity, and the allocation must count the same frame
      -- it draws from (NULL-PK r9)
      SELECT doc_id, lang, n_chars FROM documents
      WHERE doc_id IS NOT NULL
    ),
    strata AS (
      SELECT lang, COUNT(*)::DOUBLE AS nh,
             COALESCE(stddev_samp(n_chars), 0) AS sh
      FROM frame GROUP BY lang
    ),
    tot AS (SELECT SUM(nh * sh) AS w FROM strata),
    alloc AS (
      SELECT lang, nh::BIGINT AS n_stratum,
             CAST(ROUND({_SAMPLE_N} * nh * sh / (SELECT w FROM tot))
                  AS BIGINT) AS n_alloc
      FROM strata
    ),
    ranked AS (
      SELECT d.lang, d.doc_id,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY md5(d.doc_id::VARCHAR), d.doc_id)
               AS rk
      FROM frame d
    )
    SELECT r.lang, r.doc_id, r.rk, a.n_stratum, a.n_alloc
    FROM ranked r JOIN alloc a ON a.lang = r.lang
    WHERE r.rk <= a.n_alloc
    """,
)
def sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sample: stratum h (language) gets
    n·N_h·σ_h / Σ N_h·σ_h of the 100-doc budget — variance-optimal
    allocation (big AND heterogeneous strata sampled more), versus the
    proportional allocation of ``corpus_mix``. Draws are the md5-rank
    minimum per stratum: deterministic, engine-portable, and stable under
    corpus growth (a doc's rank only moves when docs hash below it).

    Scale shape: the allocation table is strata-sized (broadcast); the
    draw is one rank window per stratum — at 100 TB replace ROW_NUMBER
    with an approximate md5 threshold per stratum (n_alloc/N_h quantile)
    and verify counts, same two-pass shape as ``sample_hash``."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    strata = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("nh"),
        F.coalesce(F.stddev_samp("n_chars"), F.lit(0.0)).alias("sh"),
    )
    tot = strata.agg(F.sum(F.col("nh") * F.col("sh")).alias("w"))
    alloc = strata.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.col("nh").cast("long").alias("n_stratum"),
        F.round(_SAMPLE_N * F.col("nh") * F.col("sh") / F.col("w"))
        .cast("long")
        .alias("n_alloc"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    ranked = d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
    return (
        ranked.join(F.broadcast(alloc), "lang")
        .filter(F.col("rk") <= F.col("n_alloc"))
        .select("lang", "doc_id", F.col("rk").cast("long"), "n_stratum", "n_alloc")
    )
