"""Wave 59: incremental streaming near-duplicate detection.

  * ``stream_dedup_near_incremental``: the MinHash-LSH near-dup pipeline
    run INCREMENTALLY over a document stream — each micro-batch sketches
    only its own documents, probes a persistent band index, emits the
    newly-discovered pairs, and appends itself to the index. The drained
    pair set must equal the batch detector's exactly, which is what the
    composed oracle asserts.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..streaming.replay import _stamp_mtimes, start_stream
from ..tables import load_table

# shared LSH construction — SAME constants/expressions as the batch
# detector, so the two pipelines cannot drift
from .llm_dedup import (  # noqa: F401
    BAND_SIZE,
    JACCARD_THRESHOLD,
    NEAR_ORACLE,
    N_SEEDS,
    _SHINGLES,
    _TOK,
)
from .scans import derived_dir, scratch_dir

CAT_STREAM = "2.I streaming"

_N_DOC_FILES = 4


def _doc_replay_dir(spark: SparkSession, sf_dir: str) -> str:
    """Range-partition documents.parquet into doc_id-ordered files with
    strictly increasing mtimes — the deterministic document stream (the
    events replay discipline applied to the corpus table)."""

    def build(out: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        d.repartitionByRange(_N_DOC_FILES, "doc_id").sortWithinPartitions(
            "doc_id"
        ).write.mode("overwrite").parquet(out)
        _stamp_mtimes(out)

    docs = os.path.join(sf_dir, "documents.parquet")
    return derived_dir(spark, "docs_replay", [docs], build)


def _sketch(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(band signatures, shingle arrays) for a document frame — the same
    map-side construction as llm_dedup_near, parameterized on the input
    instead of the table loader so batches can be sketched alone."""
    spark = docs.sparkSession
    sh = docs.select("doc_id", F.expr(_TOK).alias("toks")).select(
        "doc_id", F.explode(F.expr(_SHINGLES)).alias("sh")
    )
    seeds = spark.range(N_SEEDS).select(F.col("id").cast("int").alias("seed"))
    sigs = (
        sh.crossJoin(F.broadcast(seeds))
        .groupBy("doc_id", "seed")
        .agg(
            F.min(
                F.md5(
                    F.concat(F.col("seed").cast("string"), F.lit(":"), F.col("sh"))
                )
            ).alias("minhash")
        )
    )
    bands = (
        sigs.withColumn("band", (F.col("seed") / BAND_SIZE).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat(
                    F.col("band").cast("string"),
                    F.lit(":"),
                    F.min("minhash"),
                    F.lit("|"),
                    F.max("minhash"),
                )
            ).alias("band_sig")
        )
    )
    arrs = (
        docs.select("doc_id", F.expr(_TOK).alias("toks"))
        .select("doc_id", F.expr(_SHINGLES).alias("shs"))
        # merge re-ingested duplicate rows at the array grain — the
        # _shingle_arrays union-of-versions discipline (llm_dedup.py)
        .groupBy("doc_id")
        .agg(F.array_distinct(F.flatten(F.collect_list("shs"))).alias("shs"))
    )
    return bands, arrs


@register(
    "stream_dedup_near_incremental",
    CAT_STREAM,
    # drained incremental pairs ≡ the batch detector's full pair set —
    # the oracle IS llm_dedup_near's registered SQL
    NEAR_ORACLE,
)
def stream_dedup_near_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-duplicate detection: the corpus arrives as a
    doc_id-ordered file stream; each micro-batch (foreachBatch)
    1. sketches ONLY its own documents (map-side MinHash bands + shingle
       arrays — cost scales with the batch, never the corpus),
    2. probes the persistent band INDEX (candidates = same (band,
       band_sig) bucket, lower id side from index ∪ batch),
    3. exact-verifies candidates via array_intersect and APPENDS the
       confirmed pairs to the result sink,
    4. appends its own sketches to the index.
    Every pair is discovered exactly once — in the batch where its later
    document arrives — so the drained result equals the batch detector's
    full pair set, and the oracle is literally llm_dedup_near's
    registered SQL (composed, not re-stated). This is the kappa-style
    production posture for 100 TB dedup: the index is storage, per-day
    cost is O(day × matched buckets), and a full-corpus recompute is
    never needed.

    State shape: the index grows with the corpus but lives in PARQUET
    (not executor memory/state store) — band keys are 16-byte hashes,
    uniformly partitionable; at scale the candidate probe is a bucketed
    join against the index partitioned by band."""
    src = _doc_replay_dir(spark, sf_dir)
    schema = load_table(spark, sf_dir, "documents").schema
    idx_bands = scratch_dir("neardup_idx_bands_")
    idx_arrs = scratch_dir("neardup_idx_arrs_")
    results = scratch_dir("neardup_pairs_")
    # initialize empty index/result stores so every batch can read them
    empty_bands = spark.createDataFrame(
        [], "doc_id long, band int, band_sig string"
    )
    empty_bands.write.mode("overwrite").parquet(idx_bands)
    spark.createDataFrame([], "doc_id long, shs array<string>").write.mode(
        "overwrite"
    ).parquet(idx_arrs)
    spark.createDataFrame(
        [], "a_id long, b_id long, jaccard double"
    ).write.mode("overwrite").parquet(results)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        bands, arrs = _sketch(batch_df.select("doc_id", "text"))
        bands = bands.localCheckpoint()
        arrs = arrs.localCheckpoint()
        all_bands = s.read.parquet(idx_bands).unionByName(bands)
        all_arrs = s.read.parquet(idx_arrs).unionByName(arrs)
        a = all_bands.select(F.col("doc_id").alias("a_id"), "band", "band_sig")
        b = bands.select(F.col("doc_id").alias("b_id"), "band", "band_sig")
        cands = (
            a.join(b, ["band", "band_sig"])
            .filter(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        aa = all_arrs.select(F.col("doc_id").alias("a_id"), F.col("shs").alias("sha"))
        bb = arrs.select(F.col("doc_id").alias("b_id"), F.col("shs").alias("shb"))
        inter = F.size(F.array_intersect("sha", "shb"))
        jac = inter * 1.0 / (F.size("sha") + F.size("shb") - inter)
        verified = (
            cands.join(aa, "a_id")
            .join(bb, "b_id")
            .filter(jac >= JACCARD_THRESHOLD)
            .select("a_id", "b_id", F.round(jac, 4).alias("jaccard"))
        )
        verified.write.mode("append").parquet(results)
        bands.write.mode("append").parquet(idx_bands)
        arrs.write.mode("append").parquet(idx_arrs)

    start_stream(
        spark,
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True),
        state_partitions=None,
    ).awaitTermination()
    return spark.read.parquet(results)
