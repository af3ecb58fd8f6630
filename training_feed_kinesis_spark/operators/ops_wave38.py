"""Wave 38: streaming quarantine routing, tokenizer vocabulary coverage.

  * ``stream_quarantine_split``: dead-letter routing in a stream —
    foreachBatch splits every micro-batch on a data-quality rule, valid
    rows to the main sink, violations to a quarantine sink WITH their
    reason. The drained union of both sinks is oracled against the batch
    split (no row lost, none double-routed) — the ingest hardening every
    production feed needs before a bad producer poisons training data.
  * ``llm_tokenizer_coverage``: OOV audit — share of token occurrences
    outside the corpus top-1k vocabulary, per language. The coverage
    check run whenever a tokenizer/vocab is frozen; complements
    ``llm_tokenizer_fertility`` (tokens-per-word) with
    what-the-vocab-misses.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ._json_compat import duck_json_int, spark_json_int
from ..tables import load_table
from .scans import scratch_dir

CAT_STREAM = "2.I streaming"
CAT_TEXT = "2.J llm-pipeline (text)"

K_MAX_VALID = 94     # DQ rule: props.k must be < 95
VOCAB_SIZE = 1000


@register(
    "stream_quarantine_split",
    CAT_STREAM,
    f"""
    WITH classed AS (
      SELECT event_type, value,
             CASE WHEN value IS NULL THEN 'null_value'
                  WHEN {duck_json_int("props", "$.k")}
                       > {K_MAX_VALID} THEN 'k_range'
             END AS reason
      FROM events
    )
    SELECT 'valid:' || event_type AS bucket, COUNT(*)::BIGINT AS n
    FROM classed WHERE reason IS NULL GROUP BY event_type
    UNION ALL
    SELECT 'quarantine:' || reason, COUNT(*)::BIGINT
    FROM classed WHERE reason IS NOT NULL GROUP BY reason
    """,
)
def stream_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dead-letter split: each micro-batch is classified by a DQ
    rule (null value → 'null_value'; props.k out of range → 'k_range');
    valid rows land in the main sink, violations in the quarantine sink
    with their reason attached. Re-aggregating BOTH sinks must reproduce
    the batch classification exactly — conservation (no loss, no
    double-routing) is what the oracle asserts.

    Scale shape: the classification is a row-local projection inside
    foreachBatch (no extra shuffle vs a plain sink); quarantine volume is
    the anomaly rate, so the second sink is tiny. At 100 TB the
    quarantine parquet is the retro-ingest queue after the producer is
    fixed — same idempotent batchId-keyed layout as the main sink."""
    from ..streaming.replay import replay_stream, start_stream

    main_sink = scratch_dir("quar_main_")
    quar_sink = scratch_dir("quar_dlq_")
    stream = replay_stream(spark, sf_dir, "ordered")

    reason = F.when(F.col("value").isNull(), "null_value").when(
        # try_cast: the quarantine gate must not itself crash on the
        # malformed payload it exists to route (ANSI CAST of garbage throws)
        spark_json_int("props", "$.k") > K_MAX_VALID, "k_range"
    )

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        classed = batch_df.withColumn("reason", reason)
        (
            classed.filter(F.col("reason").isNull())
            .drop("reason")
            .write.mode("overwrite")
            .parquet(f"{main_sink}/batch={batch_id}")
        )
        (
            classed.filter(F.col("reason").isNotNull())
            .write.mode("overwrite")
            .parquet(f"{quar_sink}/batch={batch_id}")
        )

    start_stream(
        spark,
        stream.writeStream.foreachBatch(_route).trigger(availableNow=True),
        state_partitions=None,
    ).awaitTermination()

    valid = (
        spark.read.parquet(main_sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.concat(F.lit("valid:"), F.col("event_type")).alias("bucket"), "n"
        )
    )
    quar = (
        spark.read.parquet(quar_sink)
        .groupBy("reason")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.concat(F.lit("quarantine:"), F.col("reason")).alias("bucket"), "n"
        )
    )
    return valid.unionByName(quar)


@register(
    "llm_tokenizer_coverage",
    CAT_TEXT,
    f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ),
    counts AS (SELECT t, COUNT(*)::BIGINT AS c FROM tok GROUP BY t),
    vocab AS (
      SELECT t FROM (
        SELECT t, ROW_NUMBER() OVER (ORDER BY c DESC, t ASC) AS rn
        FROM counts
      ) WHERE rn <= {VOCAB_SIZE}
    )
    SELECT tok.lang,
           COUNT(*)::BIGINT AS n_tokens,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           ROUND(AVG(CASE WHEN v.t IS NULL THEN 1.0 ELSE 0.0 END), 4)
             AS oov_rate,
           COUNT(DISTINCT CASE WHEN v.t IS NULL THEN tok.t END)::BIGINT
             AS oov_types
    FROM tok LEFT JOIN vocab v ON v.t = tok.t
    GROUP BY tok.lang
    """,
)
def llm_tokenizer_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: freeze the corpus top-1k tokens (ranked
    by count with token tiebreak — deterministic in both engines) as the
    'tokenizer vocab', then measure per language what share of token
    OCCURRENCES falls outside it, plus the distinct OOV type count. A
    language with high OOV under a shared vocab is the one whose text
    will fragment into byte-fallback pieces — the go/no-go check before
    freezing a multilingual tokenizer.

    Scale shape: token counts shuffle once on the token; the vocab is
    VOCAB_SIZE rows and BROADCASTS back against the token stream (the
    big side never shuffles twice); per-lang aggregation is
    low-cardinality."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("t"))
    counts = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("t").asc())
    vocab = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= VOCAB_SIZE)
        .select("t", F.lit(1).alias("in_vocab"))
    )
    joined = tok.join(F.broadcast(vocab), "t", "left")
    is_oov = F.col("in_vocab").isNull()
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(is_oov, 1).otherwise(0)).cast("long").alias("n_oov"),
        F.round(F.avg(F.when(is_oov, 1.0).otherwise(0.0)), 4).alias("oov_rate"),
        F.countDistinct(F.when(is_oov, F.col("t"))).cast("long").alias(
            "oov_types"
        ),
    )
