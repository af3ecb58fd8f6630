"""Wave 32: template detection, streaming progress observability.

  * ``llm_template_detect``: documents clustered by STRUCTURE signature
    (the sequence of token lengths, not the tokens) — catches form
    letters and mail-merge templates whose substituted words defeat
    content hashing but whose shape is identical.
  * ``stream_progress_metrics``: the StreamingQueryProgress surface —
    batch count and input-row accounting drained from the query's own
    progress events, reconciled against the source table (the
    monitoring contract an operator dashboard is built on).

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

CAT_TEXT = "2.J llm-pipeline (text)"
CAT_STREAM = "2.I streaming"


@register(
    "llm_template_detect",
    CAT_TEXT,
    """
    WITH sigs AS (
      SELECT doc_id,
             md5(array_to_string(list_transform(
               list_slice(string_split(lower(text), ' '), 1, 24),
               t -> LEAST(length(t) // 3, 4)::VARCHAR), ',')) AS shape_sig
      FROM documents
    )
    SELECT shape_sig,
           COUNT(*)::BIGINT AS n_docs,
           MIN(doc_id)::BIGINT AS exemplar_doc
    FROM sigs
    GROUP BY shape_sig
    HAVING COUNT(*) >= 2
    """,
)
def llm_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection by shape: each document reduced to a QUANTIZED
    token-length skeleton — the first 24 tokens, each length bucketed
    into ``least(length // 3, 4)`` (5 coarse width classes) — hashed;
    groups of ≥2 docs sharing a shape are template families — form
    letters, mail merges, generated boilerplate — which substitute words
    (defeating content hashes and often even MinHash) but keep the
    token-width skeleton. The quantization is load-bearing twice: it
    tolerates near-template variation (a substituted 5-char word for a
    6-char one stays in bucket 1), and it makes the check NON-vacuous at
    test scale (exact per-token lengths over full docs gave 0 families
    at sf0.01 — a green that verified nothing; bucketed-prefix yields
    ≥18 families at sf0.001).

    Scale shape: the signature is one row-local pass over a 24-token
    slice; the only shuffle is a 16-byte-hash groupBy, identical cost to
    exact dedup."""
    d = load_table(spark, sf_dir, "documents")
    sig = F.md5(
        F.expr(
            "array_join(transform(slice(split(lower(text), ' '), 1, 24), "
            "t -> cast(least(length(t) div 3, 4) AS string)), ',')"
        )
    )
    return (
        d.select("doc_id", sig.alias("shape_sig"))
        .groupBy("shape_sig")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("exemplar_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "stream_progress_metrics",
    CAT_STREAM,
    # total streamed input rows must reconcile to the batch table +1
    # (the far-future sentinel row the replay appends)
    """
    SELECT (COUNT(*) + 1)::BIGINT AS total_input_rows,
           COUNT(*)::BIGINT AS n_data_rows
    FROM events
    """,
)
def stream_progress_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming observability: drain the replay through a watermarked
    aggregate while collecting every StreamingQueryProgress, then emit
    the reconciliation row — total numInputRows across batches against
    the batch table (+1 sentinel). THE monitoring identity: if the
    progress-reported input doesn't reconcile to the source count, the
    pipeline is silently dropping or double-reading — this operator is
    the dashboard query that catches it. Batch count and per-batch rates
    are in the same progress objects (not asserted here: they are
    machine-dependent).

    Scale: progress objects are driver-side metadata; the reconciliation
    costs nothing data-sized."""
    from ..streaming.replay import drain, progress, replay_stream

    stream = replay_stream(spark, sf_dir, "ordered", sentinel=True)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # only the progress events are read: sum the source-reported input
    # rows over every micro-batch — the number a dashboard reconciles
    total_in = sum(p["numInputRows"] for p in progress(drain(agg, "complete")))
    n_data = total_in - 1  # the sentinel is the only non-table row
    return spark.createDataFrame(
        [(int(total_in), int(n_data))],
        "total_input_rows long, n_data_rows long",
    )
