"""Wave 15: temperature-scaled mixtures, quality-keeper dedup, schema
drift report.

  * ``llm_mixture_temperature``: α-temperature language sampling (the
    mT5/XLM-R trick): p_i^α renormalized flattens the language mixture so
    low-resource languages are upsampled with a single knob.
  * ``llm_dedup_exact_best``: exact dedup keeping the HIGHEST-QUALITY
    cluster member (longest, then TTR tiebreak) instead of min-id — the
    keeper election a curator actually wants.
  * ``dq_schema_drift``: column-level diff between two parquet schema
    versions (added / removed / type-changed) — the pre-ingest schema
    gate (rows-only: the subject is file metadata, not table rows).

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .scans import derived_dir

CAT_TEXT = "2.J llm-pipeline (text)"
CAT_DEDUP = "2.J llm-pipeline (dedup)"
CAT_WORK = "2.M workloads"

_ALPHA = 0.7
_BUDGET = 100_000  # docs per training epoch


@register(
    "llm_mixture_temperature",
    CAT_TEXT,
    f"""
    WITH counts AS (
      SELECT lang, COUNT(*)::DOUBLE AS n FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n) AS t FROM counts),
    scaled AS (
      SELECT lang, n,
             n / (SELECT t FROM tot) AS p_raw,
             pow(n / (SELECT t FROM tot), {_ALPHA}) AS w
      FROM counts
    ),
    z AS (SELECT SUM(w) AS zw FROM scaled)
    SELECT lang, n::BIGINT AS n_docs,
           ROUND(p_raw, 4) AS p_raw,
           ROUND(w / (SELECT zw FROM z), 4) AS p_alpha,
           CAST(ROUND({_BUDGET} * w / (SELECT zw FROM z)) AS BIGINT)
             AS docs_per_epoch,
           ROUND((w / (SELECT zw FROM z)) / p_raw, 4) AS upsample_x
    FROM scaled
    """,
)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (α=0.7): sampling probability
    p_i^α / Σ p_j^α flattens the raw language distribution — the one-knob
    upsampling of low-resource languages used by mT5/XLM-R. Reports per
    language the raw share, the α-share, the docs drawn per 100k-doc
    epoch, and the effective upsample factor.

    Scale shape: everything after the language count (a map-combinable
    aggregate) operates on the languages-sized table; the emitted
    (lang → rate) table is exactly what ``corpus_mix``-style hash
    thresholds consume to execute the draw."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("double").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    scaled = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n",
        (F.col("n") / F.col("t")).alias("p_raw"),
        F.pow(F.col("n") / F.col("t"), _ALPHA).alias("w"),
    )
    z = scaled.agg(F.sum("w").alias("zw"))
    return scaled.crossJoin(F.broadcast(z)).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.round("p_raw", 4).alias("p_raw"),
        F.round(F.col("w") / F.col("zw"), 4).alias("p_alpha"),
        F.round(_BUDGET * F.col("w") / F.col("zw"))
        .cast("long")
        .alias("docs_per_epoch"),
        F.round((F.col("w") / F.col("zw")) / F.col("p_raw"), 4).alias(
            "upsample_x"
        ),
    )


@register(
    "llm_dedup_exact_best",
    CAT_DEDUP,
    """
    WITH scored AS (
      SELECT doc_id, md5(translate(trim(text, ' '), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS h, n_chars,
             len(list_distinct(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')))::DOUBLE
               / len(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS ttr
      FROM documents
    ),
    ranked AS (
      SELECT h, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY h
               ORDER BY n_chars DESC, ttr DESC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY h) AS n_copies
      FROM scored
    )
    SELECT h AS content_hash, n_copies,
           doc_id::BIGINT AS keeper_doc_id,
           n_chars::BIGINT AS keeper_chars
    FROM ranked WHERE rn = 1
    """,
)
def llm_dedup_exact_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with QUALITY keeper election: within each
    normalized-text hash cluster, keep the longest document, breaking
    ties by type-token ratio then smallest doc_id — the keeper a curator
    wants (``llm_dedup_exact`` keeps min-id: cheapest, but blind to
    quality). Spelled as max_by over a composite sort key, so the
    election stays INSIDE the single hash aggregate — no second join,
    no window.

    Scale: identical cost to min-id dedup — one shuffle on the 16-byte
    hash; the quality features ride along as two doubles per row."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.expr("translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"), " ")
    scored = d.select(
        "doc_id",
        F.md5(F.expr("translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')")).alias("h"),
        F.col("n_chars").cast("double").alias("len_d"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias(
            "ttr"
        ),
    )
    key = F.array("len_d", "ttr", -F.col("doc_id").cast("double"))
    return scored.groupBy(F.col("h").alias("content_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.max_by("doc_id", key).cast("long").alias("keeper_doc_id"),
        F.max("len_d").cast("long").alias("keeper_chars"),
    )


@register("dq_schema_drift", CAT_WORK, None)  # metadata subject — rows-only
def dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift report between two writer versions: relative to v1
    (the full base schema), the v2 writer REMOVES ``props``, ADDS
    ``schema_ver``, and narrows ``value`` double→float (TYPE_CHANGED) —
    so all three drift classes occur and are individually asserted by
    tests/test_consistency.py. The report lists every (column, verdict),
    which is the gate an ingest job checks before unioning a new delivery
    into the corpus.

    Rows-only: the subject is parquet FILE METADATA (StructType diff),
    not table rows — there is nothing for a SQL oracle to recompute.
    Scale: schema inspection reads footers only; cost is O(files),
    independent of row count."""

    def build(out: str) -> None:
        base = load_table(spark, sf_dir, "events")
        base.write.parquet(os.path.join(out, "v1"))
        base.drop("props").withColumn("schema_ver", F.lit(2)).withColumn(
            "value", F.col("value").cast("float")
        ).write.parquet(os.path.join(out, "v2"))

    events = os.path.join(sf_dir, "events.parquet")
    root = derived_dir(spark, "schema_drift", [events], build)
    v1_dir, v2_dir = os.path.join(root, "v1"), os.path.join(root, "v2")
    s1 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(v1_dir).schema}
    s2 = {f.name: f.dataType.simpleString() for f in spark.read.parquet(v2_dir).schema}
    rows = []
    for c in sorted(set(s1) | set(s2)):
        if c not in s1:
            verdict = "added"
        elif c not in s2:
            verdict = "removed"
        elif s1[c] != s2[c]:
            verdict = "type_changed"
        else:
            verdict = "unchanged"
        rows.append((c, s1.get(c), s2.get(c), verdict))
    return spark.createDataFrame(
        rows, "column string, v1_type string, v2_type string, verdict string"
    )
