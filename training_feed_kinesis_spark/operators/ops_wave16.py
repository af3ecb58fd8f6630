"""Wave 16: sequence-model training pairs, named WINDOW SQL surface,
compression-ratio quality.

  * ``events_seq_train_pairs``: (3-event context → next event) training
    pairs from the activity log — the sequence-model training-set
    generation an event-prediction pipeline runs, reported as the
    context→label frequency table.
  * ``sql_named_window``: the SQL `WINDOW` clause (one named frame shared
    by several window functions) through ``spark.sql`` — parser surface
    parity, same plan as the repeated-OVER spelling.
  * ``llm_compression_ratio``: zlib bytes-out/bytes-in per document (the
    Gopher-style redundancy signal) via an Arrow-batched pandas UDF —
    deterministic, but no SQL engine ships zlib, so rows-only with a
    python-recomputed consistency test.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

CAT_WORK = "2.M workloads"
CAT_SQL = "2.L modern SQL"
CAT_TEXT = "2.J llm-pipeline (text)"


@register(
    "events_seq_train_pairs",
    CAT_WORK,
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type, 3) OVER w AS c1,
             LAG(event_type, 2) OVER w AS c2,
             LAG(event_type, 1) OVER w AS c3
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT c1 || '>' || c2 || '>' || c3 AS context,
           event_type AS label,
           COUNT(*) AS n
    FROM seq WHERE c1 IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_seq_train_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-model training pairs: every event with ≥3 predecessors
    becomes a (context = last-3 event types, label = this event) example;
    the output is the context→label frequency table — simultaneously the
    training manifest and the order-3 empirical transition model (the
    order-3 generalization of ``events_markov``).

    Scale shape: one user-keyed window pass emits contexts row-by-row
    (three LAGs over one sort — no self-joins); the pair count is a
    map-combinable aggregate over a (|types|⁴)-bounded key space."""
    from pyspark.sql.window import Window

    # unlabeled events (NULL event_type) are dropped BEFORE windowing on
    # both engines: they can be neither context token nor label, and the
    # engines disagree on NULL-in-context rendering (concat_ws silently
    # skips the token, || nulls the whole context — NULL-attribute replay)
    # NULL ts dropped too (r8): a NULL-ts event sorts to opposite ends
    # of the (ts, event_id) order across engines and shifts every context
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", F.col("event_id").asc_nulls_last())
    seq = ev.select(
        "event_type",
        F.lag("event_type", 3).over(w).alias("c1"),
        F.lag("event_type", 2).over(w).alias("c2"),
        F.lag("event_type", 1).over(w).alias("c3"),
    )
    return (
        seq.filter(F.col("c1").isNotNull())
        .groupBy(
            F.concat_ws(">", "c1", "c2", "c3").alias("context"),
            F.col("event_type").alias("label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "sql_named_window",
    CAT_SQL,
    """
    SELECT user_id, event_id,
           ROW_NUMBER() OVER w AS rn,
           LAG(value) OVER w AS prev_value,
           ROUND(SUM(value) OVER (PARTITION BY user_id
                 ORDER BY ts NULLS LAST, event_id NULLS LAST
                 ROWS UNBOUNDED PRECEDING), 4) AS running_value
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id NULLS LAST)
    """,
)
def sql_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL `WINDOW` clause surface: one NAMED frame feeds row_number and
    lag while a third function spells its frame inline — parser parity
    for the DRY window idiom (identical physical plan to repeated OVER
    clauses: one sort per distinct frame spec, shared by consumers).

    Issued through ``spark.sql`` with the frame as a parameter (PySpark
    registers and drops its own view) — this operator exists to pin the
    SQL-surface behavior, not a new plan shape."""
    return spark.sql(
        """
        SELECT user_id, event_id,
               ROW_NUMBER() OVER w AS rn,
               LAG(value) OVER w AS prev_value,
               ROUND(SUM(value) OVER (PARTITION BY user_id
                     ORDER BY ts NULLS LAST, event_id NULLS LAST
                     ROWS UNBOUNDED PRECEDING), 4)
                 AS running_value
        FROM {ev}
        WHERE event_type = 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS LAST, event_id NULLS LAST)
        """,
        ev=load_table(spark, sf_dir, "events"),
    )


@register("llm_compression_ratio", CAT_TEXT, None)  # zlib: no SQL oracle
def llm_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: zlib(level=6) compressed bytes
    over raw bytes per document — highly repetitive (boilerplate, looped)
    text compresses far below the corpus norm, which is the Gopher-family
    redundancy filter that n-gram ratios approximate. Deterministic
    (zlib level pinned), but no SQL engine ships zlib ⇒ rows-only for
    the driver; the consistency test recomputes a sample in plain Python.

    Scale shape: an Arrow-batched pandas UDF (per-batch C-speed zlib, no
    per-row Python overhead) followed by a language-keyed aggregate —
    the UDF stage is embarrassingly parallel and the text never
    shuffles (aggregation ships two doubles per doc)."""
    from pyspark.sql.functions import pandas_udf

    # wrapped form, not decorator-with-hints: this module uses
    # `from __future__ import annotations`, which stringifies local type
    # hints and breaks pandas_udf's hint resolution
    def _ratio(texts):
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            / max(len(t.encode("utf-8")), 1)
        )

    comp_ratio = pandas_udf(_ratio, "double")

    d = load_table(spark, sf_dir, "documents")
    per = d.select(
        "lang", comp_ratio(F.col("text")).alias("ratio")
    )
    return per.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("ratio"), 4).alias("avg_ratio"),
        F.round(F.min("ratio"), 4).alias("min_ratio"),
        F.round(F.max("ratio"), 4).alias("max_ratio"),
    )
