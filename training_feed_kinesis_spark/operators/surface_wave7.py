"""Surface wave 7: rank-sum testing, dynamic partition overwrite,
blocklist filtering.

  * ``stat_mann_whitney``: Mann-Whitney U rank-sum test (normal
    approximation with tie correction) — the nonparametric two-sample
    location test for skewed metrics where Welch's t is wrong.
  * ``sink_dynamic_overwrite``: dynamic partition-overwrite semantics —
    rewriting two day-partitions replaces exactly those partitions and
    leaves the rest byte-identical (the idempotent daily-backfill sink).
  * ``llm_blocklist_filter``: broadcast phrase-blocklist filter with
    per-phrase hit accounting — the first, cheapest gate of every corpus
    cleaning pipeline.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..session import scoped_conf
from .exact import CENTS_SUM_SQL, cents_sum
from ..tables import load_table, release_after
from .scans import scratch_dir

CAT_AGG = "2.D aggregations"
CAT_SINK = "2.A scans/sources/sinks"
CAT_TEXT = "2.J llm-pipeline (text)"

# --- Mann-Whitney U --------------------------------------------------------


@register(
    "stat_mann_whitney",
    CAT_AGG,
    """
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS grp
      FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
    ),
    ranked AS (
      SELECT grp, value,
             RANK() OVER (ORDER BY value) AS rk,
             COUNT(*) OVER (PARTITION BY value) AS t
      FROM s
    ),
    mid AS (
      -- 2x the midrank is the INTEGER 2*rk + t - 1: rank sums accumulate
      -- in exact half-units as BIGINTs, order-free at any corpus size
      -- (r11 projected-magnitude lint, SURVEY 5.3.9a — u1/mu are n^2
      -- growers and emit unrounded from the exact integers)
      SELECT grp, value, 2 * rk + t - 1 AS midrank2, t FROM ranked
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN midrank2 END) AS BIGINT) AS r1_2,
             SUM(grp)::BIGINT AS n1_i,
             SUM(grp)::DOUBLE AS n1,
             SUM(1 - grp)::DOUBLE AS n2,
             COUNT(*)::DOUBLE AS n
      FROM mid
    ),
    ties AS (
      SELECT COALESCE(SUM(tc * tc * tc - tc), 0)::DOUBLE AS tsum
      FROM (SELECT COUNT(*)::DOUBLE AS tc FROM s GROUP BY value
            HAVING COUNT(*) > 1)
    )
    SELECT CAST(r1_2 - n1_i * (n1_i + 1) AS DOUBLE) / 2 AS u1,
           CAST(n1_i AS DOUBLE) * n2 / 2 AS mu,
           ROUND((CAST(r1_2 - n1_i * (n1_i + 1) AS DOUBLE) / 2 - n1 * n2 / 2)
                 / sqrt(n1 * n2 / 12.0
                        * ((n + 1) - tsum / (n * (n - 1)))), 4) AS z
    FROM agg, ties
    """,
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: are purchase values stochastically
    larger than click values? U from midranks (RANK + (ties−1)/2 — the
    exact average-rank treatment), z via the normal approximation WITH
    the tie-correction term. The nonparametric companion to
    ``stat_ttest_welch`` for skewed value distributions.

    Scale shape: one global sort for ranks is the honest cost (same as
    any exact rank statistic); ties and moments are combinable
    aggregates. At 100 TB the global RANK comes from a range-partitioned
    sort (Spark's default ORDER BY machinery) — still one pass."""
    s = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("purchase", "click")
            & F.col("value").isNotNull()
        )
        .select(
            "value",
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("grp"),
        )
    )
    ranked = s.select(
        "grp",
        "value",
        F.rank().over(Window.orderBy("value")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("value")).alias("t"),
    )
    # exact half-unit integer rank sums (see oracle comment): u1/mu are
    # n^2 growers, derived from BIGINTs and emitted unrounded
    mid = ranked.select(
        "grp",
        "value",
        (2 * F.col("rk") + F.col("t") - 1).alias("midrank2"),
    )
    agg = mid.agg(
        F.sum(F.when(F.col("grp") == 1, F.col("midrank2")))
        .cast("bigint")
        .alias("r1_2"),
        F.sum("grp").cast("bigint").alias("n1_i"),
        F.sum("grp").cast("double").alias("n1"),
        F.sum(1 - F.col("grp")).cast("double").alias("n2"),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    ties = (
        s.groupBy("value")
        .agg(F.count(F.lit(1)).cast("double").alias("tc"))
        .filter(F.col("tc") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("tc") * F.col("tc") * F.col("tc") - F.col("tc")),
                F.lit(0.0),
            ).alias("tsum")
        )
    )
    u1 = (
        (F.col("r1_2") - F.col("n1_i") * (F.col("n1_i") + 1)).cast("double")
        / 2
    )
    mu = F.col("n1_i").cast("double") * F.col("n2") / 2
    sigma = F.sqrt(
        F.col("n1")
        * F.col("n2")
        / 12.0
        * ((F.col("n") + 1) - F.col("tsum") / (F.col("n") * (F.col("n") - 1)))
    )
    return agg.crossJoin(F.broadcast(ties)).select(
        u1.alias("u1"),
        mu.alias("mu"),
        F.round((u1 - F.col("n1") * F.col("n2") / 2) / sigma, 4).alias("z"),
    )


# --- dynamic partition overwrite ------------------------------------------


@register(
    "sink_dynamic_overwrite",
    CAT_SINK,
    # the sink must end up holding: original days EXCEPT 5 and 6, plus the
    # doubled-value rewrite of days 5 and 6
    f"""
    SELECT d, COUNT(*) AS n,
           {CENTS_SUM_SQL.format(col='v')}
             AS total
    FROM (
      SELECT dayofmonth(ts) AS d, value AS v FROM events
      WHERE ts IS NOT NULL AND dayofmonth(ts) NOT IN (5, 6)
      UNION ALL
      SELECT dayofmonth(ts) AS d, value * 2 AS v FROM events
      WHERE ts IS NOT NULL AND dayofmonth(ts) IN (5, 6)
    )
    GROUP BY d
    """,
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: full day-partitioned write, then a
    second overwrite-mode write touching ONLY days 5-6 (values doubled to
    make replacement observable). With partitionOverwriteMode=dynamic the
    second write replaces exactly the partitions it contains — the
    idempotent daily-backfill contract (static mode would truncate the
    whole table). Oracle asserts the read-back: untouched days original,
    rewritten days doubled.

    At 100 TB this is the nightly-restatement primitive: rewrite the late
    partitions in place, never rewrite (or even list) the other 10⁴
    partitions."""
    out = scratch_dir("dyn_overwrite_")
    # NULL ts dropped on both engines (the r8 NULL-time seam): an
    # undated row would land in the Hive default partition on Spark
    # while the oracle's NOT IN three-valued logic silently drops it
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    ).select(F.dayofmonth("ts").alias("d"), F.col("value").alias("v"))
    ev.write.mode("overwrite").partitionBy("d").parquet(out)
    with scoped_conf(spark, **{"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        (
            ev.filter(F.col("d").isin(5, 6))
            .withColumn("v", F.col("v") * 2)
            .write.mode("overwrite")
            .partitionBy("d")
            .parquet(out)
        )
    # explicit schema: an EMPTY input writes no partition dirs and
    # schema inference would fail (empty-corpus census r6)
    back = spark.read.schema(ev.schema).parquet(out)
    return back.groupBy(F.col("d").cast("bigint").alias("d")).agg(
        F.count(F.lit(1)).alias("n"), cents_sum("v").alias("total")
    )


# --- blocklist filter ------------------------------------------------------

_BLOCKLIST = ["casino", "viagra", "lottery", "xxx", "free money"]


@register(
    "llm_blocklist_filter",
    CAT_TEXT,
    f"""
    WITH bl AS (
      SELECT unnest({_BLOCKLIST!r}) AS phrase
    ),
    hits AS (
      SELECT d.doc_id, bl.phrase
      FROM documents d JOIN bl ON contains(lower(d.text), bl.phrase)
    )
    SELECT phrase, COUNT(*)::BIGINT AS n_docs_hit
    FROM hits GROUP BY phrase
    UNION ALL
    SELECT '_passed', (SELECT COUNT(*) FROM documents)
                      - COUNT(DISTINCT doc_id)
    FROM hits
    """,
)
def llm_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase-blocklist gate with accounting: per-phrase document hit
    counts plus the '_passed' survivor count — the first, cheapest filter
    of corpus cleaning, and the report a curator needs to tune the list.

    Scale shape: the blocklist is a broadcast theta-join (contains), so
    every document is scanned ONCE against all phrases map-side — no
    shuffle touches the text; only (doc_id, phrase) hit pairs (sparse)
    reach the two tiny aggregates. A 10⁵-phrase production list swaps
    contains() for an Aho-Corasick pandas UDF, same plan shape."""
    d = load_table(spark, sf_dir, "documents")
    bl = spark.createDataFrame([(p,) for p in _BLOCKLIST], "phrase string")
    hits = (
        d.join(
            F.broadcast(bl),
            F.contains(F.lower(F.col("text")), F.col("phrase")),
        )
        .select("doc_id", "phrase")
        # cache + release_after: unpersisted when the returned frame dies
        # (r7 cache-residue class)
        .cache()
    )
    per_phrase = hits.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_hit")
    )
    n_docs = d.count()
    passed = hits.agg(
        (F.lit(n_docs) - F.countDistinct("doc_id")).cast("long").alias("n_docs_hit")
    ).select(F.lit("_passed").alias("phrase"), "n_docs_hit")
    return release_after(per_phrase.unionByName(passed), hits)
