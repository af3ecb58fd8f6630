"""Second engine-surface wave: the two runtime-filter optimizations that
decide scan volume at 100 TB, plus corpus novelty and lead-lag analytics.

  * ``join_dpp_partitioned``: DYNAMIC partition pruning — the dim-side
    filter prunes fact partitions at runtime through the join subquery
    (static pruning's counterpart: scan_pruned_partitions).
  * ``join_bloom_filter``: runtime Bloom-filter injection — the selective
    dim side builds a Bloom sketch that pre-filters the fact scan before
    the shuffle join (the 100 TB shuffle-volume killer for non-partition
    join keys).
  * ``llm_ngram_novelty``: per-document novelty rate — the fraction of a
    doc's 3-gram shingles first introduced by that doc (corpus ordered by
    doc_id). Low novelty ⇒ boilerplate/near-dup; the incremental-crawl
    dedup signal.
  * ``ts_cross_correlation``: lead-lag Pearson correlation between the
    hourly click and purchase series at lags −3..+3 hours — does one
    series predict the other?

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md §0.1);
capability surface reconstructed per SURVEY.md §2 and BASELINE.json:6.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import scoped_conf
from ..tables import load_table
from .llm_dedup import _SHINGLE_ROWS_SQL, _shingle_rows
from .scans import derived_dir, scratch_dir

CAT_JOIN = "2.C joins"
CAT_LLM = "2.J llm-pipeline"
CAT_TS = "2.L time-series analytics"


@register(
    "join_dpp_partitioned",
    CAT_JOIN,
    """
    WITH fact AS (
      SELECT year(l_shipdate)::INT AS shipyear, l_returnflag,
             CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS rev_s
      FROM lineitem
    ),
    dim AS (
      SELECT DISTINCT year(o_orderdate)::BIGINT AS yr FROM orders
      WHERE year(o_orderdate) BETWEEN 1996 AND 1997
    )
    SELECT shipyear, l_returnflag, COUNT(*)::BIGINT AS n,
           CAST(SUM(rev_s) AS DOUBLE) / 10000.0 AS revenue
    FROM fact JOIN dim ON fact.shipyear = dim.yr
    GROUP BY shipyear, l_returnflag
    """,
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: lineitem written Hive-partitioned by ship
    year, then joined to a dim whose filter (2 of ~7 years) is only known
    through the join — no static predicate touches the fact table. Catalyst
    injects ``dynamicpruningexpression(shipyear IN dynamicpruning#N)`` into
    the fact scan's PartitionFilters (plan-asserted in tests/test_plans.py):
    the dim side evaluates first and only the matching fact partitions are
    ever opened. At 100 TB this is THE mechanism that makes date-partitioned
    fact × filtered-dim star joins scan-bounded; static pruning
    (scan_pruned_partitions) cannot see through a join.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("int").alias("shipyear"),
        "l_returnflag",
        # the exact scale-1e4 integer revenue term (§5.3.6b), not a
        # per-row double
        F.expr(
            "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
            " * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))"
        ).alias("rev_s"),
    )

    def build(out: str) -> None:
        li.write.mode("overwrite").partitionBy("shipyear").parquet(out)

    lineitem = os.path.join(sf_dir, "lineitem.parquet")
    out = derived_dir(spark, "dpp_fact", [lineitem], build)
    # explicit schema: an EMPTY input writes no partition dirs and
    # schema inference would fail (empty-corpus census r6)
    fact = spark.read.schema(li.schema).parquet(out)
    dim = (
        load_table(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").cast("bigint").alias("yr"))
        .filter(F.col("yr").between(1996, 1997))
        .distinct()
    )
    return (
        fact.join(dim, fact.shipyear == dim.yr)
        .groupBy("shipyear", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("rev_s").cast("double") / 10000.0).alias("revenue"),
        )
        .select(
            F.col("shipyear").cast("int").alias("shipyear"),
            "l_returnflag",
            "n",
            "revenue",
        )
    )


# Confs that force the Bloom-filter injection path: broadcast disabled
# (injection is skipped when the creation side would broadcast — the sketch
# would be pointless) and the application-side scan threshold lowered so the
# local test datasets qualify (the 10 GB default is sized for real clusters).
_BLOOM_FORCE_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1b",
}


@contextlib.contextmanager
def bloom_join(spark: SparkSession, sf_dir: str):
    """Context manager yielding the un-materialized Bloom-filtered join
    (shared between the registered operator and the plan test).

    The forcing confs must be live at PLAN time, so callers plan/execute
    the yielded DataFrame inside the ``with`` block. Session conf values
    are CAPTURED on entry and restored verbatim on exit — never reset to
    hardcoded assumptions — so a foreign driver session with non-default
    values is left exactly as found (round-1 advice). Tables load before
    the mutation because a session's first ``load_table`` runs
    ``configure()``, which sets the engine's broadcast threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    with scoped_conf(spark, **_BLOOM_FORCE_CONFS):
        yield (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderpriority", "l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                # exact scale-1e4 integer revenue (§5.3.6b)
                (
                    F.sum(
                        F.expr(
                            "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
                            " * (100 - CAST(ROUND(l_discount * 100, 0)"
                            " AS BIGINT))"
                        )
                    ).cast("double")
                    / 10000.0
                ).alias("revenue"),
            )
        )


@register(
    "join_bloom_filter",
    CAT_JOIN,
    """
    SELECT o_orderpriority, l_returnflag, COUNT(*)::BIGINT AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority, l_returnflag
    """,
)
def join_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join: the selective orders side builds a Bloom
    sketch (ObjectHashAggregate subquery) and the lineitem scan is
    pre-filtered with ``might_contain(sketch, xxhash64(l_orderkey))``
    BEFORE the shuffle — only ~1/5 of fact rows cross the wire into the
    sort-merge join. This is the non-partitioned complement of DPP: when
    the join key isn't the partition key, the Bloom sketch is what keeps a
    100 TB shuffle proportional to the match set, not the table.

    The join materializes to scratch inside the ``bloom_join`` conf
    context, which restores the captured session values on exit — the
    registered result is the read-back, so the session-wide conf changes
    never leak into other operators.
    """
    out = scratch_dir("bloom_join_")
    with bloom_join(spark, sf_dir) as joined:
        joined.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "llm_ngram_novelty",
    CAT_LLM,
    f"""
    WITH sh AS ({_SHINGLE_ROWS_SQL}),
    owner AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*)::BIGINT AS n_shingles,
             COUNT(*) FILTER (WHERE o.first_doc = s.doc_id)::BIGINT AS n_novel
      FROM sh s JOIN owner o ON s.sh = o.sh
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           ROUND(n_novel::DOUBLE / n_shingles, 4) AS novelty
    FROM per_doc
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty rate: the fraction of a doc's distinct 3-gram
    shingles whose first corpus occurrence (min doc_id) is this doc. A
    crawl-ordered corpus scores late near-dups and boilerplate low — the
    streaming-friendly dedup signal (each new batch only needs the
    accumulated shingle→first_doc map, a groupBy-min that's incrementally
    mergeable, unlike pairwise Jaccard).

    Scale: two shuffles on the shingle key (owner min + join back), both
    map-side combinable; no pairwise blowup anywhere.
    """
    sh = _shingle_rows(spark, sf_dir)
    owner = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(owner, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
                "n_novel"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.round(F.col("n_novel").cast("double") / F.col("n_shingles"), 4).alias(
            "novelty"
        ),
    )


@register(
    "ts_cross_correlation",
    CAT_TS,
    """
    WITH x AS (
      SELECT epoch(date_trunc('hour', ts))::BIGINT AS h,
             COUNT(*)::BIGINT AS xn
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    y AS (
      SELECT epoch(date_trunc('hour', ts))::BIGINT AS h,
             COUNT(*)::BIGINT AS yn
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    lags AS (SELECT range::BIGINT AS lag_hours FROM range(-3, 4))
    SELECT lag_hours, COUNT(*)::BIGINT AS n_pairs,
           ROUND(corr(x.xn, y.yn), 4) AS xcorr
    FROM lags, x JOIN y ON y.h = x.h + lag_hours * 3600
    GROUP BY lag_hours
    """,
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation: Pearson corr between hourly click volume
    at t and purchase volume at t+lag, for lags −3..+3 h. A peak at a
    positive lag means clicks lead purchases by that long — the
    campaign-attribution / staffing-forecast primitive. Inner-joined hours
    only (both series present), so every (lag, pair) set is identical
    cross-engine; corr is rounded 4dp (summation order).

    Scale: the series are pre-aggregated per hour (map-side combinable);
    the 7-lag equi-join runs on |hours| rows, not |events|.
    """
    ev = load_table(spark, sf_dir, "events")
    hour = F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("h")
    x = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(hour)
        .agg(F.count(F.lit(1)).alias("xn"))
    )
    y = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(hour)
        .agg(F.count(F.lit(1)).alias("yn"))
    )
    lags = spark.range(-3, 4).select(F.col("id").alias("lag_hours"))
    return (
        F.broadcast(lags)
        .crossJoin(x)
        .join(
            y.withColumnRenamed("h", "yh"),
            F.col("yh") == F.col("h") + F.col("lag_hours") * 3600,
        )
        .groupBy("lag_hours")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("xn", "yn"), 4).alias("xcorr"),
        )
    )
