"""§2.M Composite workload queries — realistic multi-operator pipelines.

Classic TPC-H-shaped reporting queries over the star schema plus the two
workloads a training-feed processor actually runs on its event stream:
sessionization and funnel analysis. Each composes operators that are
individually oracled elsewhere; these prove the compositions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table, sane_ts, sane_ts_sql

CAT = "2.M workloads"

# Exact scale-1e4 revenue term — same spelling as workloads_tpch._REV_S
# (kept textually duplicated rather than imported: registry.load_all()
# imports modules in name order, so this module registers BEFORE
# workloads_tpch, and an import would flip the two modules' registration
# order, which the driver's sample window keys off). See workloads_tpch.py
# for the full §5.3.6b rationale; tests/test_consistency.py pins the two
# constants equal.
_REV_S = (
    "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
    " * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))"
)


@register(
    "q3_shipping_priority",
    CAT,
    f"""
    SELECT o_orderkey, o_orderdate,
           CAST(SUM({_REV_S}) AS DOUBLE) / 10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate  > TIMESTAMP '1997-01-01'
      AND {{sane_o}}
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """.format(sane_o=sane_ts_sql("o_orderdate")),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top unshipped orders by revenue for one segment.
    Scale shape: both date filters push to the scans; customer (filtered)
    joins before the fact-fact join shrinks lineitem rows early; the final
    top-10 is TakeOrderedAndProject — no global sort materializes. LIMIT is
    deterministic: ordered on the ROUNDED revenue with unique orderkey
    tiebreak (SURVEY §5.3.5)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    # temporal admission gate on the EMITTED date (r12 contract): a
    # year-0001 sentinel passes the < 1997 business filter but is
    # uncollectable driver-side
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") < "1997-01-01") & sane_ts("o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1997-01-01"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            (F.sum(F.expr(_REV_S)).cast("double") / 10000.0).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@register(
    "q10_returned_items",
    CAT,
    f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({_REV_S}) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer. nation
    broadcasts; the returnflag filter pushes into the lineitem scan (a
    1/3 row-group selectivity win at scale)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            (F.sum(F.expr(_REV_S)).cast("double") / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "batch_sessionize",
    CAT,
    # identical semantics to the streaming session window (SURVEY §5.3.7)
    """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL AND {sane}
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id,
           MIN(ts)                          AS session_start,
           MAX(ts) + INTERVAL '30 minutes'  AS session_end,
           COUNT(*)                         AS n_events
    FROM sess GROUP BY user_id, session_id
    """.format(sane=sane_ts_sql("ts")),
)
def batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-minute gap) via lag→flag→running-sum —
    the window-function spelling of `session_window`, for backfills over
    historical data. Must agree exactly with the streaming session
    operator's result (same oracle as stream_session). Scale shape: both
    windows partition by user_id — ONE shuffle total, reused by the final
    per-(user, session) aggregation; no global sort anywhere. NULL ts
    rows are dropped on BOTH engines (a NULL-timestamped event has no
    timeline position; Spark NULLS FIRST vs DuckDB NULLS LAST would
    otherwise put it in opposite sessions — the ADVICE r7 seam)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & sane_ts("ts"))  # r12 contract
        .select("user_id", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    # compare in MICROSECONDS: cast("long") truncates to seconds, which
    # misclassifies a 1800.5s gap that DuckDB's exact interval compare keeps
    us = F.unix_micros(F.col("ts"))
    flagged = ev.withColumn(
        "new_session",
        F.when(us - F.lag(us).over(w) > 1800 * 1_000_000, 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("session_id")


@register(
    "funnel_conversion",
    CAT,
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT v.user_id, MIN(e.ts) AS t_click
      FROM v JOIN events e
        ON e.user_id = v.user_id AND e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY v.user_id
    ),
    p AS (
      SELECT c.user_id, MIN(e.ts) AS t_purchase
      FROM c JOIN events e
        ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY c.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_then_clicked,
           (SELECT COUNT(*) FROM p) AS n_then_purchased
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → later click → later purchase): how many users
    advance through each stage in strict event-time order. Stage N is a
    per-user MIN-timestamp aggregation joined to the next event type with a
    time bound — each stage is one hash join + partial-agg on user_id, so
    the whole funnel reuses one partitioning and never sorts globally. The
    driver's own per-user event streams make this the canonical
    training-feed analysis."""
    ev = load_table(spark, sf_dir, "events")

    def stage(prev: DataFrame, etype: str, tcol: str, prev_t: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype).select(
            F.col("user_id").alias("u"), F.col("ts").alias("e_ts")
        )
        return (
            prev.join(e, (prev.user_id == F.col("u")) & (F.col("e_ts") > F.col(prev_t)))
            .groupBy("user_id")
            .agg(F.min("e_ts").alias(tcol))
        )

    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = stage(v, "click", "t_click", "t_view")
    p = stage(c, "purchase", "t_purchase", "t_click")
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_then_clicked")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_then_purchased")))
    )


@register(
    "retention_cohorts",
    CAT,
    """
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS BIGINT)
             AS day_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    WHERE date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) <= 7
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, activity
    counted per day-offset for the first week — the standard engagement
    report over a training feed's event log.

    Scale shape: first-seen is ONE groupBy on user_id; the activity join is
    a broadcast (the cohort table is one row per user — at extreme user
    counts it becomes a co-partitioned shuffle join on user_id, which AQE
    picks automatically); the final agg is low-cardinality (days × 8
    offsets). No window functions, no self-join over raw events."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    offset = F.datediff(F.col("day"), F.col("cohort_day"))
    return (
        ev.join(first_seen, "user_id")
        .filter(offset <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            offset.cast("bigint").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "q5_local_supplier",
    CAT,
    f"""
    SELECT n_name,
           CAST(SUM({_REV_S}) AS DOUBLE) / 10000.0 AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey   = c_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    JOIN supplier ON s_suppkey   = l_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders where customer and supplier share
    a nation, by nation within one region-year. The hardest star shape here:
    six tables, one join condition spanning two dimensions (s_nationkey =
    c_nationkey rides along the l_suppkey equi-join).

    Scale shape: region/nation broadcast always; customer/supplier broadcast
    at test sf and become shuffle joins on custkey/suppkey at 100 TB (AQE
    decides); lineitem never moves until its orderkey join. The date filter
    pushes into the orders scan BEFORE the fact-fact join, shrinking the
    biggest join's probe side by ~6/7."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            (F.sum(F.expr(_REV_S)).cast("double") / 10000.0).alias("revenue")
        )
    )


@register(
    "q18_large_orders",
    CAT,
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           ROUND(o_totalprice, 4) AS o_totalprice,
           ROUND(SUM(l_quantity), 4) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 210
    ) AND {sane}
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """.format(sane=sane_ts_sql("o_orderdate")),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with very large orders — the
    semi-join-on-aggregate pattern (IN over a grouped HAVING subquery).

    Scale shape: the subquery is a partial+final agg over lineitem whose
    survivors (few) become a LEFT SEMI join key set — Spark plans the IN as
    a semi join, and at scale AQE broadcasts the tiny survivor side, so the
    big lineitem relation is filtered map-side before the reporting joins."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 210)
        .select("l_orderkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        sane_ts("o_orderdate")  # r12 contract: o_orderdate is emitted raw
    )
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            "total_qty",
        )
    )


@register(
    "customer_rfm",
    CAT,
    """
    WITH rfm AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS freq,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS monetary
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY last_order, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
      FROM rfm)
    SELECT r_score, f_score, m_score, COUNT(*) AS n_customers
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary quintiles per customer,
    reported as segment-cell sizes. The monetary ranking key is an EXACT
    integer-cents sum (raw double sums order differently across engines at
    the ulp level, and ROUNDED sums can still split a boundary-straddling
    pair — SURVEY §5.3.1/§5.3.6b applied to ORDER BY, not just output)
    with custkey tiebreaks. Scale note: global ntile = single-partition
    window over one row per CUSTOMER (already aggregated — fine far beyond
    100 TB of orders); past that, quantile edges come from
    approx_percentile.
    """
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)")).alias(
            "monetary"
        ),
    )
    scored = rfm.select(
        F.ntile(5).over(W.orderBy("last_order", "o_custkey")).alias("r_score"),
        F.ntile(5).over(W.orderBy("freq", "o_custkey")).alias("f_score"),
        F.ntile(5).over(W.orderBy("monetary", "o_custkey")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "events_markov",
    CAT,
    """
    WITH seq AS (
      SELECT event_type AS cur,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events WHERE ts IS NOT NULL),
    trans AS (SELECT prev, cur, COUNT(*) AS c
              FROM seq WHERE prev IS NOT NULL GROUP BY prev, cur),
    tot AS (SELECT prev, SUM(c)::DOUBLE AS t FROM trans GROUP BY prev)
    SELECT trans.prev, cur, c, ROUND(c::DOUBLE / t, 4) AS p
    FROM trans JOIN tot ON trans.prev = tot.prev
    """,
)
def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model: the event-type transition matrix over
    per-user sequences (lag window with full tiebreak) with row-normalized
    probabilities — the sequence statistic behind next-action prediction
    and anomaly scoring on the feed.

    One shuffle on user_id for the lag; the 5×5 transition table and its
    row totals are broadcast-sized from there.
    """
    from pyspark.sql.window import Window as W

    # NULL ts dropped on both engines (the r8 NULL-time seam): an
    # untimestamped event has no position in a per-user sequence
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", F.col("event_id").asc_nulls_last())
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).filter(F.col("prev").isNotNull())
    trans = seq.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c"))
    tot = trans.groupBy(F.col("prev").alias("tp")).agg(
        F.sum("c").cast("double").alias("t")
    )
    return (
        trans.join(F.broadcast(tot), trans.prev == F.col("tp"))
        .select(
            "prev", "cur", "c",
            F.round(F.col("c").cast("double") / F.col("t"), 4).alias("p"),
        )
    )


@register(
    "revenue_pareto",
    CAT,
    """
    WITH cust AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS rev_c
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT rev_c, ntile(10) OVER (ORDER BY rev_c DESC, o_custkey) AS decile
      FROM cust)
    SELECT decile, COUNT(*) AS n_customers,
           CAST(SUM(rev_c) AS DOUBLE) / 100.0 AS decile_rev,
           ROUND(CAST(SUM(rev_c) AS DOUBLE)
                 / CAST((SELECT SUM(rev_c) FROM cust) AS DOUBLE), 4)
             AS rev_share
    FROM ranked GROUP BY decile
    """,
)
def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) report: customers bucketed into
    revenue deciles, each decile's share of total — the 80/20 check run on
    any feed. Ranking key is the EXACT integer-cents per-customer revenue
    with custkey tiebreak (engine-stable under any reduction order); the
    grand total is a broadcast scalar; the decile window runs over one row
    per customer (already aggregated).
    """
    from pyspark.sql.window import Window as W

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)")).alias(
            "rev_c"
        )
    )
    # grand-total and decile accumulators range over corpus revenue —
    # widen to DECIMAL(38,0) over the customer-grain rows (§5.3.6c);
    # the fact-grain per-customer sum keeps the BIGINT fast path
    total = cust.agg(
        F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("tot")
    )
    ranked = cust.select(
        "rev_c",
        F.ntile(10)
        .over(W.orderBy(F.col("rev_c").desc(), F.col("o_custkey")))
        .alias("decile"),
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("_raw"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            (F.col("_raw").cast("double") / 100.0).alias("decile_rev"),
            F.round(
                F.col("_raw").cast("double") / F.col("tot").cast("double"), 4
            ).alias("rev_share"),
        )
    )


@register(
    "part_affinity",
    CAT,
    """
    WITH lines AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
      FROM lines a JOIN lines b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey)
    SELECT p1, p2, n_orders
    FROM pairs
    ORDER BY n_orders DESC, p1 ASC, p2 ASC
    LIMIT 20
    """,
)
def part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity: part pairs co-occurring in the same order,
    top-20 by support — the co-occurrence mining shape (self-equi-join on
    the basket key). Fan-out is bounded by basket size squared (~16 pairs
    per order), NOT corpus², because the join key is the orderkey: the
    controlled version of the cross join the CartesianProduct guard
    forbids. DISTINCT first so multi-line quantities don't inflate support.
    """
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.select("l_orderkey", "l_partkey").distinct()
    a = lines.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1"))
    b = lines.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2"))
    return (
        a.join(b, (F.col("k") == F.col("k2")) & (F.col("p1") < F.col("p2")))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("p1").asc(), F.col("p2").asc())
        .limit(20)
    )
