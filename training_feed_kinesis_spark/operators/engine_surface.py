"""Engine/SQL surface: correlated subqueries, inline VALUES, sorted writes
for zone-map pruning, and CBO-driven planning.

  * ``sql_correlated_scalar``: a correlated scalar subquery handed to
    Catalyst AS WRITTEN — `RewriteCorrelatedScalarSubquery` decorrelates it
    into an aggregate + join (the hand-decorrelation q17 does manually).
    Declares the optimizer obligation of SURVEY §4: express intent, let the
    rewrite happen.
  * ``sql_inline_values``: VALUES-derived inline dimension (priority →
    weight) joined onto the fact table — Catalyst folds it to a
    LocalRelation and broadcasts it; the lookup-table idiom with zero I/O.
  * ``sink_sorted_zonemap``: data LAYOUT as a performance operator — write
    parquet sorted within partitions by the hot filter column so row-group
    min/max statistics (zone maps) let later scans skip whole row groups.
    The query result is layout-invariant (oracled); the layout is the point.
  * ``cbo_join_reorder``: cost-based optimization end-to-end — materialize
    catalog tables, ANALYZE TABLE to collect stats, enable CBO + join
    reordering, run a star join written in the WORST join order and let the
    optimizer fix it. Result is order-invariant (oracled); plans differ.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md §0.1);
capability surface reconstructed per SURVEY.md §2 and BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import scoped_conf
from ..tables import load_table
from .scans import scratch_dir

CAT_SQL = "2.L engine surface"
CAT_SINK = "2.A scans/sources/sinks"


@register(
    "sql_correlated_scalar",
    CAT_SQL,
    """
    SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS acctbal
    FROM customer c
    WHERE c_acctbal > 2 * (
      SELECT AVG(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers holding more than twice their nation's average balance —
    written as a correlated scalar subquery and given to Catalyst
    verbatim. The optimizer decorrelates it into one per-nation aggregate
    joined back (check the plan: one Aggregate + one join, no per-row
    re-execution) — the declarative sibling of q17's hand-decorrelation.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name, ROUND(c_acctbal, 4) AS acctbal
        FROM v_customer c
        WHERE c_acctbal > 2 * (
          SELECT AVG(c2.c_acctbal) FROM v_customer c2
          WHERE c2.c_nationkey = c.c_nationkey
        )
        """
    )


@register(
    "sql_inline_values",
    CAT_SQL,
    """
    WITH wt(o_orderpriority, weight_x4) AS (
      VALUES ('1-URGENT', 16), ('2-HIGH', 8), ('3-MEDIUM', 4),
             ('4-NOT SPECIFIED', 2), ('5-LOW', 1)
    )
    SELECT o_orderstatus,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                    * weight_x4) AS DOUBLE) / 400.0 AS weighted_value,
           COUNT(*)::BIGINT AS n
    FROM orders JOIN wt USING (o_orderpriority)
    GROUP BY o_orderstatus
    """,
)
def sql_inline_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-weighted order value via an inline VALUES dimension —
    the lookup-table idiom. Catalyst constant-folds the VALUES into a
    LocalRelation and broadcasts it; no file, no shuffle for the lookup
    side, and the weights live in the query where they're reviewable.
    """
    o = load_table(spark, sf_dir, "orders")
    # Quarter-granular weights carried as integer weight×4 so the
    # weighted sum is an exact scale-400 integer (§5.3.6b) — the double
    # spelling's sum was reduction-order dependent.
    wt = spark.createDataFrame(
        [
            ("1-URGENT", 16),
            ("2-HIGH", 8),
            ("3-MEDIUM", 4),
            ("4-NOT SPECIFIED", 2),
            ("5-LOW", 1),
        ],
        "o_orderpriority string, weight_x4 int",
    )
    return (
        o.join(F.broadcast(wt), "o_orderpriority")
        .groupBy("o_orderstatus")
        .agg(
            (
                F.sum(
                    F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)")
                    * F.col("weight_x4")
                ).cast("double")
                / 400.0
            ).alias("weighted_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "sink_sorted_zonemap",
    CAT_SINK,
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*)::BIGINT AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-04-01'
    """,
)
def sink_sorted_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-for-scan-speed: rewrite lineitem sorted WITHIN partitions by
    l_shipdate (no global sort — no extra shuffle beyond the write), then
    run a date-range query on the sorted copy. Because each row group now
    covers a narrow shipdate band, parquet min/max zone maps let the scan
    skip most row groups — the single cheapest 100 TB scan optimization
    after partitioning. Result is layout-invariant, so the oracle reads
    the original table.
    """
    out = scratch_dir("zonemap_")
    li = load_table(spark, sf_dir, "lineitem")
    (
        li.repartition(4)
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    sorted_li = spark.read.parquet(out)
    return (
        sorted_li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .agg(
            # exact scale-1e4 integer revenue (§5.3.6b)
            (
                F.sum(
                    F.expr(
                        "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
                        " * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))"
                    )
                ).cast("double")
                / 10000.0
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "cbo_join_reorder",
    CAT_SQL,
    """
    SELECT r_name, COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based join reordering end-to-end: persist the four tables to
    the catalog, ANALYZE TABLE for row/size stats, enable CBO + join
    reorder, and submit the star join deliberately written fact-last
    (region ⋈ nation ⋈ customer ⋈ orders). With stats, Catalyst reorders
    to dims-broadcast-onto-fact instead of building from the 5-row table
    up. Result is join-order-invariant (hash-checked); the stats substrate
    is what a 100 TB deployment maintains. Conf flips are scoped and
    restored.
    """
    tables = {
        "cbo_orders": load_table(spark, sf_dir, "orders"),
        "cbo_customer": load_table(spark, sf_dir, "customer"),
        "cbo_nation": load_table(spark, sf_dir, "nation"),
        "cbo_region": load_table(spark, sf_dir, "region"),
    }
    # a fresh session's in-memory catalog doesn't know leftover warehouse
    # dirs from earlier runs — drop and clear the location before writing
    import shutil
    from urllib.parse import urlparse

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for name, df in tables.items():
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
        df.write.mode("overwrite").saveAsTable(name)
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
    with scoped_conf(
        spark,
        **{
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
        },
    ):
        # worst-first order on purpose: the optimizer must fix it
        df = spark.sql(
            """
            SELECT r_name, COUNT(*) AS n_orders,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                        AS DOUBLE) / 100.0 AS total
            FROM cbo_region
            JOIN cbo_nation ON n_regionkey = r_regionkey
            JOIN cbo_customer ON c_nationkey = n_nationkey
            JOIN cbo_orders ON o_custkey = c_custkey
            GROUP BY r_name
            """
        )
        df.collect()  # force planning+execution under CBO confs
        return df
