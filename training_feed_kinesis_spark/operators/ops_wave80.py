"""Wave 80: Spark 4 SQL-surface completions + a storage-side filter
structure.

  * ``sql_execute_immediate``: EXECUTE IMMEDIATE with positional USING
    parameters — dynamic SQL composed at runtime (the templated-query
    surface beside sql_named_parameters' typed binding).
  * ``sql_scripting_batch``: SQL scripting (BEGIN…END, Spark 4.0):
    DECLARE'd variables mutated by a FOR cursor loop over a real
    aggregate — procedural control flow INSIDE the engine, oracled by
    the equivalent set-based SQL (the loop is demonstrative; the point
    is the surface and that it converges to the relational answer).
  * ``sink_parquet_bloom``: parquet written with a COLUMN BLOOM FILTER
    (parquet.bloom.filter.enabled#l_partkey) then probed with a
    selective IN filter — at 100 TB the bloom filter skips row groups
    dictionaries can't (high-NDV point lookups); results are
    byte-identical to the unindexed scan, which is exactly what the
    oracle asserts.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..session import scoped_conf
from ..tables import load_table
from .scans import scratch_dir

CAT_SQL = "2.L modern SQL surface"
CAT_SINK = "2.A scans/sources/sinks"


@register(
    "sql_execute_immediate",
    CAT_SQL,
    """
    SELECT o_orderpriority, COUNT(*)::BIGINT AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
    GROUP BY o_orderpriority
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE over a runtime-composed query string with
    positional USING parameters: the dynamic-SQL entry point (report
    templates, multi-tenant filters) — parameters are BOUND, not
    string-spliced, so the composed text is injection-safe and plans
    exactly like the inlined literal (which is what the oracle states).

    Scale shape: identical plan to the static query — EXECUTE IMMEDIATE
    is a parse-time indirection, not an execution-time one."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_ei"
    )
    tmpl = (
        "SELECT o_orderpriority, COUNT(*) AS n,"
        " CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS DOUBLE)"
        " / 100.0 AS total"
        " FROM orders_ei WHERE o_orderstatus = ? AND o_totalprice > ?"
        " GROUP BY o_orderpriority"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :q USING 'F', 50000.0D",
        args={"q": tmpl},
    )


@register(
    "sql_scripting_batch",
    CAT_SQL,
    """
    WITH per_region AS (
      SELECT n.n_regionkey AS rk,
             SUM(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT)) AS bal_c
      FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1
    )
    SELECT COUNT(*)::BIGINT AS n_regions,
           CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS total_bal,
           CAST(MAX(bal_c) AS DOUBLE) / 100.0 AS max_bal
    FROM per_region
    """,
)
def sql_scripting_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0 BEGIN…END): session-scoped DECLARE
    variables accumulated by a FOR cursor loop over the per-region
    balance aggregate — count, running total, running max maintained
    procedurally, then returned as the script's final SELECT. The
    oracle computes the same three numbers set-based: the script must
    converge to the relational answer (the loop ordering is made
    deterministic by the cursor's ORDER BY). This is the migration
    surface for stored-procedure-style workloads.

    Scale shape: the FOR cursor iterates over the AGGREGATE (5 rows),
    not the data — the inner query is one ordinary Catalyst plan; only
    domain-sized control flow happens procedurally."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_scr"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_scr")
    with scoped_conf(spark, **{"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE n_regions BIGINT DEFAULT 0;
              DECLARE total_c BIGINT DEFAULT 0;
              DECLARE max_c BIGINT DEFAULT -9223372036854775807;
              FOR r AS
                SELECT n.n_regionkey AS rk,
                       SUM(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT))
                         AS bal_c
                FROM customer_scr c
                JOIN nation_scr n ON n.n_nationkey = c.c_nationkey
                GROUP BY n.n_regionkey
                ORDER BY n.n_regionkey
              DO
                SET n_regions = n_regions + 1;
                SET total_c = total_c + r.bal_c;
                IF r.bal_c > max_c THEN
                  SET max_c = r.bal_c;
                END IF;
              END FOR;
              SELECT n_regions,
                     CASE WHEN n_regions = 0 THEN NULL
                          ELSE CAST(total_c AS DOUBLE) / 100.0
                     END AS total_bal,
                     CASE WHEN n_regions = 0 THEN NULL
                          ELSE CAST(max_c AS DOUBLE) / 100.0
                     END AS max_bal;
            END
            """
        )


@register(
    "sink_parquet_bloom",
    CAT_SINK,
    """
    SELECT l_partkey, COUNT(*)::BIGINT AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS DOUBLE) / 100.0 AS total
    FROM lineitem
    WHERE l_partkey % 97 = 7
    GROUP BY l_partkey
    """,
)
def sink_parquet_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column bloom filters in the parquet sink: the lineitem projection
    is written with parquet.bloom.filter.enabled on l_partkey (NDV hint
    sized to the key domain), then probed with a selective point-set
    filter. Bloom filters are the row-group skipping structure for
    HIGH-CARDINALITY point lookups where min/max zone maps are useless
    (uniformly scattered keys span every row group) — at 100 TB this is
    the difference between reading 1% and 100% of a table for an IN
    probe. Filtering is correctness-neutral by construction; the oracle
    asserts the probe result equals the plain scan's.

    Scale shape: one write (the sink under test), one filtered read
    whose scan skips via dictionary+bloom; the aggregate is
    map-combinable."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    out = scratch_dir("bloom_parquet_")
    (
        li.write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return (
        back.filter(F.col("l_partkey") % 97 == 7)
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(
                    F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)")
                ).cast("double")
                / 100.0
            ).alias("total"),
        )
    )
