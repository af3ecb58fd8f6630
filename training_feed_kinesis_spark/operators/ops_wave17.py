"""Wave 17: parquet aggregate pushdown, heavy-tail exponent estimation.

  * ``scan_agg_pushdown``: MIN/MAX/COUNT answered from parquet FOOTER
    statistics (``spark.sql.parquet.aggregatePushDown``) — the scan never
    decodes data pages; the plan carries ``PushedAggregation``.
  * ``llm_doclen_hill``: Hill estimator of the document-length tail
    exponent — the statistic that says whether a corpus's length
    distribution is heavy-tailed enough to need length-aware packing
    and truncation budgets.

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
import os

from ..tables import load_table

CAT_SCAN = "2.A scans/sources/sinks"
CAT_TEXT = "2.J llm-pipeline (text)"

_HILL_K = 200  # top order statistics used by the Hill estimator


@register(
    "scan_agg_pushdown",
    CAT_SCAN,
    """
    SELECT COUNT(*) AS n_rows,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           CAST(epoch_us(MIN(l_shipdate)) AS BIGINT) AS min_ship_us,
           CAST(epoch_us(MAX(l_shipdate)) AS BIGINT) AS max_ship_us
    FROM lineitem
    """,
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-statistics aggregation: with parquet aggregate pushdown ON,
    un-grouped MIN/MAX/COUNT over plain columns compile to a metadata
    read — the plan shows ``PushedAggregation: [COUNT(*), MIN(...)]`` and
    zero data pages are decoded. At 100 TB this is the difference between
    a sub-second manifest probe and a full-corpus scan; engines fall back
    transparently when a filter or grouping blocks the pushdown.

    Both confs flip on only for this query (saved/restored): the
    pushdown rule lives in the V2 reader, so parquet must also come off
    ``spark.sql.sources.useV1SourceList`` for the duration."""
    with scoped_conf(
        spark,
        **{
            "spark.sql.parquet.aggregatePushDown": "true",
            "spark.sql.sources.useV1SourceList": "",
        },
    ):
        # read directly (not via any cached/converted frame) so the scan
        # node is the V2 parquet source the pushdown rule rewrites
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        # epoch-micros BIGINT emission (temporal campaign r12): the raw
        # MIN/MAX still compile to the pushed footer aggregation — the
        # scalar unix_micros projection runs on the 1-row result — while a
        # year-0001/9999 extreme stays collectable (pandas ns / Python
        # datetime would reject the raw timestamp). An admission FILTER
        # here would block the very pushdown this key demonstrates.
        out = li.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.min("l_shipdate").alias("_min_ship"),
            F.max("l_shipdate").alias("_max_ship"),
        ).select(
            "n_rows",
            "min_qty",
            "max_qty",
            # raw V2 read yields TIMESTAMP_NTZ; session tz is pinned UTC
            # so the cast is wall-clock-preserving (tables.py NTZ note)
            F.unix_micros(F.col("_min_ship").cast("timestamp")).alias(
                "min_ship_us"
            ),
            F.unix_micros(F.col("_max_ship").cast("timestamp")).alias(
                "max_ship_us"
            ),
        )
        out.collect()  # force execution while the confs are on
        return out


@register(
    "llm_doclen_hill",
    CAT_TEXT,
    f"""
    WITH ranked AS (
      SELECT n_chars::DOUBLE AS x,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM documents WHERE n_chars > 0
    ),
    xk AS (SELECT x AS xmin FROM ranked WHERE rk = {_HILL_K} + 1),
    top AS (SELECT x FROM ranked WHERE rk <= {_HILL_K})
    SELECT {_HILL_K}::BIGINT AS k,
           ROUND((SELECT xmin FROM xk), 4) AS x_k,
           ROUND(1.0 / (AVG(ln(x / (SELECT xmin FROM xk)))), 4) AS alpha_hill,
           ROUND(AVG(x), 4) AS mean_top_k
    FROM top
    """,
)
def llm_doclen_hill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the document-length tail exponent: over the
    k=200 largest documents, α̂ = 1 / mean(ln(x_i / x_(k+1))). α below
    ~2 means the tail carries unbounded variance — truncation budgets
    and length-aware packing become mandatory, and mean-based capacity
    planning lies. One number that dictates the packing strategy.

    Scale shape: the top-(k+1) order statistics come from a
    TakeOrderedAndProject-sized selection (per-partition top-k then
    merge, never a global sort of the corpus); the estimator itself
    averages k numbers."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    ranked = d.select(
        F.col("n_chars").cast("double").alias("x"),
        F.row_number()
        .over(Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
        .alias("rk"),
    ).filter(F.col("rk") <= _HILL_K + 1)
    xk = ranked.filter(F.col("rk") == _HILL_K + 1).select(
        F.col("x").alias("xmin")
    )
    top = ranked.filter(F.col("rk") <= _HILL_K)
    return (
        top.crossJoin(F.broadcast(xk))
        .agg(
            F.avg(F.log(F.col("x") / F.col("xmin"))).alias("mlog"),
            F.round(F.avg("x"), 4).alias("mean_top_k"),
            F.round(F.first("xmin"), 4).alias("x_k"),
        )
        .select(
            F.lit(_HILL_K).cast("long").alias("k"),
            "x_k",
            F.round(1.0 / F.col("mlog"), 4).alias("alpha_hill"),
            "mean_top_k",
        )
    )
