"""Distribution-drift and statistical diagnostics over the events/documents
tables — the monitoring layer a 100 TB training-data pipeline needs to decide
whether yesterday's feed still looks like today's.

  * ``dq_drift_psi``: Population Stability Index between two cohorts of
    ``events.value`` over fixed equal-width bins (Laplace-smoothed) — the
    standard drift score for feature monitoring.
  * ``stat_ks_2sample``: exact two-sample Kolmogorov–Smirnov D statistic
    between two event types' value distributions, via group-by-value +
    running ECDFs (one shuffle on value, no cross join).
  * ``agg_entropy_gini``: Shannon entropy + Gini impurity of each source's
    language mix — class-balance diagnostics per corpus shard.
  * ``ts_autocorr``: lag-1/2/3 autocorrelation of the daily event-count
    series — seasonality detection with plain ``corr`` over window lags.

All four are pure DataFrame compositions (no UDFs); the heavy input scan is
one pass, and every aggregate DOUBLE is ROUND(x,4) on both engines
(SURVEY.md §5.3 discipline).

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md §0.1);
capability surface reconstructed per SURVEY.md §2 and BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table

CAT_QM = "2.L quality & mining"
CAT_AGG = "2.D aggregations"
CAT_TS = "2.L time-series analytics"


@register(
    "dq_drift_psi",
    CAT_QM,
    """
    WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
    binned AS (
      SELECT LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / 10.0)) AS INT), 9)
               AS bin,
             event_id % 2 AS grp
      FROM events, b
    ),
    c AS (
      SELECT bin,
             SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS na,
             SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS nb
      FROM binned GROUP BY bin
    ),
    t AS (SELECT SUM(na)::BIGINT AS ta, SUM(nb)::BIGINT AS tb FROM c)
    SELECT bin, na, nb,
           ROUND((na + 1.0) / (ta + 10.0), 4) AS pa,
           ROUND((nb + 1.0) / (tb + 10.0), 4) AS pb,
           ROUND(((na + 1.0) / (ta + 10.0) - (nb + 1.0) / (tb + 10.0))
                 * LN(((na + 1.0) / (ta + 10.0))
                      / ((nb + 1.0) / (tb + 10.0))), 4) AS psi_term
    FROM c, t
    """,
)
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms between the even / odd ``event_id``
    cohorts of ``events.value``: 10 equal-width bins over the global range,
    Laplace-smoothed shares (+1 per bin) so empty bins never hit ln(0),
    per-bin term (pa-pb)*ln(pa/pb); the total PSI is the sum of ``psi_term``.

    Scale: the min/max pass and the bin-count pass are each one scan with
    map-side partial aggregation; the 10-row bin table is driver-trivial.
    At 100 TB the cohorts would be two date partitions — the shape is
    identical, only the ``grp`` predicate changes.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binned = ev.crossJoin(F.broadcast(b)).select(
        F.least(
            F.floor((F.col("value") - F.col("mn")) / ((F.col("mx") - F.col("mn")) / 10.0)).cast("int"),
            F.lit(9),
        ).alias("bin"),
        (F.col("event_id") % 2).alias("grp"),
    )
    c = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("nb"),
    )
    t = c.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    pa = (F.col("na") + 1.0) / (F.col("ta") + 10.0)
    pb = (F.col("nb") + 1.0) / (F.col("tb") + 10.0)
    return c.crossJoin(F.broadcast(t)).select(
        "bin",
        "na",
        "nb",
        F.round(pa, 4).alias("pa"),
        F.round(pb, 4).alias("pb"),
        F.round((pa - pb) * F.log(pa / pb), 4).alias("psi_term"),
    )


@register(
    "stat_ks_2sample",
    CAT_QM,
    """
    WITH pts AS (
      SELECT value,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS ca,
             SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS cb
      FROM events WHERE event_type IN ('click', 'view') GROUP BY value
    ),
    tot AS (SELECT SUM(ca)::BIGINT AS n_click, SUM(cb)::BIGINT AS n_view
            FROM pts),
    cum AS (
      SELECT SUM(ca) OVER (ORDER BY value)::BIGINT AS cca,
             SUM(cb) OVER (ORDER BY value)::BIGINT AS ccb
      FROM pts
    )
    SELECT ROUND(MAX(ABS(cca::DOUBLE / n_click - ccb::DOUBLE / n_view)), 4)
             AS ks_d,
           n_click, n_view
    FROM cum, tot GROUP BY n_click, n_view
    """,
)
def stat_ks_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic D = max |ECDF_click - ECDF_view| over
    ``events.value``: group by distinct value (ties collapse, so the running
    sums are the after-tie ECDF values — the correct KS convention), one
    global-ordered window for the cumulative counts, max of the gap.

    Scale: group-by-value shuffles once; the single-partition ordered window
    runs over distinct values only. At 100 TB you'd pre-bin values to a
    fixed grid first (same plan, bounded distinct count); exact mode here
    documents the semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("cb"),
        )
    )
    tot = pts.agg(
        F.sum("ca").alias("n_click"), F.sum("cb").alias("n_view")
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    cum = pts.select(
        F.sum("ca").over(w).alias("cca"), F.sum("cb").over(w).alias("ccb")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n_click", "n_view")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cca").cast("double") / F.col("n_click")
                        - F.col("ccb").cast("double") / F.col("n_view")
                    )
                ),
                4,
            ).alias("ks_d")
        )
        .select("ks_d", "n_click", "n_view")
    )


@register(
    "agg_entropy_gini",
    CAT_AGG,
    """
    WITH c AS (
      SELECT source, lang, COUNT(*)::BIGINT AS n
      FROM documents GROUP BY source, lang
    ),
    t AS (SELECT source, SUM(n)::BIGINT AS tot FROM c GROUP BY source)
    SELECT c.source,
           ROUND(-SUM((n::DOUBLE / tot) * LN(n::DOUBLE / tot)), 4) AS entropy,
           ROUND(1.0 - SUM(POWER(n::DOUBLE / tot, 2)), 4) AS gini,
           MAX(tot) AS n_docs,
           COUNT(*)::INT AS n_langs
    FROM c JOIN t ON c.source = t.source
    GROUP BY c.source
    """,
)
def agg_entropy_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) and Gini impurity of the language mix inside
    each document source — the class-balance diagnostic for corpus shards.
    Two-level aggregate: (source, lang) counts, then per-source totals via a
    broadcast self-join, then -Σ p·ln p and 1-Σ p² per source.

    Scale: both aggregations are map-side-combinable; the (source, lang)
    grid is tiny regardless of row count, so the join side is always
    broadcastable.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(F.broadcast(t), "source")
        .groupBy("source")
        .agg(
            F.round(-F.sum(p * F.log(p)), 4).alias("entropy"),
            F.round(F.lit(1.0) - F.sum(F.pow(p, 2)), 4).alias("gini"),
            F.max("tot").alias("n_docs"),
            F.count(F.lit(1)).cast("int").alias("n_langs"),
        )
    )


@register(
    "ts_autocorr",
    CAT_TS,
    """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, COUNT(*)::BIGINT AS cnt
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    l AS (
      SELECT cnt,
             lag(cnt, 1) OVER (ORDER BY day) AS l1,
             lag(cnt, 2) OVER (ORDER BY day) AS l2,
             lag(cnt, 3) OVER (ORDER BY day) AS l3
      FROM d
    )
    SELECT ROUND(corr(cnt, l1), 4) AS r1,
           ROUND(corr(cnt, l2), 4) AS r2,
           ROUND(corr(cnt, l3), 4) AS r3,
           COUNT(*)::BIGINT AS n_days
    FROM l
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/2/3 autocorrelation of the daily event-count series: daily
    rollup, ordered window lags, then plain Pearson ``corr`` per lag (both
    engines use the same sample-correlation definition; NULL head rows are
    skipped pairwise by both).

    Scale: the rollup collapses to one row per day before the window, so
    the single-partition ordered window is bounded by calendar length, not
    event count. NULL ts dropped on both engines (the r8 NULL-time seam).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("day")
    l = d.select(
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 2).over(w).alias("l2"),
        F.lag("cnt", 3).over(w).alias("l3"),
    )
    return l.agg(
        F.round(F.corr("cnt", "l1"), 4).alias("r1"),
        F.round(F.corr("cnt", "l2"), 4).alias("r2"),
        F.round(F.corr("cnt", "l3"), 4).alias("r3"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "ts_page_hinkley",
    CAT_TS,
    """
    WITH day AS (
      SELECT ts::DATE AS d, ROUND(SUM(value), 4) AS x
      FROM events WHERE ts IS NOT NULL GROUP BY ts::DATE
    ),
    m AS (SELECT AVG(x) AS mu FROM day),
    ph AS (
      SELECT d, x,
             SUM(x - mu) OVER (ORDER BY d) AS ph_t
      FROM day CROSS JOIN m
    ),
    dd AS (
      SELECT d, x, ph_t,
             ph_t - MIN(ph_t) OVER (ORDER BY d) AS drawup
      FROM ph
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           ROUND(ph_t, 4) + 0.0 AS ph,
           ROUND(drawup, 4) AS drawup,
           ROUND(drawup, 4) > 50.0 AS alarm
    FROM dd
    """,
)
def ts_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-change detection on the daily revenue series:
    cumulative deviation from the series mean, alarmed when the rise above
    the running minimum exceeds a fixed lambda (50.0). Both running
    aggregates are windows over the |days|-row pre-aggregated series —
    strictly sequenced by date, so both engines fold the identical rounded
    inputs in the identical order. The raw stream never reaches the
    window: at 100 TB the day rollup is the only full-data pass.
    NULL ts dropped on both engines (the r8 NULL-time seam).

    ``+ 0.0`` on both engines: a ``ph_t`` in (-5e-5, 0) rounds to -0.0 in
    DuckDB and 0.0 in Spark, and adding 0.0 turns both into 0.0.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    day = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.round(F.sum("value"), 4).alias("x")
    )
    m = day.agg(F.avg("x").alias("mu"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    ph = day.crossJoin(F.broadcast(m)).select(
        "d", "x", F.sum(F.col("x") - F.col("mu")).over(w).alias("ph_t")
    )
    dd = ph.select(
        "d", "x", "ph_t", (F.col("ph_t") - F.min("ph_t").over(w)).alias("drawup")
    )
    return dd.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (F.round("ph_t", 4) + 0.0).alias("ph"),
        F.round("drawup", 4).alias("drawup"),
        (F.round("drawup", 4) > 50.0).alias("alarm"),
    )
