"""Wave 86: nested-layout ingestion, extreme-value risk, runs test,
negative-sampling table.

  * ``scan_recursive_glob``: recursiveFileLookup + pathGlobFilter over a
    nested directory layout (type=<x>/part files) — the loose-files
    ingest surface between flat dirs (scan_parquet) and registered
    Hive partitions (scan_pruned_partitions).
  * ``events_evt_gumbel``: extreme-value analysis of daily maxima —
    method-of-moments Gumbel fit and the T-day return level, the
    capacity-planning number ("what daily peak should we size for?")
    that mean-based stats structurally cannot give.
  * ``stat_runs_test``: Wald–Wolfowitz runs test on the above/below-
    median daily revenue sequence — serial-dependence check on exact
    integer runs counts (the sign-based companion of
    ts_turning_points' extrema-based test).
  * ``llm_negative_sampling_table``: the unigram^0.75 negative-sampling
    distribution (word2vec's smoothing) as integer per-million draw
    weights — flattens the head, lifts the tail, sums to ~1e6.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from .exact import CENTS_SUM_SQL, cents_sum
from ..tables import load_table
from .scans import derived_dir

# exact integer-cents SUM of events.value, unrounded (r11 projected-
# magnitude lint, SURVEY 5.3.9a): total_value is a SUM-driven grower
_VAL_CENTS_SUM = CENTS_SUM_SQL.format(col="value")

CAT_SRC = "2.A scans/sources/sinks"
CAT_TS = "2.L time-series analytics"
CAT_STAT = "2.L statistics"
CAT_TEXT = "2.J llm text analysis"


@register(
    "scan_recursive_glob",
    CAT_SRC,
    f"""
    SELECT event_type, COUNT(*)::BIGINT AS n,
           {_VAL_CENTS_SUM} AS total_value
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-directory ingestion: events are laid out as
    type=<event_type>/batch-N.parquet (the loose export layout crawlers
    and vendor drops produce — NOT registered partitions), then read
    back with recursiveFileLookup=true + pathGlobFilter='*.parquet',
    selecting two subtrees by path. The glob prunes at FILE LISTING
    time — at 100 TB that's the difference between listing two
    directories and scanning a manifest of millions — and the result
    must equal the relational filter, which is what the oracle states.

    Scale shape: listing-time pruning + map-combinable aggregate; the
    write is the fixture, built once per session (scans.derived_dir)."""

    def build(out: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        for et in ("click", "view", "purchase", "signup", "error"):
            (
                ev.filter(F.col("event_type") == et)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(out, f"type={et}"))
            )

    events = os.path.join(sf_dir, "events.parquet")
    base = derived_dir(spark, "nested_events", [events], build)
    schema = load_table(spark, sf_dir, "events").schema
    back = (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(
            os.path.join(base, "type=click"), os.path.join(base, "type=view")
        )
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        cents_sum("value").alias("total_value"),
    )


@register(
    "events_evt_gumbel",
    CAT_TS,
    """
    WITH daily_max AS (
      SELECT date_trunc('day', ts) AS day, MAX(value) AS mx
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT COUNT(*)::BIGINT AS n, AVG(mx) AS m, stddev_samp(mx) AS sd
      FROM daily_max
    )
    SELECT n AS n_days,
           ROUND(m, 4) AS mean_daily_max,
           ROUND(sd * sqrt(6.0) / pi(), 4) AS beta,
           ROUND(m - 0.5772156649015329 * sd * sqrt(6.0) / pi(), 4) AS mu,
           ROUND(m - 0.5772156649015329 * sd * sqrt(6.0) / pi()
                 - sd * sqrt(6.0) / pi() * ln(-ln(1 - 1.0 / 100)), 4)
             AS return_level_100d,
           ROUND(m - 0.5772156649015329 * sd * sqrt(6.0) / pi()
                 - sd * sqrt(6.0) / pi() * ln(-ln(1 - 1.0 / 365)), 4)
             AS return_level_365d
    FROM mom
    """,
)
def events_evt_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis of daily maximum event values:
    block-maxima method-of-moments Gumbel fit (β = s√6/π,
    μ = x̄ − γβ with Euler–Mascheroni γ) and the T-day return levels
    x_T = μ − β·ln(−ln(1−1/T)) for T = 100 and 365 — "the largest
    single value we should expect once per quarter / per year", the
    tail-risk number capacity planning needs and that averages or
    even P99s structurally understate. Pure moment arithmetic; both
    engines evaluate identical constants.

    Scale shape: one day-grain MAX census, one single-row moment fold."""
    ev = load_table(spark, sf_dir, "events")
    daily_max = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.max("value").alias("mx")
    )
    import math

    gamma = 0.5772156649015329
    mom = daily_max.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("mx").alias("m"),
        F.stddev_samp("mx").alias("sd"),
    )
    beta = F.col("sd") * math.sqrt(6.0) / math.pi
    mu = F.col("m") - gamma * beta
    def rl(t: int):
        return F.round(mu - beta * math.log(-math.log(1 - 1.0 / t)), 4)

    return mom.select(
        F.col("n").alias("n_days"),
        F.round(F.col("m"), 4).alias("mean_daily_max"),
        F.round(beta, 4).alias("beta"),
        F.round(mu, 4).alias("mu"),
        rl(100).alias("return_level_100d"),
        rl(365).alias("return_level_365d"),
    )


@register(
    "stat_runs_test",
    CAT_STAT,
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS rev
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    med AS (
      SELECT quantile_disc(rev, 0.5) AS md FROM daily
    ),
    signs AS (
      SELECT day, CASE WHEN rev > m.md THEN 1 ELSE 0 END AS above
      FROM daily CROSS JOIN med m WHERE rev != m.md
    ),
    runs AS (
      SELECT above,
             CASE WHEN LAG(above) OVER (ORDER BY day) IS DISTINCT FROM above
                  THEN 1 ELSE 0 END AS new_run
      FROM signs
    ),
    c AS (
      SELECT SUM(new_run)::BIGINT AS r,
             SUM(above)::BIGINT AS n1,
             (COUNT(*) - SUM(above))::BIGINT AS n2
      FROM runs
    )
    SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
           ROUND(1.0 + 2.0 * n1 * n2 / (n1 + n2), 4) AS expected_runs,
           ROUND((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 4)
             AS z_score
    FROM c
    """,
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test: the daily revenue series is reduced to
    an above/below-median sign sequence (median days excluded, exact
    integer cents), runs are counted with one lag window, and the count
    is compared to the i.i.d. null E[R] = 1 + 2n₁n₂/n with its exact
    variance. Too few runs ⇒ trending/sticky regimes; too many ⇒
    alternation. Together with ts_turning_points this covers both
    classical nonparametric randomness checks — one on signs, one on
    extrema — before anyone fits a forecaster.

    Scale shape: day-grain aggregate, a broadcast scalar median, one
    lag window over the domain-sized sign sequence."""
    # NULL ts dropped on both engines (the r8 NULL-time seam)
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.expr("CAST(ROUND(value * 100, 0) AS BIGINT)")).cast("long").alias("rev")
    )
    # discrete median: value at rank ceil(n/2) under (rev, day) order
    w = Window.orderBy("rev")
    wall = Window.partitionBy()
    med = (
        daily.select(
            "rev",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .filter(F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long"))
        .select(F.col("rev").alias("md"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("rev") != F.col("md"))
        .select(
            "day", F.when(F.col("rev") > F.col("md"), 1).otherwise(0).alias(
                "above"
            )
        )
    )
    wd = Window.orderBy("day")
    runs = signs.select(
        "above",
        F.when(
            ~F.lag("above").over(wd).eqNullSafe(F.col("above")), 1
        ).otherwise(0).alias("new_run"),
    )
    c = runs.agg(
        F.sum("new_run").alias("r"),
        F.sum("above").alias("n1"),
        (F.count(F.lit(1)) - F.sum("above")).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    er = 1.0 + 2.0 * n1 * n2 / (n1 + n2)
    vr = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    return c.select(
        r.alias("n_runs"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        F.round(er, 4).alias("expected_runs"),
        F.round((r - er) / F.sqrt(vr), 4).alias("z_score"),
    )


@register(
    "llm_negative_sampling_table",
    CAT_TEXT,
    """
    WITH tok AS (
      SELECT unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS term FROM documents
    ),
    census AS (
      SELECT term, COUNT(*)::BIGINT AS c
      FROM tok WHERE term <> '' GROUP BY term
    ),
    powered AS (
      SELECT term, c, pow(c, 0.75) AS pc FROM census
    ),
    tot AS (SELECT SUM(pc) AS z FROM powered)
    SELECT p.term, p.c AS count,
           CAST(ROUND(1000000 * p.pc / t.z, 0) AS BIGINT) AS draw_ppm,
           ROUND(p.pc / t.z - CAST(p.c AS DOUBLE)
                 / (SELECT SUM(c) FROM census), 6) AS shift_vs_unigram
    FROM powered p CROSS JOIN tot t
    """,
)
def llm_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec's negative-sampling distribution: unigram counts raised
    to the 3/4 power and normalized — the published smoothing that
    flattens head words and lifts tail words so negatives stay
    informative. Emitted as integer parts-per-million draw weights,
    plus each term's probability shift vs the raw unigram distribution
    (positive = boosted tail). The sampling table contrastive training
    (and hard-negative mining) draws from.

    Scale shape: one vocabulary census; the power/normalize step is
    vocabulary-sized with a broadcast scalar Z."""
    d = load_table(spark, sf_dir, "documents")
    census = (
        d.select(F.explode(F.split(F.expr("translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"), " ")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    powered = census.select(
        "term", "c", F.pow(F.col("c"), 0.75).alias("pc")
    )
    tot = powered.agg(
        F.sum("pc").alias("z"), F.sum("c").alias("total_c")
    )
    return powered.crossJoin(F.broadcast(tot)).select(
        "term",
        F.col("c").alias("count"),
        F.round(1000000 * F.col("pc") / F.col("z"), 0)
        .cast("long")
        .alias("draw_ppm"),
        F.round(
            F.col("pc") / F.col("z")
            - F.col("c").cast("double") / F.col("total_c"),
            6,
        ).alias("shift_vs_unigram"),
    )
