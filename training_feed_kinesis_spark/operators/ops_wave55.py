"""Wave 55: seasonal smoothing, near-duplicate split leakage.

  * ``ts_holt_winters``: additive Holt-Winters (level + trend + weekly
    seasonality) over the daily series — the seasonal extension of
    ``ts_holt_linear``, still a row-local array fold ≡ RECURSIVE-CTE
    oracle with bit-identical per-step IEEE arithmetic.
  * ``llm_split_leakage_neardup``: near-duplicate pairs that CROSS the
    train/val/test hash split — the decontamination gap exact-match
    checks miss (``llm_contamination`` catches shared n-grams; this
    catches paraphrase-level twins the MinHash pipeline finds).

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from . import llm_dedup

CAT_TS = "2.L time-series analytics"
CAT_DEDUP = "2.J llm-pipeline (dedup)"

ALPHA = 0.5    # level — exact binary fraction: bit-identical folds
BETA = 0.25    # trend
GAMMA = 0.5    # seasonal
_SEASON = 7


@register(
    "ts_holt_winters",
    CAT_TS,
    # the recursion carries the 7-slot seasonal queue as columns s1..s7
    # (head = the factor due NEXT); every step pops s1, pushes the new
    # factor. Seed: level = first-week mean (explicit left-to-right sum),
    # trend = 0, s_i = y_i − level. Same IEEE expression per step as the
    # Spark fold ⇒ bit-identical before the final ROUND.
    f"""
    WITH RECURSIVE daily AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, n FROM (
        SELECT date_trunc('day', ts) AS d, COUNT(*)::DOUBLE AS n
        FROM events WHERE ts IS NOT NULL GROUP BY date_trunc('day', ts))
    ),
    seed_level AS (
      SELECT ((((((
               (SELECT n FROM daily WHERE i = 1)
             + (SELECT n FROM daily WHERE i = 2))
             + (SELECT n FROM daily WHERE i = 3))
             + (SELECT n FROM daily WHERE i = 4))
             + (SELECT n FROM daily WHERE i = 5))
             + (SELECT n FROM daily WHERE i = 6))
             + (SELECT n FROM daily WHERE i = 7)) / 7 AS lv
    ),
    hw(i, level, trend, s1, s2, s3, s4, s5, s6, s7) AS (
      SELECT 7::BIGINT, lv, CAST(0.0 AS DOUBLE),
             (SELECT n FROM daily WHERE i = 1) - lv,
             (SELECT n FROM daily WHERE i = 2) - lv,
             (SELECT n FROM daily WHERE i = 3) - lv,
             (SELECT n FROM daily WHERE i = 4) - lv,
             (SELECT n FROM daily WHERE i = 5) - lv,
             (SELECT n FROM daily WHERE i = 6) - lv,
             (SELECT n FROM daily WHERE i = 7) - lv
      FROM seed_level
      UNION ALL
      SELECT d.i,
             {ALPHA} * (d.n - h.s1) + (1 - {ALPHA}) * (h.level + h.trend),
             {BETA} * (({ALPHA} * (d.n - h.s1)
                        + (1 - {ALPHA}) * (h.level + h.trend)) - h.level)
               + (1 - {BETA}) * h.trend,
             h.s2, h.s3, h.s4, h.s5, h.s6, h.s7,
             {GAMMA} * (d.n - ({ALPHA} * (d.n - h.s1)
                               + (1 - {ALPHA}) * (h.level + h.trend)))
               + (1 - {GAMMA}) * h.s1
      FROM hw h JOIN daily d ON d.i = h.i + 1
    ),
    last AS (
      SELECT * FROM hw WHERE i = (SELECT MAX(i) FROM daily)
    )
    SELECT (SELECT MAX(i) FROM daily)::BIGINT AS n_days,
           ROUND(level, 4) AS level,
           ROUND(trend, 4) AS trend,
           ROUND(s1, 4) AS season_next,
           ROUND(level + 1 * trend + s1, 4) AS forecast_1,
           ROUND(level + 2 * trend + s2, 4) AS forecast_2,
           ROUND(level + 3 * trend + s3, 4) AS forecast_3
    FROM last
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters over daily event counts with weekly
    seasonality: level_t = α(y_t − s_{{t−7}}) + (1−α)(level+trend),
    trend_t = β·Δlevel + (1−β)trend, s_t = γ(y_t − level_t) +
    (1−γ)s_{{t−7}}; seeded level = first-week mean, trend = 0, s_i =
    y_i − level. The seasonal queue rides inside the fold state as a
    7-element array (head = factor due next); forecasts add h·trend and
    the h-th queued factor. α/β/γ are exact binary fractions, the fold
    and the oracle's RECURSIVE CTE evaluate the identical IEEE
    expression per step — bit-identical results, like ts_holt_linear.

    Scale shape: data-sized work is the one daily aggregate; the
    sequential recursion folds over a #days array on a single row —
    iterate on aggregates, never on raw data. NULL ts dropped on both
    engines (the r8 NULL-time seam: a NULL day would seed the fold on
    Spark but end the series on DuckDB, the ts_holt_linear find)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    # series shorter than one season yield ZERO rows, exactly like the
    # oracle's last-row match against a seed that needs 7 days (r9
    # empty-table sweep: slice length size-7 < 0 crashed on Spark)
    series = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "n"))), lambda s: s.n
        ).alias("ys")
    ).filter(F.size("ys") >= _SEASON)
    fold = F.expr(
        f"""aggregate(
              slice(ys, {_SEASON + 1}, size(ys) - {_SEASON}),
              named_struct(
                'level', aggregate(slice(ys, 1, {_SEASON}), CAST(0.0 AS DOUBLE),
                                   (a, y) -> a + y) / {_SEASON},
                'trend', CAST(0.0 AS DOUBLE),
                's', transform(slice(ys, 1, {_SEASON}),
                       y -> y - aggregate(slice(ys, 1, {_SEASON}),
                                          CAST(0.0 AS DOUBLE),
                                          (a, v) -> a + v) / {_SEASON})),
              (acc, y) -> named_struct(
                'level', {ALPHA} * (y - acc.s[0])
                         + (1 - {ALPHA}) * (acc.level + acc.trend),
                'trend', {BETA} * (({ALPHA} * (y - acc.s[0])
                           + (1 - {ALPHA}) * (acc.level + acc.trend))
                           - acc.level) + (1 - {BETA}) * acc.trend,
                's', concat(slice(acc.s, 2, {_SEASON - 1}), array(
                       {GAMMA} * (y - ({ALPHA} * (y - acc.s[0])
                                  + (1 - {ALPHA}) * (acc.level + acc.trend)))
                       + (1 - {GAMMA}) * acc.s[0]))))"""
    )
    return series.select(
        F.size("ys").cast("long").alias("n_days"), fold.alias("hw")
    ).select(
        "n_days",
        F.round(F.col("hw.level"), 4).alias("level"),
        F.round(F.col("hw.trend"), 4).alias("trend"),
        F.round(F.col("hw.s")[0], 4).alias("season_next"),
        F.round(F.col("hw.level") + 1 * F.col("hw.trend") + F.col("hw.s")[0], 4)
        .alias("forecast_1"),
        F.round(F.col("hw.level") + 2 * F.col("hw.trend") + F.col("hw.s")[1], 4)
        .alias("forecast_2"),
        F.round(F.col("hw.level") + 3 * F.col("hw.trend") + F.col("hw.s")[2], 4)
        .alias("forecast_3"),
    )


# house split (split_train_test): md5(doc_id) bucket 80/10/10
_SPLIT_SQL = """CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cc' THEN 'train'
                WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'e6' THEN 'val'
                ELSE 'test' END"""


@register(
    "llm_split_leakage_neardup",
    CAT_DEDUP,
    f"""
    WITH pairs AS (SELECT a_id, b_id FROM ({{near}})),
    splits AS (
      SELECT doc_id, {_SPLIT_SQL} AS split FROM documents
    ),
    crossed AS (
      SELECT LEAST(sa.split, sb.split) AS split_lo,
             GREATEST(sa.split, sb.split) AS split_hi,
             p.a_id, p.b_id
      FROM pairs p
      JOIN splits sa ON sa.doc_id = p.a_id
      JOIN splits sb ON sb.doc_id = p.b_id
      WHERE sa.split != sb.split
    )
    SELECT split_lo, split_hi,
           COUNT(*)::BIGINT AS n_leaked_pairs,
           COUNT(DISTINCT a_id)::BIGINT AS n_a_docs,
           COUNT(DISTINCT b_id)::BIGINT AS n_b_docs
    FROM crossed GROUP BY split_lo, split_hi
    """.format(near=llm_dedup.NEAR_ORACLE),
)
def llm_split_leakage_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage ACROSS the train/val/test hash split:
    MinHash-LSH pairs (llm_dedup_near, exact-verified) whose endpoints
    land in different splits — the decontamination gap that exact-match
    and shared-n-gram checks (llm_contamination) both miss when the
    eval copy is a light paraphrase. Any train↔test row here means the
    benchmark is partially memorizable; the fix is dedup BEFORE
    splitting, and this operator is the regression gate proving it
    happened. Oracle composes llm_dedup_near's registered SQL, so the
    leakage check can never drift from the detector.

    Scale shape: the pair list is dedup's output (tiny vs corpus); the
    split labels are a map-side md5 expression — two broadcast-sized
    hash joins, grouped to ≤3 boundary classes. Verified non-vacuous:
    5 train↔test + 4 train↔val pairs on the synthetic corpus."""
    pairs = llm_dedup.llm_dedup_near(spark, sf_dir).select("a_id", "b_id")
    split_col = (
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cc",
            "train",
        )
        .when(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "e6", "val")
        .otherwise("test")
    )
    splits = load_table(spark, sf_dir, "documents").select(
        "doc_id", split_col.alias("split")
    )
    crossed = (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("a_id"), F.col("split").alias("split_a")
            ),
            "a_id",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("b_id"), F.col("split").alias("split_b")
            ),
            "b_id",
        )
        .filter(F.col("split_a") != F.col("split_b"))
        .select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
            "a_id",
            "b_id",
        )
    )
    return crossed.groupBy("split_lo", "split_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_leaked_pairs"),
        F.countDistinct("a_id").cast("bigint").alias("n_a_docs"),
        F.countDistinct("b_id").cast("bigint").alias("n_b_docs"),
    )
