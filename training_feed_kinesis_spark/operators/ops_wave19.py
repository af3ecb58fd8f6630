"""Wave 19: embedding-health histogram, dedup threshold sweep, temporal
split.

  * ``vec_cosine_hist``: distribution of pairwise cosines over a probe
    sample — the anisotropy/collapse check (healthy embedding spaces put
    random-pair mass near 0; mass piling toward 1 means the space
    collapsed and similarity search is about to stop working).
  * ``llm_dedup_threshold_sweep``: survivor-pair counts across Jaccard
    thresholds — the tuning curve that picks how aggressive near-dedup
    should be before it starts deleting legitimate variation.
  * ``events_time_split``: temporal train/test split at a cutoff with
    user-overlap accounting — the forecasting-correct split (hash splits
    leak the future; this is the other axis ``split_train_test`` doesn't
    cover).

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md
§0.1); capability surface reconstructed per SURVEY.md §2 and
BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .llm_dedup import NEAR_ORACLE, llm_dedup_near

CAT_SIM = "2.J llm-pipeline (similarity)"
CAT_DEDUP = "2.J llm-pipeline (dedup)"
CAT_SAMPLE = "2.L sampling"

_NP = 60  # probe vectors for the cosine histogram

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "0D, (acc, v) -> acc + v))"
)
_DOT_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM_SQL = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


@register(
    "vec_cosine_hist",
    CAT_SIM,
    f"""
    WITH pairs AS (
      SELECT {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
             / ({_NORM_SQL.format(v='a.embedding')}
                * {_NORM_SQL.format(v='b.embedding')}) AS c
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.vec_id < {_NP} AND b.vec_id < {_NP}
    )
    SELECT LEAST(GREATEST(FLOOR((c + 1) * 10), 0), 19)::BIGINT AS cos_bin,
           COUNT(*)::BIGINT AS n_pairs,
           ROUND(AVG(c), 4) AS mean_cos
    FROM pairs GROUP BY 1
    """,
)
def vec_cosine_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health check: histogram of pairwise cosines over a
    probe sample, binned 0.1-wide across [−1, 1]. A healthy space
    concentrates random pairs near 0; mass migrating toward 1 is the
    anisotropy/collapse signature that silently breaks similarity
    search and semantic dedup — this is the monitor that catches a bad
    embedding model BEFORE dedup eats the corpus.

    Scale shape: the probe sample is fixed-size (the audit is O(probe²)
    regardless of corpus size); full-corpus monitoring samples per batch
    and unions histograms — bins are combinable."""
    em = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < _NP)
    a = em.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = em.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    cos = F.expr(_DOT.format(a="ea", b="eb")) / (
        F.expr(_NORM.format(v="ea")) * F.expr(_NORM.format(v="eb"))
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select(cos.alias("c"))
    )
    return pairs.groupBy(
        F.least(F.greatest(F.floor((F.col("c") + 1) * 10), F.lit(0)), F.lit(19))
        .cast("long")
        .alias("cos_bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("c"), 4).alias("mean_cos"),
    )


@register(
    "llm_dedup_threshold_sweep",
    CAT_DEDUP,
    f"""
    WITH near AS ({NEAR_ORACLE}),
    th AS (SELECT unnest([0.6, 0.7, 0.8, 0.9]) AS threshold)
    SELECT th.threshold, COUNT(*)::BIGINT AS n_pairs,
           COUNT(DISTINCT near.b_id)::BIGINT AS n_docs_dropped
    FROM near JOIN th ON near.jaccard >= th.threshold
    GROUP BY th.threshold
    """,
)
def llm_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup aggressiveness tuning curve: the LSH-verified near-dup pairs
    re-thresholded at 0.6/0.7/0.8/0.9, with pair counts and affected-doc
    counts per threshold — the sweep a curator reads before committing a
    threshold (every pair is computed once; the sweep is a row-local
    explode over the already-verified pair list).

    Scale: the candidate/verify pipeline runs ONCE at the loosest
    threshold; re-thresholding is free."""
    pairs = llm_dedup_near(spark, sf_dir)
    th = F.explode(F.array(*[F.lit(t) for t in (0.6, 0.7, 0.8, 0.9)])).alias(
        "threshold"
    )
    swept = pairs.select("a_id", "b_id", "jaccard", th).filter(
        F.col("jaccard") >= F.col("threshold")
    )
    return swept.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.countDistinct("b_id").cast("long").alias("n_docs_dropped"),
    )


_CUT = "2024-01-22 00:00:00"


@register(
    "events_time_split",
    CAT_SAMPLE,
    f"""
    WITH tagged AS (
      SELECT user_id, event_id,
             ts < TIMESTAMP '{_CUT}' AS is_train
      FROM events
    ),
    users AS (
      SELECT user_id,
             MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN is_train THEN 0 ELSE 1 END) AS in_test
      FROM tagged GROUP BY user_id
    )
    SELECT 'train_events' AS metric,
           (SELECT COUNT(*) FROM tagged WHERE is_train)::DOUBLE AS value
    UNION ALL SELECT 'test_events',
           (SELECT COUNT(*) FROM tagged WHERE NOT is_train)::DOUBLE
    UNION ALL SELECT 'train_users',
           (SELECT SUM(in_train) FROM users)::DOUBLE
    UNION ALL SELECT 'test_users',
           (SELECT SUM(in_test) FROM users)::DOUBLE
    UNION ALL SELECT 'overlap_users',
           (SELECT SUM(CASE WHEN in_train = 1 AND in_test = 1
                            THEN 1 ELSE 0 END) FROM users)::DOUBLE
    """,
)
def events_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split at a fixed cutoff with user-overlap
    accounting: event and user counts per side plus the users present on
    BOTH sides — the entity-leakage number a forecasting split must
    report (hash splits balance users but leak the future; time splits
    respect causality but share entities — the overlap row quantifies
    that tradeoff).

    Scale shape: one user-keyed aggregate; the five report rows come
    from combinable flags, not extra scans (the oracle's subselects are
    the same single-pass flags spelled per row)."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "user_id",
        (F.col("ts") < F.lit(_CUT).cast("timestamp")).alias("is_train"),
    )
    users = tagged.groupBy("user_id").agg(
        F.max(F.when(F.col("is_train"), 1).otherwise(0)).alias("in_train"),
        F.max(F.when(F.col("is_train"), 0).otherwise(1)).alias("in_test"),
    )
    ev_counts = tagged.agg(
        F.count_if(F.col("is_train")).cast("double").alias("train_events"),
        F.count_if(~F.col("is_train")).cast("double").alias("test_events"),
    )
    u_counts = users.agg(
        F.sum("in_train").cast("double").alias("train_users"),
        F.sum("in_test").cast("double").alias("test_users"),
        F.sum(
            F.when((F.col("in_train") == 1) & (F.col("in_test") == 1), 1).otherwise(
                0
            )
        )
        .cast("double")
        .alias("overlap_users"),
    )
    return ev_counts.crossJoin(F.broadcast(u_counts)).selectExpr(
        "stack(5, "
        "'train_events', train_events, "
        "'test_events', test_events, "
        "'train_users', train_users, "
        "'test_users', test_users, "
        "'overlap_users', overlap_users) AS (metric, value)"
    )
