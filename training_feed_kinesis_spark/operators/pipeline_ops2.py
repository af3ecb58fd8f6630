"""Sixth pipeline wave: sketch-quality evaluation, multi-sink streaming
fan-out, segment migration, and resampling-based uncertainty.

  * ``llm_lsh_recall``: candidate-generation recall of the MinHash-LSH
    banding against exact shingle-Jaccard ground truth — the eval that
    justifies (or rejects) the LSH parameters before a 100 TB dedup run.
  * ``stream_fanout_sinks``: one stream drained into TWO idempotent
    foreachBatch parquet sinks (raw feed + running aggregate) — the
    bronze/silver fan-out every feed pipeline ships.
  * ``customer_migration_matrix``: year-over-year revenue-quintile
    transition matrix — where did last year's top customers go?
  * ``stat_bootstrap_ci``: subsample-bootstrap confidence interval for
    mean event value using md5-hash replicate membership — deterministic
    on any engine/cluster, unlike RNG bootstraps.

Reference parity note: /root/reference is an EMPTY checkout (SURVEY.md §0.1);
capability surface reconstructed per SURVEY.md §2 and BASELINE.json:6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from .exact import CENTS_SUM_SQL, cents_sum
from ..tables import load_table
from .llm_dedup import (
    _SHINGLE_ROWS_SQL,
    _band_sigs,
    _shingle_counts,
    _shingle_rows,
    BAND_SIZE,
    _MINHASH_SQL,
)
from .scans import scratch_dir

# exact integer-cents SUM of events.value, unrounded (r11 projected-
# magnitude lint, SURVEY 5.3.9a): total_value is a SUM-driven grower
_VAL_CENTS_SUM = CENTS_SUM_SQL.format(col="value")

CAT_LLM = "2.J llm-pipeline (dedup)"
CAT_STREAM = "2.I streaming"
CAT_REP = "2.L reporting"
CAT_STAT = "2.L quality & mining"

RECALL_T = 0.1  # ground-truth Jaccard threshold for the recall probe
N_BOOT = 40


@register(
    "llm_lsh_recall",
    CAT_LLM,
    f"""
    WITH sh AS ({_SHINGLE_ROWS_SQL}),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    exact_t AS (
      SELECT a_id, b_id FROM inter
      JOIN counts ca ON ca.doc_id = a_id
      JOIN counts cb ON cb.doc_id = b_id
      WHERE i * 1.0 / (ca.n + cb.n - i) >= {RECALL_T}
    ),
    sigs AS ({_MINHASH_SQL}),
    bands AS (
      SELECT doc_id, seed // {BAND_SIZE} AS band,
             md5((seed // {BAND_SIZE})::VARCHAR || ':' ||
                 MIN(minhash) || '|' || MAX(minhash)) AS band_sig
      FROM sigs GROUP BY doc_id, seed // {BAND_SIZE}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ),
    ne AS (SELECT COUNT(*)::BIGINT AS n_exact FROM exact_t),
    nc AS (SELECT COUNT(*)::BIGINT AS n_candidates FROM cands),
    nh AS (SELECT COUNT(*)::BIGINT AS n_hits
           FROM exact_t e JOIN cands c
             ON e.a_id = c.a_id AND e.b_id = c.b_id)
    SELECT n_exact, n_candidates, n_hits,
           ROUND(n_hits * 1.0 / NULLIF(n_exact, 0), 4) AS recall
    FROM ne, nc, nh
    """,
)
def llm_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the MinHash-LSH candidate generator vs exact ground
    truth: exact pairs = shingle-blocked Jaccard ≥ 0.1 (non-self), LSH
    candidates = the same band-bucket join llm_dedup_near uses. Both
    sides are md5-deterministic, so — unusually for a sketch eval — the
    whole recall measurement is SQL-oracled, not rows-only. The text
    companion of llm_ann_recall: run this BEFORE committing band/row
    parameters for a full-corpus dedup.

    Scale: ground truth is the expensive side (shingle-blocked join) —
    at 100 TB you'd compute it on a hash-sampled slice (sample_hash) and
    evaluate recall on that slice; the LSH side is the production path.
    """
    sh = _shingle_rows(spark, sf_dir)
    counts = _shingle_counts(spark, sf_dir)
    a = sh.select(F.col("doc_id").alias("a_id"), "sh")
    b = sh.select(F.col("doc_id").alias("b_id"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ca = counts.select(F.col("doc_id").alias("a_id"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("b_id"), F.col("n").alias("nb"))
    exact_t = (
        inter.join(ca, "a_id")
        .join(cb, "b_id")
        .filter(
            F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
            >= RECALL_T
        )
        .select("a_id", "b_id")
    )
    bands = _band_sigs(spark, sf_dir)
    ba = bands.select(F.col("doc_id").alias("a_id"), "band", "band_sig")
    bb = bands.select(F.col("doc_id").alias("b_id"), "band", "band_sig")
    cands = (
        ba.join(bb, ["band", "band_sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ne = exact_t.agg(F.count(F.lit(1)).alias("n_exact"))
    nc = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    nh = exact_t.join(cands, ["a_id", "b_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        ne.crossJoin(nc)
        .crossJoin(nh)
        .select(
            "n_exact",
            "n_candidates",
            "n_hits",
            F.round(
                F.col("n_hits") * 1.0 / F.nullif(F.col("n_exact"), F.lit(0)), 4
            ).alias("recall"),
        )
    )


@register(
    "stream_fanout_sinks",
    CAT_STREAM,
    f"""
    SELECT event_type, COUNT(*)::BIGINT AS n,
           {_VAL_CENTS_SUM} AS total_value
    FROM events GROUP BY event_type
    """,
)
def stream_fanout_sinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze/silver fan-out: ONE drained stream feeds TWO sinks from the
    same foreachBatch — the raw feed (bronze, batchId-keyed parquet) and a
    per-batch partial aggregate (silver). The batch is persisted so the
    two writes share one evaluation, and both writes are batchId-keyed
    overwrites (a retried batch rewrites, never duplicates). The check
    re-aggregates the SILVER partials and must equal the batch answer —
    proving no loss/dup through the fan-out — while the bronze sink holds
    the replayable raw feed.

    Scale: this is the standard lakehouse topology; partial aggregates per
    micro-batch keep the silver merge O(|groups|) per batch.
    """
    from ..streaming.replay import replay_stream, start_stream

    raw_sink = scratch_dir("fanout_raw_")
    agg_sink = scratch_dir("fanout_agg_")
    stream = replay_stream(spark, sf_dir, "ordered")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        batch_df.select("event_id", "event_type", "value").write.mode(
            "overwrite"
        ).parquet(f"{raw_sink}/batch={batch_id}")
        # exact integer-cents partials: the silver merge re-sums them
        # exactly, so the fan-out total is order-free at any scale
        # (r11 magnitude lint, SURVEY 5.3.9a)
        batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("pn"),
            F.expr("SUM(CAST(ROUND(value * 100, 0) AS BIGINT))").alias(
                "pv_c"
            ),
        ).write.mode("overwrite").parquet(f"{agg_sink}/batch={batch_id}")
        batch_df.unpersist()

    start_stream(
        spark,
        stream.writeStream.foreachBatch(write_batch).trigger(availableNow=True),
        state_partitions=None,
    ).awaitTermination()
    return (
        spark.read.parquet(agg_sink)
        .groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n"),
            (F.sum("pv_c").cast("double") / 100.0).alias("total_value"),
        )
    )


@register(
    "customer_migration_matrix",
    CAT_REP,
    """
    WITH per_year AS (
      SELECT o_custkey, year(o_orderdate)::INT AS yr,
             CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1, 2
    ),
    q AS (
      SELECT o_custkey, yr,
             ntile(5) OVER (PARTITION BY yr
                            ORDER BY rev_cents DESC, o_custkey ASC) AS quintile
      FROM per_year
    )
    SELECT a.quintile AS from_q, b.quintile AS to_q,
           COUNT(*)::BIGINT AS n_customers
    FROM q a JOIN q b ON a.o_custkey = b.o_custkey AND b.yr = a.yr + 1
    GROUP BY 1, 2
    """,
)
def customer_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue-quintile migration matrix: customers ranked
    into quintiles within each year (ntile over a TOTAL order — integer
    cents with custkey tiebreak, so bucket edges are deterministic), then
    consecutive-year self-joined into a from→to transition count. The
    retention/churn diagnostic behind customer_rfm.

    Scale: per-(customer, year) aggregate first; the ntile window and the
    transition join run on the aggregated table, partitioned by year and
    customer respectively.
    """
    od = load_table(spark, sf_dir, "orders")
    per_year = od.groupBy(
        "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
    ).agg(
        F.round(F.sum("o_totalprice") * 100, 0).cast("bigint").alias("rev_cents")
    )
    q = per_year.select(
        "o_custkey",
        "yr",
        F.ntile(5)
        .over(
            Window.partitionBy("yr").orderBy(
                F.col("rev_cents").desc(), F.col("o_custkey").asc()
            )
        )
        .alias("quintile"),
    )
    a = q.alias("a")
    b = q.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("b.yr") == F.col("a.yr") + 1),
        )
        .select(
            F.col("a.quintile").alias("from_q"), F.col("b.quintile").alias("to_q")
        )
        .groupBy("from_q", "to_q")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "stat_bootstrap_ci",
    CAT_STAT,
    f"""
    WITH reps AS (SELECT range::INT AS b FROM range(0, {N_BOOT})),
    member AS (
      SELECT b, value FROM events, reps
      WHERE substring(md5(event_id::VARCHAR || ':' || b::VARCHAR), 1, 1)
            BETWEEN '0' AND '9'
    ),
    rep_means AS (
      SELECT b, ROUND(AVG(value), 4) AS m FROM member GROUP BY b
    ),
    point AS (SELECT ROUND(AVG(value), 4) AS point_est FROM events)
    SELECT (SELECT COUNT(*)::BIGINT FROM rep_means) AS n_replicates,
           point_est,
           ROUND((SELECT percentile_cont(0.025) WITHIN GROUP (ORDER BY m)
                  FROM rep_means), 4) AS ci_lo,
           ROUND((SELECT percentile_cont(0.975) WITHIN GROUP (ORDER BY m)
                  FROM rep_means), 4) AS ci_hi
    FROM point
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsample-bootstrap CI for the mean event value: 40 replicates,
    each the ~62.5% subset whose md5(event_id:b) first hex char is a
    digit — replicate membership is a pure hash, so the 'resampling' is
    bit-reproducible on any engine, cluster, or partitioning (an RNG
    bootstrap is none of these). CI = 2.5/97.5 percentiles of replicate
    means (rounded before the percentile, per the float discipline).

    Scale: one fanned-out scan (×40 map-side, combinable aggs) — no
    shuffle grows with replicate count; the percentile runs over 40 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    reps = spark.range(N_BOOT).select(F.col("id").cast("int").alias("b"))
    member = (
        ev.crossJoin(F.broadcast(reps))
        .filter(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                1,
            ).between("0", "9")
        )
        .select("b", "value")
    )
    rep_means = member.groupBy("b").agg(F.round(F.avg("value"), 4).alias("m"))
    point = ev.agg(F.round(F.avg("value"), 4).alias("point_est"))
    ci = rep_means.agg(
        F.count(F.lit(1)).alias("n_replicates"),
        F.round(F.expr("percentile(m, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.975)"), 4).alias("ci_hi"),
    )
    return ci.crossJoin(point).select(
        "n_replicates", "point_est", "ci_lo", "ci_hi"
    )
