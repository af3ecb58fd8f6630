"""Headline benchmark — the driver's per-round perf gate.

Runs a representative query set (relational core + LLM-pipeline + one
streaming drain) from the operator registry at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Methodology: one shared SparkSession (JVM startup excluded — it is fixed
cost, not query cost); per-query wall-clock covers plan + execution to a
noop sink (full materialization, no driver collect); a small warmup scan
first so the first timed query doesn't pay one-time codegen/filesystem
costs; each query timed ``TFK_BENCH_RUNS`` (default 3) times and the MIN
reported, so single-run host noise stops producing false round-over-round
regressions.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from training_feed_kinesis_spark.registry import load_all  # noqa: E402
from training_feed_kinesis_spark.session import build_session  # noqa: E402

# Headline set: one per load-bearing capability (SURVEY §2 categories).
HEADLINE = [
    "agg_basic",          # TPC-H-Q1-shaped scan+filter+agg
    "join_multiway",      # 5-table star join
    "join_asof",          # as-of join pattern (range + window dedup)
    "agg_grouping_sets",  # multi-grouping aggregation
    "win_ranking",        # window functions
    "topk_per_group",     # per-group top-k
    "llm_text_tokens",    # tokenize + token stats
    "llm_tfidf",          # TF-IDF scoring
    "llm_dedup_exact",    # exact dedup
    "llm_dedup_near",     # MinHash-LSH near-dup
    "llm_sim_topk",       # cosine top-k neighbors
    "llm_embed_stats",    # per-label centroids
    "llm_winnow",         # rolling-hash (winnowing) fingerprints
    "join_range_bucketized",  # time-range theta join as bucketed equi join
    "agg_skew_twophase",  # salted two-phase aggregation
    "q3_shipping_priority",   # TPC-H Q3 shape: star join + top-k
    "q5_local_supplier",      # TPC-H Q5 shape: 6-table star, cross-dim condition
    "q10_returned_items",     # TPC-H Q10 shape: 4-way join report
    "retention_cohorts",      # cohort retention matrix over the event log
    "batch_sessionize",   # lag-gap-cumsum sessionization
    "funnel_conversion",  # ordered multi-stage funnel
    "q8_market_share",    # TPC-H Q8 shape: 8-table star market-share ratio
    "q21_waiting_supplier",   # TPC-H Q21 shape: EXISTS/NOT-EXISTS self-joins
    "llm_contamination",  # train→test 8-gram contamination probe
    "llm_unigram_logprob",    # unigram NLL quality scoring
    "ts_resample_gapfill",    # per-user hourly gap-filled resample
    "llm_bigram_pmi",     # PMI collocation mining
    "llm_curation_waterfall", # capstone: quality→dedup→decontam→split waterfall
    "ts_ewma",            # EWMA smoothing as ratio-of-weighted-window-sums
    "rollup_rank_report", # rollup grains + rank-within-grain BI report
    "graph_triangles",    # co-purchase triangle census (bounded wedge join)
    "assoc_rules",        # association rules with confidence + lift
    "ml_kmeans_step",     # K-means Lloyd iteration, broadcast centroids
    "vec_pca_power",      # PCA power iteration (two matvecs per step)
    "stream_tumbling",    # streaming drain: windowed agg over event replay
]


# Second tier (VERDICT r7 item 5): the expensive sweep outliers that the
# headline suite never times — to-convergence iterative connected
# components and the 64-bit SimHash pair scan. The r6 quadratic
# (llm_simhash_pairs 367 s) was caught only by someone READING sweep
# timings; these run ONCE per bench (they are 10-60× the headline keys,
# so min-of-3 would dominate the wall-clock for no extra signal) and are
# compared against the previous round's recording with the same >15%
# flag, so a regression here is mechanical, not archaeological.
TIER2 = [
    "llm_dedup_clusters",      # exact all-pairs cosine edges -> CC (oracled baseline)
    "llm_dedup_apply",         # baseline CC clusters applied back to the corpus
    "llm_dedup_clusters_lsh",  # banded MinHash-LSH edges -> same CC (default scale path)
    "llm_dedup_apply_lsh",     # LSH-edge clusters applied back to the corpus
    "llm_simhash_pairs",       # 64-bit SimHash hamming pair scan
    "llm_dedup_embed",         # exact all-pairs cosine pairs (oracled baseline)
    "llm_dedup_embed_lsh",     # sign-LSH candidates -> exact-cosine verify (default scale path)
]


def _load_prev_recording(sf: float | None, cpus: int, root: str = _ROOT) -> dict:
    """The newest BENCH_r*.json recording taken at this sf on this core
    count, or {}. Only comparable recordings count: one taken at a
    different sf or core count (BENCH_r13_c8 is lexically newest but ran
    on 8 cores) would mark queries ">15% regressed" (or make the guard
    silently vacuous) and burn the retry budget. The driver wraps our JSON
    line under "parsed", but a recording can carry parsed: null with only
    a START-TRUNCATED tail string (observed BENCH_r10), so unparseable
    files are skipped."""
    benches = sorted(
        glob.glob(os.path.join(root, "BENCH_r*.json")), reverse=True
    )
    for path in benches:
        try:
            with open(path) as f:
                doc = json.load(f)
            parsed = doc.get("parsed") or doc
            if (
                isinstance(parsed, dict)
                and doc.get("cpus", parsed.get("cpus")) == cpus
                and parsed.get("sf") == sf
                and parsed.get("queries")
            ):
                return parsed
        except (OSError, ValueError, AttributeError):
            continue
    return {}


def _consume(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    spark = build_session("tfk-bench")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))  # as build_session
    registry = load_all()

    # warmup (machinery only, never data): drain one trivial stream at the
    # smallest sf so the first timed streaming query doesn't pay one-time
    # micro-batch/sink/codegen initialization. Base tables are NOT cached —
    # every timed query computes from the parquet inputs (r12 optimization
    # round contract; the r2–r11 warmup cached all ten base tables, which
    # moved the scan out of the timed region — see OPTIMIZATION_r12.md).
    from training_feed_kinesis_spark.streaming.replay import drain, replay_stream

    drain(replay_stream(spark, "/root/testdata/sf0.001", "ordered").groupBy(
        "event_type").count(), "complete")

    # spawn the Arrow/pandas Python workers once so the first timed
    # vectorized-UDF query doesn't pay one-time worker startup
    def _noop(batches):
        yield from batches

    spark.range(32).repartition(32).mapInPandas(_noop, "id long").count()

    # Per-query BEST-OF-N (default 3): single-run wall-clock at this data
    # size swings ±15-30% with host state (GC, page cache, co-resident
    # work) — two r2/r3 round-over-round "regressions" were re-measured as
    # pure noise. The min of 3 is the standard low-variance estimator for
    # "how fast is this plan when the host isn't fighting it", which is
    # the quantity round-over-round comparisons need.
    n_runs = int(os.environ.get("TFK_BENCH_RUNS", "3"))
    loadavg_start = os.getloadavg()
    timings: dict[str, float] = {}

    def _time_once(key: str) -> float:
        # try/finally (ADVICE r12): without it a raising operator leaked
        # its "bench: <key>" description onto every subsequent job
        spark.sparkContext.setJobDescription(f"bench: {key}")
        try:
            t0 = time.perf_counter()
            _consume(registry[key].fn(spark, sf_dir))
            return round(time.perf_counter() - t0, 3)
        finally:
            spark.sparkContext.setJobDescription(None)

    for _ in range(n_runs):
        for key in HEADLINE:
            t = _time_once(key)
            if key not in timings or t < timings[key]:
                timings[key] = t

    # Noise self-defense (VERDICT r5): min-of-3 still false-alarmed when a
    # co-resident load burst spanned all three runs of a query. Compare
    # against the previous round's recording (driver-written BENCH_r*.json,
    # if present) and give any query whose min regressed >15% up to
    # TFK_BENCH_RETRIES extra attempts — a true plan regression survives
    # the retries; a load burst does not. The retried keys and the host
    # loadavg are recorded so a round-over-round reader can tell which.
    _prev_rec = _load_prev_recording(sf, cpus)
    prev: dict[str, float] = _prev_rec.get("queries", {}) or {}
    retried: dict[str, int] = {}
    n_retries = int(os.environ.get("TFK_BENCH_RETRIES", "3"))
    for key in HEADLINE:
        p = prev.get(key)
        if not p:
            continue
        for _ in range(n_retries):
            if timings[key] <= 1.15 * p:
                break
            retried[key] = retried.get(key, 0) + 1
            timings[key] = min(timings[key], _time_once(key))

    # tier-2 (expensive outliers; see TIER2 note): cold and warm recorded
    # SEPARATELY (VERDICT r9 item 5 — the r9 min-of-1 cold numbers
    # mis-flagged clusters/apply as regressed: 11.6 s cold vs 8.6 s warm,
    # the delta being one-time substrate materialization, not plan cost).
    # tier2[key] is the WARM time (second run, substrates hot) — the
    # round-over-round comparable; tier2_cold[key] keeps the first-run
    # cost visible. Same >15%-vs-previous retry guard on the warm value.
    tier2: dict[str, float] = {}
    tier2_cold: dict[str, float] = {}
    # only trust the previous tier2 values as a warm baseline when that
    # recording has the cold/warm split (r10+): r9-era files recorded
    # cold min-of-1 values under the same "tier2" name, and comparing a
    # warm run against a cold baseline makes the >15% guard misfire or
    # mask a regression (ADVICE r10)
    prev_t2 = (
        (_prev_rec.get("tier2", {}) or {})
        if "tier2_cold" in _prev_rec
        else {}
    )
    for key in TIER2:
        if key not in registry:
            continue
        tier2_cold[key] = _time_once(key)
        tier2[key] = _time_once(key)
        p = prev_t2.get(key)
        if p and tier2[key] > 1.15 * p:
            retried[key] = retried.get(key, 0) + 1
            tier2[key] = min(tier2[key], _time_once(key))

    print(
        json.dumps(
            {
                "metric": "headline_suite_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "tier2": tier2,
                "tier2_cold": tier2_cold,
                "sf": sf,
                "cpus": cpus,
                "master": spark.sparkContext.master,
                "defaultParallelism": spark.sparkContext.defaultParallelism,
                "spark.sql.shuffle.partitions": spark.conf.get(
                    "spark.sql.shuffle.partitions"
                ),
                "runs_per_query": n_runs,
                "estimator": "per-query min",
                "retried": retried,
                "loadavg": {
                    "start": [round(x, 2) for x in loadavg_start],
                    "end": [round(x, 2) for x in os.getloadavg()],
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
