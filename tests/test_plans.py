"""Physical-plan shape assertions for scale-critical queries.

Correctness tests prove the VALUES; these prove the PLAN — the properties
that decide whether the same code survives 100 TB: dimension joins
broadcast (no shuffle), filters reach the parquet scan (row-group
skipping), aggregations partial-aggregate map-side, and no accidental
cartesian products. A regression here is invisible at sf0.001 and fatal at
scale, which is exactly why it needs a test.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from training_feed_kinesis_spark.session import scoped_conf

from .conftest import SF_DIR


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def registry():
    from training_feed_kinesis_spark.registry import load_all

    return load_all()


def test_star_join_broadcasts_dims(spark, registry):
    plan = _plan(registry["join_multiway"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # no sort-merge join should appear: every dim fits broadcast at test sf,
    # and the fact-side chain must not force one
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_scan(spark, registry):
    plan = _plan(registry["agg_basic"].fn(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, registry):
    plan = _plan(registry["scan_projected"].fn(spark, SF_DIR))
    # ReadSchema must carry only the projected columns, not the full table
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "l_extendedprice" not in read_schema[0]


def test_agg_partial_aggregation(spark, registry):
    # two HashAggregates (partial + final) around one exchange: map-side
    # combine means the shuffle carries group states, not input rows
    plan = _plan(registry["agg_basic"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_minhash_shuffles_states_not_shingles(spark, registry):
    plan = _plan(registry["llm_minhash_sig"].fn(spark, SF_DIR))
    # partial aggregation below the exchange: the md5 minima are computed
    # map-side; shingle rows never cross the shuffle. min(string) has no
    # fixed-width buffer, so Spark plans SortAggregate instead of
    # HashAggregate — partial+final still means ≥2 aggregate operators.
    n_aggs = sum(plan.count(op) for op in ("HashAggregate", "SortAggregate", "ObjectHashAggregate"))
    assert n_aggs >= 2, plan


def test_topk_uses_take_ordered(spark, registry):
    plan = _plan(registry["limit_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_sim_topk_broadcasts_probes(spark, registry):
    plan = _plan(registry["llm_sim_topk"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_embedding_gate_is_map_only_on_clean_corpus(spark, registry):
    """VERDICT r7 item 2: the admission gate in front of ~13 vector
    operators must not shuffle vector payloads on a clean corpus. The
    census-then-trust gate plans as scan + NOT-NULL filter — zero
    Exchange operators of any kind — so previously map-only consumers
    (llm_sim_topk's corpus scan, llm_embed_stats, vec_pca_power) stay
    map-only. The election window (the payload exchange) is reserved
    for tables where the narrow census actually found duplicates; the
    vec-reingest replay tests in test_null_injection.py cover that arm."""
    from training_feed_kinesis_spark.operators.llm_similarity import (
        load_embeddings_admitted,
    )

    plan = _plan(load_embeddings_admitted(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_whole_stage_codegen_on_hot_path(spark, registry):
    plan = _plan(registry["project_compute"].fn(spark, SF_DIR), "codegen")
    assert "Found 1 WholeStageCodegen subtrees" in plan or "WholeStageCodegen" in plan


def test_bucketed_join_has_no_shuffle(spark, registry):
    # first call writes the bucketed tables (and its load_table(...) path
    # re-applies engine confs); only then pin the conf for the re-plan
    registry["join_bucketed"].fn(spark, SF_DIR)
    # disable broadcast so the planner must consider a shuffle — bucket
    # alignment is what makes it unnecessary
    with scoped_conf(spark, **{
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }):
        plan = _plan(registry["join_bucketed"].fn(spark, SF_DIR))
    assert "SortMergeJoin" in plan, plan
    # no shuffle exchange anywhere: both scans are bucket-aligned on the key
    assert "hashpartitioning" not in plan, plan


def test_salted_join_spreads_keys(spark, registry):
    plan = _plan(registry["join_skew_salted"].fn(spark, SF_DIR))
    # the join key must be the composite (user_id, salt), not user_id alone
    assert "salt" in plan


def test_sample_hash_prunes_text_column(spark, registry):
    # the sample projects metadata only: the fat `text` payload must not be
    # read — at 100 TB reading text to sample doc_ids is the difference
    # between a metadata scan and a full-corpus scan
    plan = _plan(registry["sample_hash"].fn(spark, SF_DIR))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "text" not in read_schema[0], read_schema[0]


def test_dedup_near_no_cartesian(spark, registry):
    # LSH banding exists precisely to avoid the n² pair space; a planner
    # regression to a doc×doc cartesian would be fatal at scale. The ONLY
    # permitted nested-loop joins are the minhash seed fan-outs: a broadcast
    # cross against a literal 8-row Range — constant-size, scale-free.
    plan = _plan(registry["llm_dedup_near"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    # nested-loop joins may only be the Cross seed fan-outs (broadcast of a
    # literal 8-row Range, possibly shown repeatedly inside cached-relation
    # printouts) — any other BNLJ type means a real join regressed
    import re

    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) in ("Cross", "[codegen"), plan
    # the candidate self-join must be a hash/merge equi join on the band key
    assert any(
        "keys" in line and "band_sig" in line for line in plan.splitlines()
    ), plan


def test_split_partial_aggregates(spark, registry):
    # split profiling must map-side combine: the shuffle carries one state
    # per (split, lang), not one row per document
    plan = _plan(registry["split_train_test"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2, plan


def test_partitioned_sink_enables_partition_pruning(spark, registry):
    # the partitionBy layout exists to make downstream reads prune: a filter
    # on the partition column must become a PartitionFilter (directory skip),
    # never a row-level scan filter over all partitions
    import training_feed_kinesis_spark.operators.scans as scans
    from pyspark.sql import functions as F

    out = scans.scratch_dir("prune_probe_")
    from training_feed_kinesis_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    ev.groupBy("event_type", "user_id").count().write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(out)
    df = spark.read.parquet(out).filter(F.col("event_type") == "purchase")
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(event_type" in plan, plan


def test_q21_self_joins_no_cartesian(spark, registry):
    # EXISTS / NOT-EXISTS self-correlations must plan as semi/anti joins
    # with an equi key (l_orderkey) — a nested-loop fallback would be n²
    # over the fact table at scale
    plan = _plan(registry["q21_waiting_supplier"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_q4_semi_join_residual_theta(spark, registry):
    # the shipdate-vs-orderdate theta part must ride as a residual on the
    # orderkey equi join, not force a nested loop
    plan = _plan(registry["q4_order_priority"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q19_envelope_predicates_push_to_scans(spark, registry):
    # constraint propagation must derive scan-level envelopes from the
    # disjunction (brand IN set on part; quantity bounds on lineitem)
    plan = _plan(registry["q19_disjunctive_revenue"].fn(spark, SF_DIR))
    scans = [l for l in plan.splitlines() if "PushedFilters" in l]
    pushed = " ".join(scans)
    assert "p_brand" in pushed, plan
    assert "l_quantity" in pushed, plan


def test_contamination_train_side_distinct_before_join(spark, registry):
    # the train membership set must aggregate to DISTINCT shingles BELOW
    # the join: probing with raw (doc, shingle) rows would fan out hot
    # shingles across every test doc at scale
    plan = _plan(registry["llm_contamination"].fn(spark, SF_DIR))
    semi = plan.find("LeftSemi")
    assert semi != -1, plan
    assert "HashAggregate" in plan[semi:], plan
    # only doc_id + text are read from the corpus
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert all("lang" not in l for l in read_schema), read_schema


def test_gapfill_generates_grid_not_cross_join(spark, registry):
    # the dense hour grid must come from per-gap sequence() explode AFTER
    # the user_id window — never users × global-span cross join, and never
    # a grid-sized shuffle (the round-4 spelling joined the generated grid
    # back to hourly; the joinless lead-gap spelling has no join at all)
    plan = _plan(registry["ts_resample_gapfill"].fn(spark, SF_DIR))
    assert "Generate" in plan and "sequence(h" in plan, plan
    assert "CartesianProduct" not in plan
    for join_kind in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert join_kind not in plan, plan


# Streaming / sink / iterative keys whose fn() executes work on call (drain,
# write, driver loop) rather than returning a lazy plan — excluded from the
# registry-wide plan sweep to keep it fast; their plan properties are
# asserted by their own tests above and by the correctness suite.
_PLAN_SWEEP_EXCLUDE = frozenset(
    k
    for k in (
        "source_kinesis", "source_kinesis_pyds_stream", "stream_cdc_merge",
        "sink_parquet", "sink_foreachbatch", "sink_partitioned",
        "sink_compacted", "join_stream_static", "join_stream_stream",
        "llm_dedup_clusters", "llm_dedup_apply", "stream_exactly_once",
    )
)


def test_no_cartesian_product_anywhere(spark, registry, registry_frames):
    """Registry-wide O(n²) guard: NO registered operator may plan a
    CartesianProduct — the node Spark emits only for an unconstrained
    fact×fact cross. (1-row scalar broadcasts plan as
    BroadcastNestedLoopJoin, which is fine and not matched here.) A single
    sweep catches a quadratic regression in ANY operator before it ships.

    r13: plans come from the shared session fixture (built once for all
    registry-wide sweeps) and the physical-plan strings are generated
    from a driver thread pool — ``explainString`` is a pure py4j call, no
    stdout capture, so it is thread-safe (this sweep was 84 s serial)."""
    from concurrent.futures import ThreadPoolExecutor

    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")

    def plan_of(key):
        df, err = registry_frames[key]
        if err is not None:
            raise err
        return key, df._jdf.queryExecution().explainString(mode)

    keys = [
        key
        for key in sorted(registry)
        if key not in _PLAN_SWEEP_EXCLUDE and not key.startswith("stream")
        and key in registry_frames
    ]
    assert len(keys) > 300, "sweep lost its registry coverage"
    with ThreadPoolExecutor(max_workers=8) as pool:
        offenders = [
            key for key, plan in pool.map(plan_of, keys)
            if "CartesianProduct" in plan
        ]
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_dynamic_partition_pruning_on_partitioned_fact(spark, registry):
    # the 100 TB star-join pattern: a partitioned fact joined to a filtered
    # dim on the partition column must prune partitions at RUNTIME from the
    # dim's values (dynamicpruningexpression in PartitionFilters) — reading
    # every partition and filtering post-join would scan the whole fact
    import training_feed_kinesis_spark.operators.scans as scans
    from pyspark.sql import functions as F

    from training_feed_kinesis_spark.tables import load_table

    out = scans.scratch_dir("dpp_probe_")
    ev = load_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("click", 1), ("purchase", 2)], "etype string, w int"
    )
    j = (
        fact.join(dim.filter(F.col("w") == 2), fact.event_type == F.col("etype"))
        .groupBy("etype")
        .count()
    )
    plan = _plan(j)
    assert "dynamicpruningexpression" in plan, plan


def test_join_dpp_partitioned_prunes_at_runtime(spark, registry):
    # the registered DPP operator must actually plan the runtime prune on
    # its partitioned fact scan (2 of ~7 shipyear partitions selected)
    plan = _plan(registry["join_dpp_partitioned"].fn(spark, SF_DIR))
    assert "dynamicpruningexpression" in plan, plan


def test_join_bloom_filter_injects_runtime_filter(spark):
    # with broadcast off, the selective dim side must build a Bloom sketch
    # that pre-filters the fact scan before the shuffle (might_contain on
    # the join key); without it the full fact table crosses the wire
    from training_feed_kinesis_spark.operators.engine_surface2 import bloom_join

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    with bloom_join(spark, SF_DIR) as df:
        plan = _plan(df)
    assert "might_contain" in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # the context manager must restore whatever value the session had
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_scan_cache_reuse_hits_memory_cache(spark):
    # both rollups must read the cached intermediate (InMemoryRelation),
    # not rescan parquet — the iterative-workload reuse primitive
    from training_feed_kinesis_spark.operators.surface4 import cached_rollups

    base, unioned = cached_rollups(spark, SF_DIR)
    try:
        plan = _plan(unioned)
        # both union branches must read through the cache (the parquet scan
        # appearing under InMemoryRelation in the printout is the cache-FILL
        # plan, displayed once per reference — not an extra execution)
        assert plan.count("InMemoryTableScan") >= 2, plan
    finally:
        base.unpersist()


def test_asof_join_is_joinless_linear_scan(spark, registry):
    """Round-2 fix: the as-of join must NOT be spelled as a range join +
    window dedup (quadratic per key on a hot user). The window-carry
    spelling has zero join operators — one shuffle on user_id, one sort,
    one window. Both directions."""
    for key in ("join_asof", "join_asof_forward"):
        plan = _plan(registry[key].fn(spark, SF_DIR))
        assert "Join" not in plan, f"{key} plan contains a join:\n{plan}"
        assert "Window" in plan


def test_asof_join_hot_key_no_quadratic_blowup(spark):
    """Skew probe: one user with a huge click history must stay linear.
    Synthesizes 200k clicks + 200 purchases for a single hot user, runs the
    same window-carry spelling, and cross-checks every result against a
    pandas-computed as-of answer. The quadratic spelling would materialize
    4×10^7 intermediate rows here; the linear one handles it in-memory in
    seconds."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    n_clicks, n_purch = 200_000, 200
    clicks = spark.range(n_clicks).select(
        (F.col("id") + 1_000_000).alias("event_id"),
        F.lit(7).alias("user_id"),
        F.lit("click").alias("event_type"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 7).alias("ts"),
    )
    purchases = spark.range(n_purch).select(
        (F.col("id") + 9_000_000).alias("event_id"),
        F.lit(7).alias("user_id"),
        F.lit("purchase").alias("event_type"),
        F.timestamp_seconds(F.lit(1704067203) + F.col("id") * 6991).alias("ts"),
    )
    ev = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_type").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    res = (
        ev.withColumn(
            "click_ts",
            F.last(
                F.when(F.col("event_type") == "click", F.col("ts")),
                ignorenulls=True,
            ).over(w),
        )
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", "click_ts")
        .toPandas()
        .sort_values("event_id")
        .reset_index(drop=True)
    )
    assert len(res) == n_purch
    # pandas oracle: merge_asof on the same data
    cpd = pd.DataFrame(
        {"click_ts": pd.to_datetime(1704067200 + 7 * pd.RangeIndex(n_clicks), unit="s")}
    )
    ppd = pd.DataFrame(
        {
            "event_id": 9_000_000 + pd.RangeIndex(n_purch),
            "ts": pd.to_datetime(1704067203 + 6991 * pd.RangeIndex(n_purch), unit="s"),
        }
    )
    expected = pd.merge_asof(
        ppd, cpd.assign(ts=cpd.click_ts), on="ts", direction="backward"
    )
    assert (res["click_ts"].values == expected["click_ts"].values).all()


def test_scan_agg_pushdown_reaches_footer(spark):
    """With the V2 reader + aggregatePushDown on, the plain MIN/MAX/COUNT
    probe must compile to a footer read: PushedAggregation in the scan."""
    import io
    import contextlib

    from pyspark.sql import functions as F

    from .conftest import SF_DIR

    with scoped_conf(spark, **{
        "spark.sql.parquet.aggregatePushDown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }):
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        df = li.agg(
            F.count(F.lit(1)).alias("n"), F.min("l_quantity").alias("m")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)
        assert "PushedAggregation" in buf.getvalue()


def test_frame_sample_is_map_only(spark, registry):
    """multimodal_frame_sample plans zero shuffles: metadata synthesis +
    bounded explode must stay map-side (the whole point of
    sampling-before-decode at 100 TB)."""
    plan = _plan(registry["multimodal_frame_sample"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_ivf_assignment_broadcasts_centroids(spark, registry):
    """Coarse-quantizer assignment must broadcast the centroid side — a
    shuffled join here would move the corpus embeddings per centroid."""
    plan = _plan(registry["llm_ivf_build_manifest"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pair_join_shuffles_by_cell(spark, registry):
    """The within-cell pair join must be an equi-join on cell_id (hash or
    sort-merge — n² bounded per cell), never a cartesian product."""
    plan = _plan(registry["llm_semdedup_cell"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_pq_codebook_broadcasts_codebook(spark, registry):
    """vec_pq_codebook's 80-row codebook must reach the assignment join
    as a broadcast — a shuffled join there would move every subvector
    row for an 80-row build side."""
    plan = _plan(registry["vec_pq_codebook"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_source_winrate_single_global_sort(spark, registry):
    """llm_source_winrate claims ONE global rank pass — the plan must
    contain window exchanges but no join at all (the naive pairwise
    win-rate would join documents to documents)."""
    plan = _plan(registry["llm_source_winrate"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_q2_shape_broadcasts_dimensions(spark, registry):
    """The synthesized-partsupp Q2 must broadcast supplier/nation/region
    and never fall back to a cartesian product."""
    plan = _plan(registry["q2_shape_synthetic"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_eval_broadcasts_probe_panel(spark, registry):
    """ml_knn_eval scans the corpus once against a broadcast probe panel;
    a shuffled or nested-loop pairing would be the O(n^2) shape the
    docstring forbids."""
    plan = _plan(registry["ml_knn_eval"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sequence_regex_plan_has_no_join(spark, registry):
    """Regex-over-sequences is windows + aggregation only — any join in
    the plan would mean the encoding leaked into a pairing."""
    plan = _plan(registry["events_sequence_regex"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan


def test_sparse_cosine_candidates_broadcast_rare_terms(spark, registry):
    """llm_sparse_cosine_pairs' candidate join must fan out only through
    the broadcast rare-term list (the df cap IS the skew guard); a plan
    without the broadcast or with a cartesian means the blocking leaked."""
    plan = _plan(registry["llm_sparse_cosine_pairs"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_linkpred_wedges_capped_and_equi(spark, registry):
    """graph_linkpred_scores: wedge centers pass through the broadcast
    degree-cap semi join; edge-existence check is a left anti equi join —
    no cartesian anywhere."""
    plan = _plan(registry["graph_linkpred_scores"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_bmp_kernel_pipeline_is_map_only(spark, registry):
    """multimodal_image_decode_bmp is encode→decode over payload
    partitions: any Exchange in the plan would mean binary payloads
    shuffle, which the multimodal family forbids."""
    plan = _plan(registry["multimodal_image_decode_bmp"].fn(spark, SF_DIR))
    assert "Exchange" not in plan, plan


def test_target_encoding_joins_broadcast_category_table(spark, registry):
    """ml_target_encoding_loo joins the row stream to the category
    aggregate via broadcast — the aggregate side is |categories| rows and
    must never force a fact-side shuffle just to merge back."""
    plan = _plan(registry["ml_target_encoding_loo"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_backlog_queue_windows_run_on_day_grain(spark, registry):
    """events_backlog_queue: the Lindley reflection runs over the daily
    aggregate — the plan must show partial aggregation collapsing events
    before any window (window input is domain-sized, not data-sized)."""
    plan = _plan(registry["events_backlog_queue"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # partial + final before windows
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_wordpiece_pair_work_runs_on_vocabulary(spark, registry):
    """llm_wordpiece_merge_step: the character-pair explode must sit
    above the word-type aggregate (two HashAggregates before the pair
    census) — per-character work on the corpus itself would be the
    scale bug the docstring forbids."""
    plan = _plan(registry["llm_wordpiece_merge_step"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # word census + pair census
    assert "CartesianProduct" not in plan


def test_rrf_probe_broadcasts(spark, registry):
    """llm_retrieval_fusion_rrf scans the corpus once against the
    broadcast single-probe token sets."""
    plan = _plan(registry["llm_retrieval_fusion_rrf"].fn(spark, SF_DIR))
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_learning_curve_broadcasts_model_tables(spark, registry):
    """ml_learning_curve: scoring joins the tiny prior/feature censuses
    onto the eval slice via broadcast — a shuffled join would ship the
    eval rows once per model table."""
    plan = _plan(registry["ml_learning_curve"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_markov_removal_transition_census_partial_aggregates(spark, registry):
    """events_attribution_markov_removal: the only fact-scale stage is
    the transition census — partial aggregation must be present in ITS
    plan (the op itself collects the domain-sized census, so the plan is
    asserted on the exposed _transition_probs helper), and the end-to-end
    credit shares must conserve to 1."""
    from training_feed_kinesis_spark.operators.ops_wave87 import (
        _transition_probs,
    )

    plan = _plan(_transition_probs(spark, SF_DIR))
    assert "HashAggregate" in plan  # census partial-aggregates map-side
    assert "CartesianProduct" not in plan
    rows = registry["events_attribution_markov_removal"].fn(
        spark, SF_DIR
    ).collect()
    assert len(rows) == 4
    total_share = sum(r["credit_share"] for r in rows)
    assert abs(total_share - 1.0) < 0.01, rows


def test_reservoir_sample_is_partial_topk_not_global_sort(spark, registry):
    """sample_reservoir_fixedk: ORDER BY hash LIMIT k must plan as
    TakeOrderedAndProject (per-partition partial top-k, k-row driver
    merge) — a global Sort+Exchange would ship the whole corpus to one
    task at 100 TB."""
    plan = _plan(registry["sample_reservoir_fixedk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


@pytest.mark.parametrize(
    "key,read_schema",
    [
        ("dq_payload_type_census", "struct<event_type:string,props:string>"),
        ("dq_value_finite_census", "struct<event_type:string,value:double>"),
        ("sample_poisson_bootstrap", "struct<o_orderkey:bigint,o_totalprice:double>"),
        ("vec_hnsw_level_plan", "struct<vec_id:bigint>"),
        ("llm_truncation_loss", "struct<text:string>"),
    ],
)
def test_wave95_census_ops_are_single_scan_map_side(
    spark, registry, key, read_schema
):
    """Wave-95 census/manifest ops: the load-bearing scale property is
    ONE pruned scan feeding a map-side-combinable aggregate — no join of
    fact-scale inputs, no cartesian, and a ReadSchema that proves column
    pruning reached parquet (a census that drags the full row width is
    wrong at 100 TB even if the answer is right). llm_truncation_loss's
    3-row context-length grid may appear as a broadcast nested-loop
    explode; nothing else may join."""
    plan = _plan(registry[key].fn(spark, SF_DIR))
    assert "HashAggregate" in plan, plan  # partial+final, map-side combine
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    if key != "llm_truncation_loss":
        assert "BroadcastNestedLoopJoin" not in plan, plan
    assert f"ReadSchema: {read_schema}" in plan, plan


def test_dup_span_census_text_never_shuffles(spark, registry):
    """llm_dup_span_census: the gram relation must carry (doc_id, pos,
    hash) — never document text — through both shuffles, the shared-gram
    reduction must be map-side combinable (partial_min/partial_max
    combiners for the MIN<>MAX distinct-doc test), and the probe must be
    a left-semi hash join on the hash key. Text appearing below an
    Exchange means a multi-KB string rides every gram row at 100 TB."""
    plan = _plan(registry["llm_dup_span_census"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_min" in plan and "partial_max" in plan, plan
    # ReadSchema pruned to the two columns the census needs
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_twostage_rerank_probes_broadcast(spark, registry):
    """vec_twostage_rerank: both the shortlist scan and the exact panel
    must probe via BROADCAST of the 10-probe panel over the corpus scan
    (the llm_sim_topk shape) — a shuffle join keyed on nothing would
    plan a cartesian at corpus scale. The per-probe top-S cut is a
    bounded window, so no global sort of N·Q pairs may appear."""
    plan = _plan(registry["vec_twostage_rerank"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


@pytest.mark.parametrize(
    "key,schema_prefix",
    [
        # prefix match (not full struct): the o_orderdate physical type
        # differs across testdata generations (timestamp vs
        # timestamp_ntz), and the pruning claim is about COLUMNS
        ("stat_fisher_exact",
         "struct<o_orderstatus:string,o_orderdate:timestamp"),
        ("stat_fdr_bh",
         "struct<o_orderstatus:string,o_orderdate:timestamp"),
        ("ts_ljung_box", "struct<o_totalprice:double,o_orderdate:timestamp"),
        ("dq_text_printable_census", "struct<text:string,source:string>"),
        ("events_sprt_boundary",
         "struct<event_id:bigint,ts:timestamp"),
    ],
)
def test_wave99_single_scan_no_join(spark, registry, key, schema_prefix):
    """Wave-99 analytic/census ops: ONE pruned scan, aggregates and
    windows only — no join of any kind (the Fisher fold is per-row array
    math, not a dimension join; the SPRT path is two window passes over
    one shuffle). A join or an unpruned scan here is a 100 TB-scale
    regression even while answers stay right."""
    plan = _plan(registry[key].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    # SPRT's min_by-over-struct aggregates plan as SortAggregate;
    # the census/fold keys stay hash-aggregable
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan
    assert f"ReadSchema: {schema_prefix}" in plan, plan


def test_wave99_source_cap_single_shuffle(spark, registry):
    """llm_source_domain_cap: the rank window and the census rollup must
    share ONE hashpartitioning exchange on source (the whole point of
    grouping and ranking on the same key); the scan must prune to the
    three census columns."""
    plan = _plan(registry["llm_source_domain_cap"].fn(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    fplan = _plan(registry["llm_source_domain_cap"].fn(spark, SF_DIR))
    assert (
        "ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>"
        in fplan
    ), fplan


def test_wave99_rouge_joins_are_hash_equi(spark, registry):
    """llm_rouge1_overlap: the pair join keys on the DERIVED doc_id+1 —
    an equi-join — so every join must plan hash-based (broadcast at test
    scale, shuffled-hash/sort-merge at corpus scale); a nested-loop or
    cartesian means the pairing degenerated to O(n^2) document pairs."""
    plan = _plan(registry["llm_rouge1_overlap"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
