"""Skew / hot-key stress tests for the scale-critical operators.

Synthetic worst-case fixtures (written to pytest temp dirs, never touching
/root/testdata): a heavily duplicated document cluster for the LSH dedup
path, and a hot user for the point-in-time feature window. Each test
asserts the SHAPE guarantee the operator's docstring claims — bounded
candidates, linear (not quadratic) hot-key behavior — plus exact results
cross-checked against an independent computation.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def registry():
    from training_feed_kinesis_spark.registry import load_all

    return load_all()


@pytest.fixture(scope="module")
def dup_corpus_dir(spark, tmp_path_factory):
    """120 docs: 50 verbatim copies of one 40-token text + 70 distinct
    texts (deterministic token soup). Written as documents.parquet so
    operators load it through the normal path."""
    out = str(tmp_path_factory.mktemp("stress_dup_corpus"))
    dup_text = " ".join(f"tok{i % 13}w{i}" for i in range(40))
    rows = [(i, dup_text, "en", "srcA", len(dup_text)) for i in range(50)]
    for i in range(50, 120):
        txt = " ".join(f"u{i}t{j}x{(i * 7 + j) % 31}" for j in range(40))
        rows.append((i, txt, "en", "srcB", len(txt)))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))
    return out


def test_lsh_dedup_hot_cluster_bounded(spark, dup_corpus_dir, registry):
    """A 50-copy duplicate cluster must yield exactly C(50,2) verified
    pairs at jaccard 1.0, and the LSH candidate set must stay close to
    that floor — no candidate blowup from unrelated docs (the bounded-
    candidates claim in llm_dedup_near's docstring)."""
    from training_feed_kinesis_spark.operators.llm_dedup import _band_sigs

    pairs = registry["llm_dedup_near"].fn(spark, dup_corpus_dir)
    dup_pairs = pairs.filter(F.col("a_id") < 50).collect()
    assert len(dup_pairs) == 50 * 49 // 2
    assert all(abs(r.jaccard - 1.0) < 1e-9 for r in dup_pairs)

    bands = _band_sigs(spark, dup_corpus_dir)
    a = bands.select(F.col("doc_id").alias("a_id"), "band", "band_sig")
    b = bands.select(F.col("doc_id").alias("b_id"), "band", "band_sig")
    n_cands = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
        .count()
    )
    floor = 50 * 49 // 2
    n_docs = 120
    all_pairs = n_docs * (n_docs - 1) // 2
    # candidates = the true cluster + at most 5% accidental collisions
    assert floor <= n_cands <= floor + 0.05 * all_pairs, n_cands


def test_pit_snapshot_hot_user_linear(spark, tmp_path):
    """One user with 5000 interleaved events: the RANGE-frame spelling
    must produce exact trailing counts (cross-checked against a pandas
    rolling computation) — the window is one sorted pass per user, never
    a per-label range join, so a hot key costs O(n log n)."""
    import pandas as pd

    from training_feed_kinesis_spark.operators.scale_ops import (
        feature_pit_snapshot,
        _PIT_WINDOW_S,
    )

    from datetime import datetime, timezone

    n = 5000
    base = 1_700_000_000
    rows = [
        (
            i,
            datetime.fromtimestamp(base + i * 400, tz=timezone.utc).replace(
                tzinfo=None
            ),
            7,
            "purchase" if i % 10 == 0 else "click",
            float(i % 5),
            "{}",
        )
        for i in range(n)
    ]
    out = str(tmp_path / "stress_hot_user")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )

    got = {
        r.event_id: (r.clicks_7d, round(r.click_value_7d, 4))
        for r in feature_pit_snapshot(spark, out).collect()
    }
    assert len(got) == n // 10

    # independent pandas check: trailing [-7d, -1s] click count per purchase
    pdf = pd.DataFrame(
        {"event_id": range(n), "sec": [base + i * 400 for i in range(n)]}
    )
    pdf["is_click"] = [i % 10 != 0 for i in range(n)]
    pdf["val"] = [float(i % 5) for i in range(n)]
    secs = pdf["sec"].to_numpy()
    for eid in list(got)[:50]:  # spot-check 50 labels
        s = secs[eid]
        mask = (
            (secs >= s - _PIT_WINDOW_S)
            & (secs <= s - 1)
            & pdf["is_click"].to_numpy()
        )
        assert got[eid][0] == int(mask.sum())
        assert got[eid][1] == round(float(pdf["val"].to_numpy()[mask].sum()), 4)


def test_trigger_incremental_processes_only_new_files(spark):
    """Two AvailableNow runs over a growing source with one checkpoint:
    run 1's sink holds exactly the first files' rows; run 2 adds exactly
    the remaining rows (offset log skips committed files)."""
    import shutil

    from training_feed_kinesis_spark.operators.scans import scratch_dir
    from training_feed_kinesis_spark.streaming.replay import (
        _prepare,
        _stamp_mtimes,
    )
    from training_feed_kinesis_spark.tables import load_table

    sf = os.environ.get("TFK_TEST_SF_DIR", "/root/testdata/sf0.001")
    src_all = _prepare(spark, sf, "ordered")
    parts = sorted(
        f for f in os.listdir(src_all)
        if f.startswith("part-") and not f.endswith(".crc")
    )
    work, sink, ckpt = (
        scratch_dir("t_incr_src_"),
        scratch_dir("t_incr_sink_"),
        scratch_dir("t_incr_ckpt_"),
    )
    schema = load_table(spark, sf, "events").schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(work)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def rows_in(paths):
        return sum(
            spark.read.parquet(os.path.join(src_all, p)).count() for p in paths
        )

    for f_ in parts[:2]:
        shutil.copy(os.path.join(src_all, f_), os.path.join(work, f_))
    _stamp_mtimes(work)
    run_once()
    n_run1 = spark.read.parquet(sink).count()
    assert n_run1 == rows_in(parts[:2])

    for f_ in parts[2:]:
        shutil.copy(os.path.join(src_all, f_), os.path.join(work, f_))
    _stamp_mtimes(work)
    run_once()
    n_total = spark.read.parquet(sink).count()
    assert n_total == rows_in(parts)
    assert n_total - n_run1 == rows_in(parts[2:])


def test_dedup_quality_shift_conservation_on_dup_cluster(
    spark, dup_corpus_dir, registry
):
    """On a corpus with a real 50-copy duplicate cluster (the synthetic
    testdata has zero exact dups), llm_dedup_quality_shift must account
    every doc: before = 120, after = 71 (one keeper for the cluster + 70
    distinct), and the quality shift must be finite."""
    rows = registry["llm_dedup_quality_shift"].fn(spark, dup_corpus_dir).collect()
    assert len(rows) == 1 and rows[0].lang == "en"
    r = rows[0]
    assert r.n_before == 120
    assert r.n_after == 71
    assert r.mean_ttr_after is not None


def test_semdedup_drops_identical_vectors_only(spark, registry, tmp_path):
    """Embedding stress fixture: 60 copies of one vector + 40 mutually
    orthogonal vectors. SemDeDup must drop exactly the 59 non-keeper
    copies (cosine 1.0 within the cluster) and keep every orthogonal
    vector (cosine 0 < threshold) — the bounded per-cell n² claim, with
    zero false drops."""
    import os

    out = str(tmp_path / "stress_sem_embed")
    rows = []
    base = [1.0] + [0.0] * 63
    for i in range(60):
        rows.append((i, base, 0))
    for i in range(60, 100):
        v = [0.0] * 64
        v[i - 59] = 1.0  # dims 1..40 — orthogonal to base and each other
        rows.append((i, v, 1))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )
    res = registry["llm_semdedup_cell"].fn(spark, out).collect()
    total = sum(r.n_vectors for r in res)
    dropped = sum(r.n_dropped for r in res)
    assert total == 100
    assert dropped == 59, res


def test_contamination_rate_monotone_in_ngram_length(spark, registry):
    """Semantic property: a longer shared n-gram is strictly harder to
    hit, so the contamination rate must be non-increasing in n."""
    from .conftest import SF_DIR

    rows = (
        registry["llm_contamination_ngram_decay"]
        .fn(spark, SF_DIR)
        .orderBy("ngram_len")
        .collect()
    )
    assert len(rows) == 4
    rates = [r.contamination_rate for r in rows]
    assert all(a >= b for a, b in zip(rates, rates[1:])), rates


def test_triangle_orientation_bounds_hub_wedges(spark):
    """Degree orientation must collapse the wedge fan-out at a hub node.
    Fixture: a star — hub h sits in the MIDDLE of the id order with k=60
    spokes (plus a few spoke-spoke edges so degrees aren't all 1). Under
    the old id orientation the hub has ~k/2 in-edges and ~k/2 out-edges →
    ~k²/4=900 wedge rows at the hub; under degree orientation every
    spoke→hub edge points INTO the hub (spoke degree < hub degree), the
    hub's out-degree is 0, and hub wedges vanish. Also re-checks the
    count is orientation-invariant on a graph with known triangles."""
    from training_feed_kinesis_spark.operators.graph import _degree_oriented

    k = 60
    hub = k // 2
    spokes = [i for i in range(k + 1) if i != hub]
    edges = [(min(s, hub), max(s, hub)) for s in spokes]
    # a separate 4-clique well away from the hub ids → C(4,3)=4 triangles
    cl = [1000, 1001, 1002, 1003]
    edges += [(a, b) for i, a in enumerate(cl) for b in cl[i + 1:]]
    e = spark.createDataFrame(edges, "pa long, pb long")

    o = _degree_oriented(e).cache()
    # wedge rows landing on the hub as the middle node
    hub_wedges = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .filter(F.col("e1.dst") == hub)
        .count()
    )
    assert hub_wedges == 0, hub_wedges
    # id-orientation comparison: the same star yields ~k^2/4 hub wedges
    id_hub_wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.pb") == F.col("e2.pa"))
        .filter(F.col("e1.pb") == hub)
        .count()
    )
    assert id_hub_wedges == hub * (k - hub), id_hub_wedges
    # triangle count is orientation-invariant: the 4-clique's 4 triangles
    tri = (
        o.alias("e1")
        .join(o.alias("e2"), F.col("e1.dst") == F.col("e2.src"))
        .join(
            o.alias("e3"),
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .count()
    )
    assert tri == 4, tri
    o.unpersist()
