"""One differential test per registered operator (SURVEY.md §5.4).

Replicates the driver's check locally at sf0.001: every operator with an
oracle is hash-compared against DuckDB; rows-only operators must run and
return a well-formed (possibly empty) DataFrame with a stable schema.
"""

from __future__ import annotations

import pytest

from training_feed_kinesis_spark.registry import load_all

from .conftest import SF_DIR, assert_matches_oracle

_REGISTRY = load_all()


@pytest.mark.parametrize("key", sorted(_REGISTRY))
def test_operator(key, spark, duck):
    spec = _REGISTRY[key]
    df = spec.fn(spark, SF_DIR)
    if spec.oracle is not None:
        assert_matches_oracle(df, duck, spec.oracle)
    else:
        rows = df.collect()
        assert rows is not None
        assert len(df.columns) > 0


@pytest.mark.parametrize(
    "sf_dir", [SF_DIR, "/root/testdata/sf0.01"], ids=["testsf", "sf0.01"]
)
def test_bigram_pmi_non_vacuous(spark, sf_dir):
    """The PMI count floor is scale-aware (GREATEST(5, nb_i DIV 10000));
    a fixed floor of 50 once sat exactly at the sf0.01 distribution knee
    and made the driver's green vacuous (VERDICT r5 item 4). Assert the
    scoring is actually exercised at BOTH the test sf and the driver's
    sf0.01: non-empty result with finite PMI."""
    df = _REGISTRY["llm_bigram_pmi"].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) > 0, "scale-aware floor must leave qualifying bigrams"
    assert all(r.pmi is not None for r in rows)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q), "oracle keys must be a subset of query keys"
    assert len(q) > 0


def test_approx_distinct_bounded_error(spark):
    """HLL++ has no cross-engine oracle (rows-only for the driver), but its
    accuracy is testable in-engine: at rsd=0.01 the estimate must land
    within 5% (5 sigma) of the exact distinct count per group."""
    from pyspark.sql import functions as F

    from training_feed_kinesis_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    both = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert len(both) > 0
    for r in both:
        assert abs(r["approx"] - r["exact"]) <= max(0.05 * r["exact"], 1), (
            f"{r['event_type']}: approx {r['approx']} vs exact {r['exact']}"
        )


def test_approx_quantile_within_exact_bracket(spark):
    """approx_percentile(accuracy=1000) guarantees rank error ≤ 1/1000.
    Assert each approx quantile lies within the exact [q-1%, q+1%] rank
    bracket computed by the oracled exact percentile beside it."""
    from pyspark.sql import functions as F

    from training_feed_kinesis_spark.tables import load_table

    ev = load_table(spark, SF_DIR, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, 0.5, 1000)").alias("a50"),
            F.expr("approx_percentile(value, 0.95, 1000)").alias("a95"),
            F.expr("percentile(value, 0.49)").alias("lo50"),
            F.expr("percentile(value, 0.51)").alias("hi50"),
            F.expr("percentile(value, 0.94)").alias("lo95"),
            F.expr("percentile(value, 0.96)").alias("hi95"),
        )
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert r["lo50"] <= r["a50"] <= r["hi50"], f"{r['event_type']} p50: {r}"
        assert r["lo95"] <= r["a95"] <= r["hi95"], f"{r['event_type']} p95: {r}"


def test_theta_setops_bounded_error(spark):
    """Theta sketch set-operation estimates must land within 5% of the
    exact distinct counts at this sketch size / cardinality."""
    from training_feed_kinesis_spark.registry import load_all

    reg = load_all()
    r = reg["agg_theta_setops"].fn(spark, SF_DIR).collect()[0]
    for est, exact in [
        (r.est_purchasers, r.n_purchasers),
        (r.est_clickers, r.n_clickers),
        (r.est_union, r.n_union),
        (r.est_intersection, r.n_intersection),
        (r.est_difference, r.n_difference),
    ]:
        assert exact == 0 or abs(est - exact) / exact <= 0.05, (est, exact)


def test_winnow_long_branch_equivalence(spark, duck, monkeypatch):
    """llm_winnow gates on doc length: ≤64Ki chars row-local, longer via
    streaming posexplode+window. Force EVERY doc through the long branch
    and it must still match the oracle exactly — proving the two branches
    are semantically identical (the r2 advisor's memory-bound fix cannot
    change results)."""
    from training_feed_kinesis_spark.operators import llm_dedup

    monkeypatch.setattr(llm_dedup, "_WINNOW_ROWLOCAL_MAX", 0)
    spec = _REGISTRY["llm_winnow"]
    assert_matches_oracle(spec.fn(spark, SF_DIR), duck, spec.oracle)


def test_registry_importable_without_spark_session():
    """The verify driver may import the contract surface BEFORE creating
    its SparkSession; any module-level Column construction (F.col at
    import time) would crash that import (caught once in wave 54 —
    Column builders must be lazy). Prove every operator module imports
    cleanly in a Spark-free subprocess."""
    import os
    import subprocess
    import sys

    r = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; sys.path.insert(0, '.');"
            "from training_feed_kinesis_spark.registry import load_all;"
            "assert len(load_all()) > 400",
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120,
    )
    assert r.returncode == 0, r.stderr[-2000:]


def test_no_python_file_names_a_fixed_checkout():
    """Scripts and tests find the repository from ``__file__``. A fixed
    absolute checkout path on ``sys.path`` or as a ``cwd`` makes a run
    from any other clone import or write that fixed checkout instead."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    fixed = re.compile(
        r"sys\.path\.insert\(\s*\d+\s*,\s*['\"]/|cwd\s*=\s*['\"]/"
    )
    hits = [
        str(path.relative_to(root))
        for path in sorted(root.rglob("*.py"))
        if not any(part.startswith(".") for part in path.relative_to(root).parts)
        and (str(root) in (text := path.read_text()) or fixed.search(text))
    ]
    assert not hits, hits


def test_pii_patterns_detect_planted_strings(spark):
    """dq_pii_census's patterns must actually FIRE on real PII shapes —
    the corpus census alone can't prove that (the synthetic text is
    clean). Planted fixtures: one true positive per pattern plus a clean
    control, matched via the same Spark rlike path the census uses."""
    from pyspark.sql import functions as F

    from training_feed_kinesis_spark.operators.ops_wave92 import PII_PATTERNS

    planted = {
        "id_digit_run6": ("id 123456789 here", "id 12345 here"),
        "email": ("contact jane.doe+x@example.co.uk now", "jane at example"),
        "phone_intl": ("call +1 555 867 5309", "call 555"),
    }
    df = spark.createDataFrame(
        [(k, pos, neg) for k, (pos, neg) in planted.items()],
        "pattern string, pos string, neg string",
    )
    for key, pat in PII_PATTERNS.items():
        row = (
            df.filter(F.col("pattern") == key)
            .select(
                F.col("pos").rlike(pat).alias("hit_pos"),
                F.col("neg").rlike(pat).alias("hit_neg"),
            )
            .collect()[0]
        )
        assert (row["hit_pos"], row["hit_neg"]) == (True, False), (key, row)


def test_pii_census_nonvacuous(spark):
    """The census must be reading real columns: customer names carry a
    9-digit id (digit-run fires on EVERY row) while the synthetic
    documents contain no emails — both facts asserted so a wrong column
    binding or dead regex can't pass silently."""
    from training_feed_kinesis_spark.registry import load_all

    rows = {
        (r["field"], r["pattern"]): (r["n_rows"], r["n_hits"])
        for r in load_all()["dq_pii_census"].fn(spark, SF_DIR).collect()
    }
    n, hits = rows[("customer.c_name", "id_digit_run6")]
    assert n > 0 and hits == n, rows
    n, hits = rows[("documents.text", "email")]
    assert n > 0 and hits == 0, rows
