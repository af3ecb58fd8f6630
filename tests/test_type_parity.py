"""Registry-wide type-parity lint (VERDICT r2 item 2) + comparator strictness.

Guards the recurring driver-hash artifact class: numerically-identical values
whose pandas representations differ (DuckDB HUGEINT/DECIMAL/FLOOR -> float64
vs Spark BIGINT -> int64). Three driver fails across r1/r2 were this class;
the lint catches it for ALL oracled keys without executing a single query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from training_feed_kinesis_spark import oracle
from training_feed_kinesis_spark.registry import load_all
from training_feed_kinesis_spark.typelint import (
    classes_compatible,
    duck_class,
    lint_registry,
    spark_class,
)

from .conftest import SF_DIR


def test_registry_type_parity(spark, duck, registry_frames):
    """Every oracled key's Spark schema must be pandas-representation
    compatible with its DuckDB oracle's bound types (no execution).
    Plans come pre-built from the shared session fixture (r13: this
    sweep alone re-built all ~580 plans serially, ~200 s)."""
    n, bad, errs = lint_registry(
        spark, duck, load_all(), SF_DIR, frames=registry_frames
    )
    assert n > 300, f"lint only bound {n} keys — registry import broken?"
    assert not errs, "oracle-bind/plan-build errors:\n" + "\n".join(errs)
    assert not bad, "type-parity mismatches:\n" + "\n".join(bad)


def test_lint_catches_hugeint_widening(spark, duck):
    """Intentionally-broken fixture: SUM over BIGINT widens to HUGEINT in
    DuckDB (pandas float64) while Spark sum(bigint) stays BIGINT — the lint
    must flag it, and the cast spelling must pass."""
    import pyspark.sql.functions as F

    from training_feed_kinesis_spark.registry import QuerySpec
    from training_feed_kinesis_spark.tables import load_table

    def fn(s, d):
        return (
            load_table(s, d, "orders")
            .groupBy("o_orderstatus")
            .agg(F.sum("o_custkey").alias("s"))
        )

    broken = {
        "x": QuerySpec(
            key="x",
            fn=fn,
            oracle="SELECT o_orderstatus, SUM(o_custkey) AS s "
            "FROM orders GROUP BY o_orderstatus",
            category="fixture",
        )
    }
    n, bad, errs = lint_registry(spark, duck, broken, SF_DIR)
    assert n == 1 and not errs
    assert bad == ["x.s: spark=int duck=float"]

    fixed = {
        "x": QuerySpec(
            key="x",
            fn=fn,
            oracle="SELECT o_orderstatus, CAST(SUM(o_custkey) AS BIGINT) AS s "
            "FROM orders GROUP BY o_orderstatus",
            category="fixture",
        )
    }
    n, bad, errs = lint_registry(spark, duck, fixed, SF_DIR)
    assert n == 1 and not bad and not errs


def test_classifier_table():
    assert duck_class("HUGEINT") == "float"
    assert duck_class("DECIMAL(18,2)") == "float"
    assert duck_class("BIGINT") == "int"
    assert duck_class("BIGINT[]") == ("array", "int")
    assert duck_class("DATE") == "ts"  # fetchdf -> datetime64 midnight
    assert duck_class("TIMESTAMP") == "ts"

    from pyspark.sql import types as T

    assert spark_class(T.LongType()) == "int"
    assert spark_class(T.DoubleType()) == "float"
    assert spark_class(T.DecimalType(18, 2)) == "decimal"
    assert spark_class(T.DateType()) == "date"  # object datetime.date — ≠ ts
    assert spark_class(T.ArrayType(T.LongType())) == ("array", "int")

    assert classes_compatible("ts", "ts")
    assert not classes_compatible("int", "float")
    assert not classes_compatible("date", "ts")
    assert not classes_compatible("decimal", "float")
    assert classes_compatible(("array", "int"), ("array", "int"))
    assert not classes_compatible(("array", "int"), ("array", "float"))


def _same(a, e, float_tol=0.0) -> bool:
    """Whether one-cell frames holding ``a`` and ``e`` match."""
    def cell(v):
        return pd.DataFrame({"c": pd.Series([v], dtype=object)})

    return oracle.mismatch(cell(a), cell(e), float_tol) is None


def test_comparator_is_representation_strict():
    """4 vs 4.0 vs True must NOT compare equal (the driver hashes them
    differently); equal representations still match, incl. nested arrays.
    A value hash sees a float's full ``repr``: the sign of a zero and the
    17th digit count. NaN and NULL are one value, and a tolerance reaches
    only cells that are floats on both sides."""
    assert not _same(4, 4.0)
    assert not _same(True, 1)
    assert not _same((1, 2.0), (1, 2))
    assert _same(4, 4)
    assert _same(4.0, 4.0)
    assert _same((1, 2.0, "a"), (1, 2.0, "a"))
    assert _same(None, None)
    assert _same(4.0, 4.00005, float_tol=1e-3)
    assert not _same(4.0, 4.01, float_tol=1e-3)
    assert not _same(-0.0, 0.0)
    assert not _same(0.30000000000000004, 0.3)
    assert _same(0.30000000000000004, 0.3, float_tol=1e-9)
    assert _same(float("nan"), None)
    assert not _same(np.array([1.0, -0.0]), np.array([1.0, 0.0]))
    assert not _same("0.3", "0.3001", float_tol=1e-3)
    assert not _same("0.3", 0.3001, float_tol=1e-3)


def test_comparator_reasons():
    """Rows match in any order; columns and row counts are named."""
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert oracle.mismatch(a, a.iloc[::-1]) is None
    assert oracle.mismatch(a, a.rename(columns={"v": "w"})).startswith("columns")
    assert oracle.mismatch(a, a.iloc[:1]).startswith("row count")
    assert oracle.mismatch(a, a.assign(v=[0.5, 2.5])).startswith("1/2 rows differ")
