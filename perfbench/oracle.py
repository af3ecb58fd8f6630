"""Output verification against the registry's DuckDB oracles.

``norm`` and ``canon`` are a minimal copy of the hash-faithful comparison
rules in ``scripts/driver_sim.py`` (floats compared by full-precision
``repr``, so signed zeros and last-digit drift count as mismatches). That
script starts a SparkSession when imported, so it cannot be imported here.
Fold this copy away once the repository has one shared comparator module
(ROADMAP direction D).
"""

from __future__ import annotations

import datetime
import math
import os

import numpy as np
import pandas as pd


def norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else repr(f)
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return None if v is pd.NaT else v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def canon(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Order-insensitive canonical form: sorted column names and sorted
    normalized rows."""
    cols = sorted(pdf.columns)
    rows = sorted(
        (tuple(norm(r[c]) for c in cols) for r in pdf.to_dict("records")), key=repr
    )
    return cols, rows


def same(a: tuple[list[str], list[tuple]], b: tuple[list[str], list[tuple]]) -> str | None:
    """``None`` when the canonical forms agree, else a one-line reason."""
    (ac, ar), (bc, br) = a, b
    if ac != bc:
        return f"columns {ac} != {bc}"
    if len(ar) != len(br):
        return f"rows {len(ar)} != {len(br)}"
    for x, y in zip(ar, br):
        if x != y:
            return f"first differing row {x} != {y}"
    return None


class Oracle:
    """DuckDB views over every table present in one input directory."""

    def __init__(self, input_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(input_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(input_dir, f)
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )

    def check(self, sql: str, actual: tuple[list[str], list[tuple]]) -> str | None:
        return same(actual, canon(self.con.execute(sql).fetchdf()))

    def close(self) -> None:
        self.con.close()
