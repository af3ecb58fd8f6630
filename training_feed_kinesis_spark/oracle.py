"""The oracle check, in one place: DuckDB views over a fixture dir, and
the order-insensitive comparison of ``queries()`` against ``oracle_sql()``
results by a hash of their values.

The comparison is HASH-FAITHFUL. ``repr`` is the shortest round-trip
spelling of a float: full precision, and ``-0.0`` is not ``0.0``. Floats
and bools both become ``repr`` strings, so ``True``, ``4`` and ``4.0``
are three distinct values, as they are in a value hash. A rounded
comparison would call ``-0.0`` and ``0.0`` equal where a hash does not
(``llm_dsir_weight`` at its final ROUND).
"""

from __future__ import annotations

import datetime
import math

import numpy as np
import pandas as pd

from .tables import TABLES


class _FloatRepr(str):
    """A float's ``repr``: equal to, hashed and sorted as the plain string,
    but marked so a tolerant compare knows the cell was a float."""

    __slots__ = ()


def norm(v):
    """One cell in the canonical form the value hash sees."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else _FloatRepr(repr(f))
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


def canon(pdf: pd.DataFrame) -> tuple[list, list]:
    """Sorted column names, and the rows in canonical form sorted by repr."""
    cols = sorted(pdf.columns)
    rows = (tuple(norm(r[c]) for c in cols) for r in pdf.to_dict("records"))
    return cols, sorted(rows, key=repr)


def _same(a, e, float_tol: float) -> bool:
    if a == e:
        return True
    if not float_tol:
        return False
    if isinstance(a, tuple) and isinstance(e, tuple):
        return len(a) == len(e) and all(
            _same(x, y, float_tol) for x, y in zip(a, e)
        )
    if isinstance(a, _FloatRepr) and isinstance(e, _FloatRepr):
        # a few ulps too: DECIMAL/HUGEINT -> DOUBLE of the same exact
        # integer can differ by 1 ulp between the engines above 2^53
        x, y = float(a), float(e)
        ulps = 4 * math.ulp(max(abs(x), abs(y), 1.0))
        return abs(x - y) <= max(float_tol, ulps)
    return False


def mismatch(
    actual: pd.DataFrame, expected: pd.DataFrame, float_tol: float = 0.0
) -> str | None:
    """``None`` when ``actual`` (Spark) matches ``expected`` (DuckDB), else a
    one-line reason. ``float_tol=0`` is the exact check. A fuzzed
    query passes a small tolerance, applied only to cells that are floats
    on both sides: a sum landing on a ROUND(x, 4) boundary can round
    differently under another reduction order."""
    ac, ar = canon(actual)
    ec, er = canon(expected)
    if ac != ec:
        return f"columns spark={ac} oracle={ec}"
    if len(ar) != len(er):
        return f"row count spark={len(ar)} oracle={len(er)}"
    bad = [(a, e) for a, e in zip(ar, er) if not _same(a, e, float_tol)]
    if not bad:
        return None
    return f"{len(bad)}/{len(ar)} rows differ; first 3: " + "; ".join(
        f"spark={a} oracle={e}" for a, e in bad[:3]
    )


def connect(sf_dir: str):
    """A DuckDB connection with one view per table file in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
