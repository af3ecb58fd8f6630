"""Projected-magnitude seam lint (VERDICT r10 item 3; SURVEY §5.3.9).

The ROUND-magnitude seam threshold is DATA-SCALE-DEPENDENT: DuckDB's
ROUND(x, 4) rounds the float product x·10⁴, so

  * a value NOT on a ≤1e-4 decimal grid starts flipping around
    |x| ≈ 5e8 (product grid ~1e-3 > the .5 decision margin);
  * even a perfectly grid-disciplined value (exact integer-quantized
    moment, x = N/10^k, k ≤ 4) flips once the integer product
    N·10^(4−k) exceeds 2^53 — i.e. |x| ≳ 2^53/10⁴ ≈ 9.0e11, the
    ABSOLUTE bound no spelling discipline survives under a terminal
    ROUND.

A float SUM that is 1e7 at sf0.1 crosses 5e8 at ~50× and 9e11 at the
100 TB target (~6e6 × sf0.1, ~7 decades), so "safe at the tested SF"
is not a stable property. This lint runs every oracled key's DuckDB
oracle at sf0.01 AND sf0.1 (the oracle hash-matches Spark, so the
magnitudes are the engine's magnitudes), measures each ROUND-emitted
float column's max |value| growth across that decade, classifies it
GROWER (SUM/COUNT-driven, grows with data) vs BOUNDED (ratio/mean/
percentile), extrapolates growers 7 more decades, and flags:

  * PROJ_HARD:  projected ≥ 9.0e11 — crosses the absolute product-2^53
                bound; must be re-spelled to UNROUNDED emission of an
                exact-moment-derived value (the agg_stats pattern);
  * NOW_SOFT:   already ≥ 5e8 at sf0.1 and not in the audited
                exact-grid allowlist (regression guard over the r10
                static audit).

Usage: python scripts/magnitude_lint.py [--json] [key ...]
Exit 1 if any flag fires outside the allowlist.
"""

from __future__ import annotations

import json
import math
import re
import sys

sys.path.insert(0, "/root/repo")

from training_feed_kinesis_spark.oracle import connect
from training_feed_kinesis_spark.registry import load_all

import os

# Default: the authoritative per-round audit pair. The pytest pin
# (tests/test_magnitude_lint.py) runs the cheaper (sf0.001, sf0.01)
# pair — facts still scale 10x there — with one extra projection decade.
SF_LO = os.environ.get("TFK_LINT_LO", "/root/testdata/sf0.01")
SF_HI = os.environ.get("TFK_LINT_HI", "/root/testdata/sf0.1")

GROWTH_MIN = 4.0      # max|col| ratio across the lo→hi decade that
                      # marks a SUM/COUNT-driven grower (linear = ~10,
                      # sqrt = ~3.2; ratios below this are bounded stats)
# sf0.1 (~17 MB) → 100 TB ≈ 6e6x ≈ 7 decades
DECADES_TO_TARGET = int(os.environ.get("TFK_LINT_DECADES", "7"))
HARD_BOUND = 2**53 / 1e4   # ≈ 9.0e11: product-2^53, no discipline survives
SOFT_BOUND = 5e8           # non-grid flip onset (r10 bit-level probe)

# Columns ≥ 5e8 at sf0.1 hand-verified exact-grid by the r10 static
# audit (SURVEY §5.3.9: integer-cents quotients whose product N·100
# stays far below 2^53 at tested SFs). Keyed (key, column).
AUDITED_EXACT_GRID: set[tuple[str, str]] = {
    # filled from the r10 audit as the lint surfaces them; kept empty on
    # purpose until a column actually needs the exemption — see run
    # output in SURVEY §5.3.9.
}


def _terminal_call_span(oracle: str, i: int) -> tuple[str, int, int] | None:
    """Expression ending at index i (inclusive): if it is `NAME( ... )`,
    return (NAME, inner_start, inner_end). None otherwise."""
    if i < 0 or oracle[i] != ")":
        return None
    depth = 0
    j = i
    while j >= 0:
        if oracle[j] == ")":
            depth += 1
        elif oracle[j] == "(":
            depth -= 1
            if depth == 0:
                break
        j -= 1
    if j < 0:
        return None
    m = re.search(r"(\w+)\s*$", oracle[max(0, j - 24):j])
    if not m:
        return None
    return m.group(1).upper(), j + 1, i - 1


def _ends_in_round(oracle: str, i: int) -> bool:
    """Expression ending at index i terminates in ROUND(...), possibly
    wrapped in casts — `ROUND(x,4)`, `CAST(ROUND(x,4) AS DOUBLE)`, or
    `ROUND(x,4)::DOUBLE` (ADVICE r11: cast wrappers must not let a
    terminal round evade the grower lint)."""
    # strip a trailing ::TYPE postfix-cast chain (DuckDB spelling)
    while True:
        m = re.search(r"::\s*\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?\s*$",
                      oracle[: i + 1])
        if not m:
            break
        i = m.start() - 1
        while i >= 0 and oracle[i].isspace():
            i -= 1
    span = _terminal_call_span(oracle, i)
    if span is None:
        return False
    name, lo, hi = span
    if name == "ROUND":
        return True
    if name in ("CAST", "TRY_CAST"):
        # inner is `<expr> AS TYPE`: recurse on <expr>
        inner = oracle[lo : hi + 1]
        m = re.search(r"\s+AS\s+\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?\s*$",
                      inner, re.IGNORECASE)
        if not m:
            return False
        k = lo + m.start() - 1
        while k >= lo and oracle[k].isspace():
            k -= 1
        return _ends_in_round(oracle, k)
    return False


def _is_rounded(col: str, oracle: str) -> bool:
    """Does a TERMINAL ROUND(...) feed the alias `col` — directly or
    through cast wrappers? Walks backwards from each `AS col` over the
    matching parentheses: the seam only bites when the emitted value
    itself passes through ROUND — a quantization ROUND(x·10^k, 0) deep
    inside an exact-moment construction is precisely the SAFE pattern
    and must not flag."""
    for m in re.finditer(rf"\bAS\s+{re.escape(col)}\b", oracle, re.IGNORECASE):
        i = m.start() - 1
        while i >= 0 and oracle[i].isspace():
            i -= 1
        if _ends_in_round(oracle, i):
            return True
    return False


def _maxabs_floats(con, sql: str) -> dict[str, float]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    out: dict[str, float] = {}
    for idx, c in enumerate(cols):
        mx = None
        for r in rows:
            v = r[idx]
            if isinstance(v, float) and not (math.isnan(v) or math.isinf(v)):
                a = abs(v)
                mx = a if mx is None else max(mx, a)
        if mx is not None:
            out[c] = mx
    return out


def main() -> int:
    as_json = "--json" in sys.argv[1:]
    only = [a for a in sys.argv[1:] if not a.startswith("--")]
    reg = load_all()

    # r13 (pytest-budget item): the serial sweep was ~51 s wall for ~45 s
    # of DuckDB time spread flat over 581 oracles × 2 SFs. Keys are
    # independent read-only queries over parquet views, and duckdb
    # releases the GIL during execute — a small thread pool with
    # THREAD-LOCAL connections (duckdb connections are not thread-safe
    # to share) overlaps them. Results identical: same oracles, same
    # max|.| fold, order-independent.
    import threading
    from concurrent.futures import ThreadPoolExecutor

    tls = threading.local()

    def _cons():
        if not hasattr(tls, "cons"):
            tls.cons = {sf: connect(sf) for sf in (SF_LO, SF_HI)}
            for con in tls.cons.values():
                # cap per-connection parallelism: 4 pool workers × the
                # default threads=n_cores thrashed (measured 51 → 109 s,
                # sys time 15 min); 4 × 8 = one core set, no contention
                con.execute("SET threads=8")
        return tls.cons

    def _probe(item):
        key, spec = item
        cons = _cons()
        try:
            lo = _maxabs_floats(cons[SF_LO], spec.oracle)
            hi = _maxabs_floats(cons[SF_HI], spec.oracle)
            return key, spec, lo, hi, None
        except Exception as e:  # noqa: BLE001 — lint must survey everything
            return key, spec, None, None, str(e).splitlines()[0][:120]

    items = [
        (key, spec)
        for key, spec in reg.items()
        if spec.oracle is not None and not (only and key not in only)
    ]
    with ThreadPoolExecutor(max_workers=4) as pool:
        probed = list(pool.map(_probe, items))

    findings = []
    errors = []
    for key, spec, lo, hi, err in probed:
        if err is not None:
            errors.append((key, err))
            continue
        for col, mhi in hi.items():
            mlo = lo.get(col)
            if mlo is None or mhi <= 0:
                continue
            rounded = _is_rounded(col, spec.oracle)
            ratio = (mhi / mlo) if mlo > 0 else float("inf")
            grower = ratio >= GROWTH_MIN
            per_decade = min(ratio, 10.0) if math.isfinite(ratio) else 10.0
            proj = mhi * (per_decade ** DECADES_TO_TARGET) if grower else mhi
            flag = None
            if rounded and grower and proj >= HARD_BOUND:
                flag = "PROJ_HARD"
            elif (
                rounded
                and mhi >= SOFT_BOUND
                and (key, col) not in AUDITED_EXACT_GRID
            ):
                flag = "NOW_SOFT"
            if flag:
                findings.append(
                    {
                        "key": key,
                        "column": col,
                        "flag": flag,
                        "max_sf001": round(mlo, 4),
                        "max_sf01": round(mhi, 4),
                        "decade_ratio": round(ratio, 2),
                        "projected_100tb": f"{proj:.3e}",
                    }
                )

    if as_json:
        print(json.dumps({"findings": findings, "errors": errors}, indent=1))
    else:
        for f in findings:
            print(
                f"{f['flag']:9s} {f['key']}.{f['column']}: "
                f"sf0.01={f['max_sf001']} sf0.1={f['max_sf01']} "
                f"ratio={f['decade_ratio']} proj={f['projected_100tb']}"
            )
        for k, e in errors:
            print(f"ERROR     {k}: {e}")
        print(f"{len(findings)} findings, {len(errors)} oracle errors")
    # ADVICE r11: an oracle that errors is a key silently DROPPED from
    # magnitude coverage — that must fail the run, not just the pytest
    # wrapper's string assertion.
    return 1 if (findings or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
