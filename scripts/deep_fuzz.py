"""Deep differential fuzz runner: fresh-seed tranches of the
tests/test_fuzz.py generators (eight: query, join, window, setop,
having, composite +30k, subquery +40k, frame +50k — each applies its
own seed base), Spark vs DuckDB, outside the CI budget.

The CI suite pins small seed ranges (0..N per generator) so the
regression cost stays bounded; the deep pass that found the HAVING
generator's bare-CAST divergence (round 6, composite seeds 400-999) was
run ad-hoc. This script mechanizes it so every round can sweep a fresh
tranche with one command and record the range it covered:

    python scripts/deep_fuzz.py --start 1000 --count 150
    python scripts/deep_fuzz.py --gens having,composite --count 500

Seeds are offsets into each generator's own seed space (the generators
apply their own bases: join +10k, window +20k, composite +30k), so
``--start`` here continues the same numbering the CI ranges use.
Failures print the generator, seed, SQL, and the comparator's first
mismatched rows, and the run exits 1; the comparator is the one the CI
fuzz uses, ``training_feed_kinesis_spark.oracle.mismatch`` with
float_tol=2e-4 for ROUND-boundary reduction-order flips (SURVEY §5.4).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests import test_fuzz as tf  # noqa: E402
from training_feed_kinesis_spark import oracle  # noqa: E402
from training_feed_kinesis_spark.session import build_session  # noqa: E402
from training_feed_kinesis_spark.tables import load_table  # noqa: E402

# Superset of every table any generator references.
_VIEW_TABLES = ("lineitem", "orders", "customer", "events")

GENERATORS = {
    "query": tf.gen_query,
    "join": tf.gen_join_query,
    "window": tf.gen_window_query,
    "setop": tf.gen_setop_query,
    "having": tf.gen_having_query,
    "composite": tf.gen_composite_query,
    "subquery": tf.gen_subquery_query,
    "frame": tf.gen_frame_query,
    "magnitude": tf.gen_magnitude_query,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--start", type=int, default=1000, help="first seed offset")
    ap.add_argument("--count", type=int, default=150, help="seeds per generator")
    ap.add_argument(
        "--gens",
        default=",".join(GENERATORS),
        help="comma-separated subset of: " + ", ".join(GENERATORS),
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("TFK_TEST_SF_DIR", "/root/testdata/sf0.001"),
    )
    args = ap.parse_args()
    gens = [g.strip() for g in args.gens.split(",") if g.strip()]
    unknown = [g for g in gens if g not in GENERATORS]
    if unknown:
        ap.error(f"unknown generator(s): {unknown}")

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = build_session("tfk-deepfuzz")
    for t in _VIEW_TABLES:
        load_table(spark, args.sf_dir, t).createOrReplaceTempView(t)
    duck = oracle.connect(args.sf_dir)

    failures: list[tuple[str, int, str, str]] = []
    ran = 0
    for name in gens:
        gen = GENERATORS[name]
        for seed in range(args.start, args.start + args.count):
            sql = gen(seed)
            ran += 1
            reason = oracle.mismatch(
                spark.sql(sql).toPandas(), duck.execute(sql).fetchdf(), float_tol=2e-4
            )
            if reason:
                failures.append((name, seed, sql, reason))
                print(f"FAIL {name} seed={seed}\n  {sql}\n  {reason}\n")
        print(f"{name:<10} seeds {args.start}..{args.start + args.count - 1} "
              f"done ({len([f for f in failures if f[0] == name])} fail)")

    print(f"\n{ran} cases, {len(failures)} failures "
          f"(gens={','.join(gens)}, start={args.start}, count={args.count})")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
