"""CLI for the registry-wide DuckDB-vs-Spark type-parity lint.

See training_feed_kinesis_spark/typelint.py for the classification rules and
SURVEY.md §5.3 rule 8 for the discipline this enforces.

Run: python scripts/type_parity_lint.py [--sf-dir DIR] [--keys k1 k2 ...]
Exit 1 on any mismatch; prints one line per offending (key, column).
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("TFK_TEST_SF_DIR", "/root/testdata/sf0.001"),
    )
    ap.add_argument("--keys", nargs="*", help="restrict to these keys")
    args = ap.parse_args()

    from training_feed_kinesis_spark.oracle import connect
    from training_feed_kinesis_spark.registry import load_all
    from training_feed_kinesis_spark.session import build_session
    from training_feed_kinesis_spark.typelint import lint_registry

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = build_session("type-parity-lint")
    con = connect(args.sf_dir)

    n_checked, bad, errs = lint_registry(
        spark, con, load_all(), args.sf_dir, keys=args.keys
    )
    print(f"checked {n_checked} oracled keys")
    for line in errs:
        print("ERR ", line)
    for line in bad:
        print("FAIL", line)
    if bad or errs:
        print(f"\n{len(bad)} type-parity mismatches, {len(errs)} bind errors")
        return 1
    print("all green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
