"""Dump full `.explain("formatted")` output for every bench query into
plans/<round>/<key>_{before,after}.txt — the optimization-round evidence files.

Usage: python scripts/plan_dump.py <round> {before|after} [key ...]
       (e.g. ``python scripts/plan_dump.py r13 before``)

With no keys, dumps the whole HEADLINE + TIER2 set. Plans are captured at
sf0.1 (the bench scale) so AQE thresholds and statistics match what the
bench runs; plan SHAPE is what the files document.
"""

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.environ.get("TFK_TREE", REPO))

from bench import HEADLINE, TIER2  # noqa: E402
from training_feed_kinesis_spark.registry import load_all  # noqa: E402
from training_feed_kinesis_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rnd = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    assert suffix in ("before", "after"), suffix
    keys = sys.argv[3:] or (HEADLINE + TIER2)
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(f"plan-dump-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    for key in keys:
        if key not in reg:
            print(f"skip {key}: not registered")
            continue
        df = reg[key].fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
