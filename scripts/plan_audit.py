"""Dump physical-plan audits for the headline queries into PLANS.md.

Usage: python scripts/plan_audit.py

For each bench headline query: the physical operator tree plus the
scale-relevant scan details (PushedFilters / ReadSchema / Bucketed), so
plan quality is reviewable without running Spark. Regenerate after plan-
affecting changes; tests/test_plans.py asserts the load-bearing properties
mechanically.
"""

import contextlib
import io
import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from bench import HEADLINE  # noqa: E402
from training_feed_kinesis_spark.registry import load_all  # noqa: E402
from training_feed_kinesis_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    spark = build_session("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python scripts/plan_audit.py` at sf0.01 "
        f"(plan SHAPE is sf-independent; AQE may still swap join strategies "
        f"at runtime based on actual sizes).",
        "",
    ]
    for key in HEADLINE:
        df = reg[key].fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("\n\n")[0]
        details = []
        for m in re.finditer(r"(PushedFilters|ReadSchema|Bucketed): .*", plan):
            line = m.group(0)
            details.append(line if len(line) <= 150 else line[:147] + "...")
        out += [f"## {key}", "", "```", tree.strip(), "```", ""]
        if details:
            out += ["Scan details:", ""]
            out += [f"- `{d}`" for d in details]
            out += [""]
    with open(os.path.join(_ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
