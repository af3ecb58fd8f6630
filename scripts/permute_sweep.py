"""Physical row-order permutation sweep — the r9 campaign tool.

The r8 driver run proved a class the clean-data sweeps cannot see:
``llm_dsir_weight`` hash-FAILED at the driver while MATCHing locally,
because ``ROUND(AVG(double), 4)`` depends on float accumulation order,
which depends on physical row order / partitioning — a knife-edge doc
flips the 4th decimal per RUN. Any key whose terminal values pass
through an order-sensitive float reduction carries the same latent risk.

This tool hunts the class mechanically: rewrite every table at sf0.01 in
a seeded-random physical order, then run the full oracled registry
(Spark vs DuckDB, both over the SAME permuted dir) via driver_sim. The
engines cannot coordinate their accumulation orders, so a knife-edge
that the clean fixture happens to sit on flips one engine and not the
other. Different seeds roll different knife-edge placements.

Usage:
    python scripts/permute_sweep.py [seed ...]      # default seeds 1 2
    python scripts/permute_sweep.py 7 --keys k1 k2  # subset of keys
"""

import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from training_feed_kinesis_spark.tables import TABLES  # noqa: E402
SRC = os.environ.get("TFK_PERMUTE_SRC", "/root/testdata/sf0.01")


def make_permuted_dir(seed: int) -> str:
    out = f"/tmp/tfk_permuted_s{seed}_{os.path.basename(SRC)}"
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        dst = f"{out}/{t}.parquet"
        # ALWAYS rebuild, via temp-name + atomic rename (ADVICE r9): an
        # `if exists: continue` reused an interrupted prior run's partial
        # parquet — or a permuted dir built from a since-regenerated
        # source fixture — silently sweeping against stale data. The
        # rebuild costs seconds at sf0.01; a stale-data verdict costs a
        # round.
        tmp = f"{dst}.tmp.{os.getpid()}"
        # deterministic permutation: order by a keyed hash of the whole
        # row text + seed (md5 of CSV-ish concat; collisions only make
        # the order locally arbitrary, which is the point anyway)
        duckdb.execute(
            f"""
            COPY (
              SELECT * FROM read_parquet('{SRC}/{t}.parquet') _r
              ORDER BY md5(CONCAT('{seed}', '|', _r::VARCHAR))
            ) TO '{tmp}' (FORMAT PARQUET)
            """
        )
        os.replace(tmp, dst)
    return out


def main() -> int:
    argv = sys.argv[1:]
    keys: list[str] = []
    if "--keys" in argv:
        i = argv.index("--keys")
        keys = argv[i + 1 :]
        argv = argv[:i]
    seeds = [int(a) for a in argv] or [1, 2]
    rc = 0
    for seed in seeds:
        d = make_permuted_dir(seed)
        print(f"=== permutation seed {seed}: {d} ===", flush=True)
        env = dict(os.environ, TFK_SIM_SF_DIR=d)
        r = subprocess.call(
            [
                sys.executable,
                os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "driver_sim.py"),
                *keys,
            ],
            env=env,
        )
        print(f"=== seed {seed} rc={r} ===", flush=True)
        rc |= r
    return rc


if __name__ == "__main__":
    sys.exit(main())
