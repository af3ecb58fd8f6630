"""Simulate the verify driver: plain SparkSession (none of our confs),
run entry() at sf0.001, then every queries()[k] at sf0.01 vs oracle_sql()[k]
through DuckDB views — order-insensitive value compare. Usage:
    python scripts/driver_sim.py [key ...]
    python scripts/driver_sim.py --chunk 150 [key ...]

--chunk N runs the sweep in fresh JVMs of N keys each. A 555-key sweep
at sf0.1 in ONE JVM exhausts the default heap around key ~300 even with
the every-25-keys cache clear (observed round 6: OOM on llm_winnow_pairs
after 305 greens — accumulated broadcast/state/codegen residue, not any
single key; every key passes in a fresh JVM). The REAL driver runs only
a 50-key window per round, so per-key fidelity is what matters; chunking
bounds JVM lifetime without changing any per-key behavior.
"""
import sys, math, time
sys.path.insert(0, "/root/repo")

import os as _os
SF = _os.environ.get("TFK_SIM_SF_DIR", "/root/testdata/sf0.01")

if "--chunk" in sys.argv[1:]:
    # --chunk must be argv[1] with an integer argument; anywhere else it
    # would silently be treated as an operator key (and `--chunk` with no
    # N used to fall through to normal mode the same way) — fail loudly.
    if (
        sys.argv[1] != "--chunk"
        or len(sys.argv) < 3
        or not sys.argv[2].lstrip("-").isdigit()
        or int(sys.argv[2]) <= 0
    ):
        sys.exit(f"usage: {sys.argv[0]} [--chunk N] [key ...]  (N > 0)")
    import subprocess
    _n = int(sys.argv[2])
    _keys = sys.argv[3:]
    if not _keys:
        from training_feed_kinesis_spark import registry as _reg
        _keys = sorted(_reg.load_all())
    _bad = 0
    for _j in range(0, len(_keys), _n):
        _chunk = _keys[_j:_j + _n]
        _rc = subprocess.call(
            [sys.executable, _os.path.abspath(__file__), *_chunk]
        )
        print(
            f"--- chunk {_j // _n + 1}: keys {_j + 1}..{_j + len(_chunk)}"
            f" rc={_rc} ---",
            flush=True,
        )
        _bad += 1 if _rc else 0
    sys.exit(1 if _bad else 0)

import duckdb
from pyspark.sql import SparkSession
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def norm(v):
    import numpy as np, pandas as pd, datetime
    if v is None or (isinstance(v, float) and math.isnan(v)): return None
    # HASH-FAITHFUL (r13, VERDICT r12 item 2): the old round(f + 0.0, 6)
    # erased signed zeros and 7th-digit drift that the real driver's value
    # hash catches — it approved a "597/597 green" sweep over a key the
    # driver marked red (llm_dsir_weight, -0.0 vs +0.0 at the final
    # ROUND). repr() is the shortest round-trip representation: full
    # precision, and it spells -0.0 differently from 0.0. bool/float both
    # normalize to repr strings so True/4/4.0 are three distinct values,
    # matching the driver's representation-strict hash (tests/conftest
    # _num_class rationale).
    if isinstance(v, (bool, np.bool_)): return repr(bool(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else repr(f)
    if isinstance(v, np.integer): return int(v)
    if isinstance(v, pd.Timestamp): return None if v is pd.NaT else v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)): return v.isoformat()
    if isinstance(v, (np.ndarray, list, tuple)): return tuple(norm(x) for x in v)
    if isinstance(v, dict): return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v

def canon(pdf):
    cols = sorted(pdf.columns)
    return cols, sorted((tuple(norm(r[c]) for c in cols) for r in pdf.to_dict("records")), key=repr)

spark = SparkSession.builder.master("local[8]").config("spark.ui.enabled","false") \
    .config("spark.ui.showConsoleProgress","false").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
from training_feed_kinesis_spark import tables

rows = e.entry(spark).collect()
print(f"entry(): {len(rows)} rows  first={rows[0]}")
assert len(rows) > 0

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs, os_ = e.queries(), e.oracle_sql()
keys = sys.argv[1:] or sorted(qs)
fails = 0
for i, k in enumerate(keys):
    if i and i % 25 == 0:
        # a full-registry sweep runs 400+ operators in ONE JVM; cached
        # frames some operators legitimately create (shared edge sets,
        # sketch materializations) accumulate until the heap OOMs
        # (observed at sf0.1 around key ~255). Clearing the cache
        # periodically keeps WITHIN-key reuse while bounding the total;
        # anything cleared just recomputes lazily on next use. The
        # substrate memo goes too, or its entries would point at evicted
        # caches (recomputed per use instead of rebuilt once).
        spark.catalog.clearCache()
        tables._SUBSTRATE_MEMO.clear()
    t0 = time.time()
    try:
        pdf = qs[k](spark, SF).toPandas()
        if k in os_:
            exp = con.execute(os_[k]).fetchdf()
            ac, ar = canon(pdf); ec, er = canon(exp)
            status = "MATCH" if (ac == ec and len(ar) == len(er) and ar == er) else "MISMATCH"
            if status == "MISMATCH":
                fails += 1
                print(f"  cols spark={ac} oracle={ec} rows {len(ar)}/{len(er)}")
                for a, b in list(zip(ar, er))[:3]:
                    if a != b: print(f"  spark={a}\n  oracle={b}")
        else:
            status = f"ROWS-ONLY({len(pdf)})"
    except Exception as ex:
        status, fails = f"ERROR {type(ex).__name__}: {str(ex)[:200]}", fails + 1
    # release_after lifetime contract (tables.py): never retain result
    # references across keys — a sweep that accumulates them pins every
    # weakref-finalized intermediate cache alive for the whole run
    pdf = exp = None
    print(f"{k:24s} {status:14s} {time.time()-t0:5.1f}s")
print(f"\n{len(keys)-fails}/{len(keys)} ok")
sys.exit(1 if fails else 0)
