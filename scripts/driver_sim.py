"""Simulate the verify driver: plain SparkSession (none of our confs),
run entry() at sf0.001, then every queries()[k] at sf0.01 vs oracle_sql()[k]
through DuckDB views, compared by ``training_feed_kinesis_spark.oracle``
(order-insensitive, hash-faithful). Usage:
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
import sys, time
import os as _os
sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

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

from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").config("spark.ui.enabled","false") \
    .config("spark.ui.showConsoleProgress","false").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as e
from training_feed_kinesis_spark import oracle, tables

rows = e.entry(spark).collect()
print(f"entry(): {len(rows)} rows  first={rows[0]}")
assert len(rows) > 0

con = oracle.connect(SF)

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
            reason = oracle.mismatch(pdf, exp)
            status = "MISMATCH" if reason else "MATCH"
            if reason:
                fails += 1
                print(f"  {reason}")
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
