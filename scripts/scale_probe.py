"""Cold/warm scale probe: run keys at sf0.1 and at the 5x dir
(/tmp/tfk_sf05, the r9 key-shifted 5-copy recipe) in ONE session,
print per-key cold/warm times + 5x warm factor. Usage:
    python scripts/scale_probe.py key [key ...]
Recipe matches the BASELINE.md r10/r11 tier-2 probes: cold = first run,
warm = immediate second run, same session (substrates/caches warm)."""
import os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "16g")
    .getOrCreate()
)
from training_feed_kinesis_spark.registry import load_all

REG = load_all()
KEYS = sys.argv[1:]
DIRS = [("sf0.1", "/root/testdata/sf0.1"), ("5x", "/tmp/tfk_sf05")]

results = {}
for tag, d in DIRS:
    for k in KEYS:
        fn = REG[k].fn
        t0 = time.time(); fn(spark, d).count(); cold = time.time() - t0
        t0 = time.time(); fn(spark, d).count(); warm = time.time() - t0
        results[(k, tag)] = (cold, warm)
        print(f"{k:32s} {tag:6s} cold={cold:7.2f}s warm={warm:7.2f}s", flush=True)

print()
print(f"{'key':32s} {'sf0.1 warm':>10s} {'5x warm':>10s} {'factor':>7s}")
for k in KEYS:
    w1 = results[(k, 'sf0.1')][1]; w5 = results[(k, '5x')][1]
    print(f"{k:32s} {w1:10.2f} {w5:10.2f} {w5/w1:6.1f}x")
