"""Parquet table loading for the TESTDATA.md star schema + events stream table.

Load-time normalization (SURVEY.md §1.4, probe-verified):
  * ``events.ts`` is stored as parquet ``timestamp[us]`` without a time
    zone (as are the lineitem/orders timestamps), which Spark reads as
    TIMESTAMP_NTZ; it is cast here to session-tz TimestampType, because
    watermarks reject NTZ. Older fixtures stored ``timestamp[ns]``: with
    ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as LongType
    nanos and is converted ONCE with integer division
    ``timestamp_micros(ts div 1000)`` — float division is off by 1µs on some
    rows vs DuckDB's truncation; integer ``div`` gives exact raw-value parity.

Scale note: at 100 TB these reads become partitioned-table scans; everything
downstream only sees DataFrames, so swapping the loader for a catalog table
(``spark.table``) or a partition-pruned path is a one-line change here.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (region=5,
# nation=25 rows always). customer/supplier/part grow with sf — Catalyst+AQE
# decide for those based on autoBroadcastJoinThreshold.
ALWAYS_BROADCAST = frozenset({"region", "nation"})


# ---------------------------------------------------------------------------
# Temporal admission contract (round-12 campaign; SURVEY §5.3.11).
#
# A 100 TB ingest contains sentinel and corrupt timestamps (epoch zeros,
# 9999-12-31 "never", year-one defaults, fat-fingered centuries). Operators
# that do TIME ARITHMETIC — window grids, gap-fill sequences, as-of joins,
# watermarked streams, freshness lags — gate their time-bearing inputs to
# [1970-01-01, 2200-01-01) with the predicates below, spelled identically
# in the Spark plan and the DuckDB oracle. Outside that window the
# arithmetic is not merely wrong but OPERATIONALLY DANGEROUS: a year-9999
# event time wedges a stream's watermark forever (every later real event is
# "late"), a [0001, 9999] user span materializes an 87-million-hour
# gap-fill grid in one task, year-10000 results overflow both pandas'
# datetime64[ns] (1677–2262) and Python's datetime (1–9999) at collection,
# and epoch-seconds beyond 2262 overflow downstream ns conversions. The
# window starts AT the epoch because zeroed/negative epoch-seconds fields
# are the single most common corrupt-timestamp shape — and even a
# 1969-07-20 sentinel, five months below zero, stretches an hourly
# gap-fill grid by 54 years (half a million rows per afflicted user).
#
# The gate PRESERVES NULL rows (NULL ts was already each operator's
# business; time arithmetic on NULL is NULL, never a crash) so adding it
# never changes NULL-handling, and the window comfortably contains every
# clean fixture (1992–2025). Keys whose JOB is to see insane dates
# (dq_date_sanity_census and the census family) stay ungated by design.
# ---------------------------------------------------------------------------
SANE_TS_MIN = "1970-01-01"
SANE_TS_MAX = "2200-01-01"


def sane_ts(col) -> "F.Column":
    """NULL-preserving sane-window predicate on a timestamp column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | (
        (c >= F.lit(SANE_TS_MIN).cast("timestamp"))
        & (c < F.lit(SANE_TS_MAX).cast("timestamp"))
    )


def sane_ts_sql(col: str) -> str:
    """The DuckDB spelling of :func:`sane_ts` — splice into oracles."""
    return (
        f"({col} IS NULL OR ({col} >= TIMESTAMP '{SANE_TS_MIN}'"
        f" AND {col} < TIMESTAMP '{SANE_TS_MAX}'))"
    )


def content_key(spark: SparkSession, paths) -> tuple:
    """The session's applicationId plus ``(abspath, st_mtime_ns, st_size)``
    of each path (``(path, None, None)`` if it cannot be stat-ed): the key
    every session memo and derived scratch dir is tied to.

    SINGLE-FILE-SNAPSHOT ASSUMPTION (ADVICE r12): every table here is one
    parquet FILE, whose stat changes on any rewrite. A DIRECTORY dataset's
    stat does not reliably change when a part file does — fold the max
    child (mtime_ns, size) in here before making that move."""
    stamp: list = [spark.sparkContext.applicationId]
    for path in map(os.path.abspath, paths):
        try:
            st = os.stat(path)
            stamp.append((path, st.st_mtime_ns, st.st_size))
        except OSError:
            stamp.append((path, None, None))
    return tuple(stamp)


# Plan memo (r12): (id of the session object, content_key of the table
# file) -> the lazy, UNCACHED post-normalization DataFrame. A frame belongs
# to the session that read it: sessions of one application share the
# applicationId but not temp views or confs, so a ``newSession()`` gets
# its own frames (the entry pins its session, so the id is never reused
# while the entry lives). METADATA/plan reuse only — every action
# over the returned frame re-reads the parquet (no .cache(), no
# materialization). Motivation: spark.read.parquet does an eager
# driver-side footer read + file listing per call (~60-90 ms of py4j +
# I/O), and the headline bench constructs several hundred table frames per
# run, so relation construction alone was multi-second driver overhead.
# At 100 TB this memo is the table catalog (HMS/Iceberg), which serves
# exactly this metadata.
_TABLE_PLAN_MEMO: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table, applying required session confs + load-time fixes."""
    configure(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = (id(spark), content_key(spark, [path]))
    df = _TABLE_PLAN_MEMO.get(key)
    if df is not None:
        return df
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # parquet timestamp[ns] + nanosAsLong → LongType nanos; convert with
            # integer division (exact DuckDB parity; SURVEY §1.4.2)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # parquet timestamp[us] (isAdjustedToUTC=false) → TIMESTAMP_NTZ.
            # Event time must be session-tz TimestampType: watermarks reject
            # NTZ ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]). Session tz is pinned
            # UTC, so the cast is wall-clock-preserving and DuckDB parity holds.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_PLAN_MEMO[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def parallelize(df: DataFrame) -> DataFrame:
    """Ensure at least defaultParallelism partitions before a CPU-bound
    per-row stage (hash sketches, vector math).

    A small parquet file scans as ONE split — every core but one idles
    through the expensive map stage (measured: the whole MinHash pipeline
    on a single core at sf0.1). At real scale inputs arrive with hundreds
    of splits and this is a no-op; the repartition only fires when the scan
    produced fewer splits than cores, so the one-time shuffle of the input
    rows buys a cores-wide compute stage.

    The ``df.rdd`` probe physically plans the whole query a second time
    (~80-90 ms of driver work per call, thrown away); the count is a pure
    function of the plan within the frame's session, so it is memoized AS
    AN ATTRIBUTE OF THE FRAME (r13, VERDICT r12 item 4): the r12 module
    dict keyed on id(df) held a strong reference to every frame ever
    passed in — callers handing over fresh derived frames leaked an
    entry (plus its pinned JVM plan) per call. The attribute dies with
    the wrapper object, hits for the memoized ``load_table`` frames that
    repeat across invocations, and is session-correct because a
    DataFrame never outlives its session."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    n = getattr(df, "_tfk_npart", None)
    if n is None:
        n = df.rdd.getNumPartitions()
        df._tfk_npart = n
    if n < target:
        return df.repartition(target)
    return df


def release_after(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Unpersist every ``cached`` intermediate once ``result`` is garbage
    collected — unpersist-after-terminal-action, automated.

    The r7 cache-residue class: an operator that ``.cache()``s an
    intermediate consumed multiple times by its RETURNED lazy DataFrame
    has no safe place to unpersist (before return defeats the cache; the
    caller never sees the intermediate), so 574-key sweeps in one JVM
    accumulated dead cached relations until ``--chunk`` papered over it.
    ``localCheckpoint`` is self-cleaning but was measured 1.3–3× slower
    on the hot dedup keys (serialized RDD block scans vs the columnar
    in-memory cache) — so hot paths keep ``.cache()`` and tie the
    release to the result's lifetime instead: a ``weakref.finalize`` on
    the result unpersists the intermediates when the caller drops the
    frame after its terminal action. Blocking=False, and a dead JVM is
    tolerated (interpreter-shutdown GC).

    LIFETIME CONTRACT (r8 ADVICE): the release is tied to CPython GC of
    the EXACT returned wrapper object. Two caller obligations follow:
    (1) act on (or derive from) the returned frame while still holding a
    reference to IT — a caller that derives a child and drops the parent
    before the terminal action loses the cache mid-pipeline (silent
    recompute; correctness unaffected); (2) a sweep driver that retains
    every result in a list pins every intermediate alive — exactly the
    residue this helper exists to kill — so sweep loops must del/None
    each result after consuming it (scripts/driver_sim.py does)."""
    jdfs = [c._jdf for c in cached]

    def _release(jdfs=jdfs):
        for j in jdfs:
            try:
                j.unpersist(False)
            except Exception:
                pass  # gateway already shut down — nothing to release

    weakref.finalize(result, _release)
    return result


# (applicationId, resolved dir, name) -> (content_key of the dir's TABLES
# files, DataFrame): the one session memo behind every shared derived
# relation — substrates, the admitted embeddings, the graph edge list.
# Deliberately session-lived and BOUNDED: one entry per distinct table
# dir per name — a handful of sketch/basket relations, each far smaller
# than its source table. This is the enumerated replacement for the r7
# cache-residue class, where every operator invocation left its own
# anonymous cached relation in the CacheManager.
_SUBSTRATE_MEMO: dict[tuple[str, str, str], tuple[tuple, DataFrame]] = {}

# Guards memo builds against concurrent driver threads (the test suite
# builds registry plans from a pool, guide §2.6): an unlocked race
# double-builds and double-CACHES the relation, and the losing cache
# entry is never unpersisted — the r7 residue class.
MEMO_LOCK = threading.RLock()


def memo(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    """``build()``'s frame for ``name`` over ``sf_dir`` in this session,
    rebuilt when any TABLES file in ``sf_dir`` changes (their content_key
    stamps the entry: ~10 ``stat`` calls per lookup, no inputs to name).
    A replaced frame is unpersisted first, because Spark's CacheManager
    would match the rebuilt plan over the same path to the stale cached
    data. ``build`` picks its own materialization."""
    stamp = content_key(spark, [f"{sf_dir}/{t}.parquet" for t in TABLES])
    key = (stamp[0], os.path.abspath(sf_dir), name)
    hit = _SUBSTRATE_MEMO.get(key)
    if hit is None or hit[0] != stamp:
        with MEMO_LOCK:
            hit = _SUBSTRATE_MEMO.get(key)  # re-check under the lock
            if hit is None or hit[0] != stamp:
                if hit is not None:
                    hit[1].unpersist(False)
                hit = _SUBSTRATE_MEMO[key] = (stamp, build())
    return hit[1]


def substrate(spark: SparkSession, sf_dir: str, name: str, builder) -> DataFrame:
    """Session-scoped shared cached relation (the materialize-once shape).

    Expensive derived relations consumed by several operators — LSH band
    signatures, shingle-set arrays, market baskets — are built ONCE per
    (session, table dir content) through :func:`memo`, cached, eagerly
    materialized (concurrent stages of one job must not race a cold
    cache), and shared by every consumer and every repeated invocation.
    At 100 TB this is exactly "materialize the sketch table to storage at
    ingest, let queries scan it"; in one JVM the memo is the storage.
    Unlike the per-invocation ``.cache()`` it replaces, the footprint is
    bounded and enumerable: len(_SUBSTRATE_MEMO) relations, not one per
    operator call."""

    def build() -> DataFrame:
        df = builder().cache()
        df.count()
        return df

    return memo(spark, sf_dir, name, build)
