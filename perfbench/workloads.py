"""Workload definitions: which calls a pass makes and which inputs they read.

Every workload is a closed loop with one client: one driver thread issues
one call at a time against ``local[N]`` (N = usable cores). A call is
``registry.load_all()[key].fn(spark, input_dir)`` consumed by a ``noop``
write, or, for ``PYDS_READ``, ``sources.pyds.read_kinesis_replay`` consumed
the same way. See README.md for why each workload exists.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# a batch read through the Python data source; not a registry key
PYDS_READ = "pyds_batch_read"


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    fixture: str = ""  # a directory under fixture/, copied as the input
    spec: dict = field(default_factory=dict)  # gen.generate input spec
    streaming: frozenset = frozenset()  # keys that drain a stream
    replay_variants: tuple[str, ...] = ()  # replay dirs the streaming keys read
    # about how long one warm pass takes on a 4-core host; a run times
    # round(--seconds / pass_s_nominal) passes, a count that does not
    # depend on how fast the host happens to be
    pass_s_nominal: float = 4.0
    # untimed passes in set-up; the JIT keeps speeding up the first passes
    # of a process, and the timed passes should start on the plateau
    warm_passes: int = 1


# A subset of bench.py::HEADLINE's batch keys: the relational core (Q1
# aggregate, 8-table star join), two of the keys with the most Spark jobs
# per call (funnel_conversion, llm_curation_waterfall), and the MinHash
# near-dup key on the shared substrates. The whole list does not fit the
# run budget (README.md).
HEADLINE_BATCH = (
    "agg_basic", "q8_market_share", "funnel_conversion", "llm_dedup_near",
    "llm_curation_waterfall",
)

# The feed: the at-least-once replay through watermarked dedup under the
# RocksDB state store, and one batch read through the Python data source.
# The other feed keys are left out for the run budget (README.md).
FEED_STREAM_KEYS = ("stream_dedup_watermark",)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "batch_headline",
            HEADLINE_BATCH,
            fixture="sf0.1",
            warm_passes=2,
            pass_s_nominal=5.3,
        ),
        Workload(
            "feed_stream",
            FEED_STREAM_KEYS + (PYDS_READ,),
            spec={"events": {"rows": 10_000, "users": 500, "dup_share": 0.05,
                             "props_bytes": 64}},
            streaming=frozenset(FEED_STREAM_KEYS),
            replay_variants=("doubled",),
            pass_s_nominal=7.5,
        ),
    )
}
