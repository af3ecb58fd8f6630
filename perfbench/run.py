"""Benchmark launcher: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_headline --seed 1 --seconds 10 --trace 0

Run from the repository root. The launcher prepares the environment the
program needs (``SPARK_GRAFT_CPUS`` from the usable cores, the repository
root on ``PYTHONPATH`` for Python workers, every scratch and temp path
inside a per-run directory under ``.perfbench_work/``, and with
``--trace 1`` a Spark event log through ``PYSPARK_SUBMIT_ARGS``), runs
``worker.py`` in its own session, stops every process of that session,
and prints the run record. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
Exits non-zero, printing no result, when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "training_feed_kinesis_spark"
WORKER_TIMEOUT_S = 150  # plus up to 20 s to stop the session: under 180 s

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

PER_LAYER = {
    "session.build_s": "s",
    "registry.load_all_s": "s",
    "setup.warm_pass_s": "s",
    "operators.build_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_per_stage": "ratio",
    "spark.sched_delay_s": "s",
    "driver.residual_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.busy_frac": "ratio",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "input.rows": "rows",
    "input.bytes": "bytes",
    "tables.substrate_entries": "count",
    "tables.substrate_misses": "count",
    "tables.plan_memo_entries": "count",
    "tables.cached_relations": "count",
    "stream.memory_sink_tables": "count",
    "stream.batches": "count",
    "stream.rows_per_batch": "rows",
    "stream.rows_per_s": "rows/s",
    "state.rows_total": "rows",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "rows",
    "pyds.read_rows_per_s": "rows/s",
    "memory.peak_rss_mb": "MB",
    "trace.reads_s": "s",
    "trace.pass_s": "s",
}

# Per-layer times of the replay and the state store. They are printed by a
# traced run but not in its result line: batch_headline runs no stream, so
# there they would read exactly 0 on every run.
STREAM_LAYER_TIMES = {
    "replay.prepare_s": "s",
    "stream.latestOffset_ms": "ms",
    "stream.getBatch_ms": "ms",
    "stream.queryPlanning_ms": "ms",
    "stream.addBatch_ms": "ms",
    "stream.addBatch_share": "ratio",
    "stream.walCommit_ms": "ms",
    "stream.commitOffsets_ms": "ms",
    "stream.query_start_s": "s",
    "stream.batch_p50_ms": "ms",
    "state.commit_ms": "ms",
}


def _session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``. The worker starts a
    new session; the JVM and PySpark's daemons stay in it even though each
    daemon makes its own process group."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def _stop_session(sid: int) -> None:
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline and _session_pids(sid):
            time.sleep(0.1)
        if not _session_pids(sid):
            return


def _env(work: str, trace: bool, event_log: str) -> dict:
    env = dict(os.environ)
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "scratch", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    confs = {
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TFK_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell",
    })
    return env


def _result(rec: dict, trace: bool) -> dict:
    if trace:
        metrics = {k: {"value": rec["per_layer"][k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u}
                   for k, u in END_TO_END.items()}
    return {
        "correct": not rec["bad_keys"] and rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }


def _print_trace_tables(rec: dict) -> None:
    from stats import median

    print(f"per-call summary ({rec['workload']}, medians over "
          f"{len(rec['passes'])} passes)")
    cols = ("wall_s", "build_s", "job_span_s", "residual_s", "jobs", "tasks",
            "run_s", "sched_delay_s", "shuffle_read")
    print(f"{'key':28s} " + " ".join(f"{c:>12s}" for c in cols))
    for key in dict.fromkeys(c["key"] for c in rec["calls"]):
        rs = [c for c in rec["calls"] if c["key"] == key]
        print(f"{key:28s} " + " ".join(
            f"{median([float(r[c]) for r in rs]):12.4g}" for c in cols))
    print("per-layer")
    for k, u in {**PER_LAYER, **STREAM_LAYER_TIMES}.items():
        print(f"  {k:36s} {rec['per_layer'][k]:14.6g} {u}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside {HERE}; run from a full "
              "checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog")
    out = os.path.join(work, "record.json")
    os.makedirs(work, exist_ok=True)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--root", ROOT, "--event-log", event_log, "--out", out,
    ]
    try:
        proc = subprocess.Popen(cmd, cwd=work, env=_env(work, bool(args.trace), event_log),
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
            rc = None
        finally:
            _stop_session(proc.pid)
            proc.wait()
        if rc != 0 or not os.path.isfile(out):
            print(f"perfbench: worker failed (exit {rc})", file=sys.stderr)
            return 1
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    print("record " + json.dumps(
        {k: v for k, v in rec.items() if k not in ("calls", "per_layer")}))
    if args.trace:
        _print_trace_tables(rec)
    print(json.dumps(_result(rec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
