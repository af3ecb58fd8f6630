"""Readers for Spark's public telemetry, used from outside the program:
the streaming query listener, the status tracker, ``QueryExecution``'s
phase tracker, the event log, and ``/proc`` memory high-water marks."""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from stats import median

DURATION_PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets",
)
# per-layer names batch_summary() fills (zero where a run has no stream)
STREAM_LAYER_METRICS = (
    "stream.rows_per_batch",
    *(f"stream.{ph}_ms" for ph in DURATION_PHASES),
    "stream.addBatch_share",
    "state.rows_total", "state.memory_bytes", "state.commit_ms",
    "state.rows_dropped_by_watermark",
)


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report and every started run id.

    ``onQueryStarted`` runs synchronously inside ``DataStreamWriter.start``,
    so ``started`` is complete when a call returns; progress and
    termination events arrive asynchronously, so readers call
    :meth:`settle` first."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: list[tuple[float, str]] = []  # (epoch s, runId)
        self.progress: list[dict] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append((time.time(), str(event.runId)))

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self.lock:
            self.progress.append(p)

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1

    def settle(self, timeout: float = 15.0) -> bool:
        """Wait until every started query's termination was delivered."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self.lock:
                if self.terminated >= len(self.started):
                    return True
            time.sleep(0.02)
        return False

    def run_ids_between(self, t0: float, t1: float) -> list[str]:
        with self.lock:
            return [r for t, r in self.started if t0 <= t <= t1]

    def batches_between(self, t0: float, t1: float) -> list[dict]:
        """Progress reports whose trigger started within ``[t0, t1]``."""
        from datetime import datetime

        out = []
        with self.lock:
            reports = list(self.progress)
        for p in reports:
            ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            if t0 <= ts.timestamp() <= t1 and "addBatch" in p.get("durationMs", {}):
                out.append(p)
        return out


def batch_summary(batches: list[dict]) -> dict:
    """Per-layer streaming numbers over a list of progress reports."""
    if not batches:
        return {}
    out = {"stream.rows_per_batch": median([float(b["numInputRows"]) for b in batches])}
    for ph in DURATION_PHASES:
        out[f"stream.{ph}_ms"] = median(
            [float(b["durationMs"].get(ph, 0)) for b in batches]
        )
    # addBatch over triggerExecution on warm micro-batches (not the first
    # of a query): near 1 when per-row work dominates fixed per-batch cost
    warm = [b for b in batches if b.get("batchId", 0) > 0] or batches
    out["stream.addBatch_share"] = median([
        float(b["durationMs"]["addBatch"]) / max(float(b["durationMs"]["triggerExecution"]), 1.0)
        for b in warm
    ])
    states = [s for b in batches for s in b.get("stateOperators", [])]
    if states:
        out["state.rows_total"] = median([float(s["numRowsTotal"]) for s in states])
        out["state.memory_bytes"] = median([float(s["memoryUsedBytes"]) for s in states])
        out["state.commit_ms"] = median([float(s["commitTimeMs"]) for s in states])
        out["state.rows_dropped_by_watermark"] = float(
            sum(s.get("numRowsDroppedByWatermark", 0) for s in states)
        )
    return out


def tracker_counts(sc, groups: list[str]) -> dict:
    """Jobs, stages and tasks the status tracker knows for ``groups``."""
    st = sc.statusTracker()
    jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
    stages = []
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.extend(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def phases_ms(df) -> dict:
    """Catalyst phase times from ``QueryExecution.tracker()``. The planner
    is forced first so the optimization and planning phases exist even
    when the action ran through a separate write command."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        e = it.next()
        out[e._1()] = float(e._2().durationMs())
    return out


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application logged under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        return []
    with open(max(files, key=os.path.getmtime)) as f:
        return [json.loads(line) for line in f if line.strip()]


class EventLog:
    """Jobs and task metrics from an event log, queried by time window."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.tasks: list[dict] = []
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1000.0, "end": None}
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                im = m.get("Input Metrics", {})
                run_ms = m.get("Executor Run Time", 0)
                overhead = (
                    m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + run_ms
                )
                launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
                getting = info.get("Getting Result Time", 0)
                fetch = (finish - getting) if getting else 0
                self.tasks.append({
                    "launch": launch / 1000.0,
                    "stage": (e.get("Stage ID"), e.get("Stage Attempt ID")),
                    "run_s": run_ms / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "sched_delay_s": max(finish - launch - overhead - fetch, 0) / 1000.0,
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "input_rows": im.get("Records Read", 0),
                    "input_bytes": im.get("Bytes Read", 0),
                })

    def window(self, t0: float, t1: float) -> dict:
        """Totals for jobs submitted and tasks launched within ``[t0, t1]``."""
        jobs = [j for j in self.jobs.values() if t0 <= j["start"] <= t1]
        tasks = [t for t in self.tasks if t0 <= t["launch"] <= t1]
        spans = sorted((j["start"], j["end"] or j["start"]) for j in jobs)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        out = {
            "jobs": len(jobs),
            "stages_run": len({t["stage"] for t in tasks}),
            "tasks": len(tasks),
            "job_span_s": covered,
        }
        for k in ("run_s", "cpu_s", "gc_s", "sched_delay_s", "shuffle_read",
                  "shuffle_write", "input_rows", "input_bytes"):
            out[k] = sum(t[k] for t in tasks)
        return out
