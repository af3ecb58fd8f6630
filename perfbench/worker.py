"""One benchmark run in one process: prepare inputs, set up, warm up,
verify, then time whole passes of the workload's calls.

Started by ``run.py``, which prepares the environment (cores, paths, event
log). Writes the run record as JSON to ``--out``; ``run.py`` prints it.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, before the Spark imports

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import telemetry  # noqa: E402
from workloads import PYDS_READ, WORKLOADS, Workload  # noqa: E402


def _elapsed(t: float) -> float:
    return time.perf_counter() - t


class Run:
    def __init__(self, args):
        self.args = args
        self.wl: Workload = WORKLOADS[args.workload]
        self.input_dir = os.path.join(args.work, "input")
        self.trace = bool(args.trace)
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "loadavg_start": telemetry.loadavg()}
        self.calls: list[dict] = []
        self.passes: list[dict] = []
        self.bad_keys: dict[str, str] = {}
        self.setup_errors: dict[str, str] = {}

    # ------------------------------------------------------------ calls

    def _call_df(self, key: str):
        if key == PYDS_READ:
            from training_feed_kinesis_spark.sources.pyds import read_kinesis_replay

            return read_kinesis_replay(self.spark, self.input_dir)
        return self.registry[key].fn(self.spark, self.input_dir)

    def timed_call(self, key: str, pass_no: int) -> dict:
        """fn() through a noop write, with a fresh job group per call."""
        sc = self.spark.sparkContext
        group = f"pb-{len(self.calls)}"
        sc.setJobGroup(group, f"perfbench {key}")
        c = {"key": key, "pass": pass_no, "group": group}
        t_start = time.time()
        t = time.perf_counter()
        try:
            df = self._call_df(key)
            c["build_s"] = _elapsed(t)
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a raising call is counted, not fatal
            df = None
            c["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            c["wall_s"] = _elapsed(t)
            c["t_start"], c["t_end"] = t_start, time.time()
            sc.setJobGroup(None, None)
        if self.trace:
            t = time.perf_counter()
            groups = [group] + self.listener.run_ids_between(c["t_start"], c["t_end"])
            c["tracker"] = telemetry.tracker_counts(sc, groups)
            if df is not None and key not in self.wl.streaming:
                c["phases_ms"] = telemetry.phases_ms(df)
            c["reads_s"] = _elapsed(t)
        del df
        self.calls.append(c)
        return c

    # ------------------------------------------------------------ phases

    def setup(self) -> None:
        t = time.perf_counter()
        if self.wl.fixture:
            self.record["inputs"] = gen.copy_fixture(self.input_dir, self.wl.fixture)
        else:
            self.record["inputs"] = gen.generate(self.input_dir, self.args.seed, self.wl.spec)
        self.gen_s = _elapsed(t)

        from training_feed_kinesis_spark.registry import load_all
        from training_feed_kinesis_spark.session import build_session

        t = time.perf_counter()
        self.spark = build_session(f"perfbench-{self.wl.name}")
        self.session_build_s = _elapsed(t)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.listener = telemetry.ProgressListener()
        self.spark.streams.addListener(self.listener)

        t = time.perf_counter()
        self.registry = load_all()
        self.load_all_s = _elapsed(t)

        from training_feed_kinesis_spark.streaming.replay import replay_stream

        t = time.perf_counter()
        for variant in self.wl.replay_variants:
            replay_stream(self.spark, self.input_dir, variant)
        self.replay_prepare_s = _elapsed(t)

        # untimed warm-up passes; the first collects the results verified
        # below (canonicalizing them is verification, not set-up)
        self.warm: dict[str, tuple] = {}
        self.warm_call_s: dict[str, float] = {}
        self.canon_s = 0.0
        t = time.perf_counter()
        for key in self.wl.keys:
            t_key = time.perf_counter()
            try:
                pdf = self._call_df(key).toPandas()
            except Exception as e:
                self.setup_errors[key] = f"{type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc(file=sys.stderr)
                continue
            finally:
                self.warm_call_s[key] = _elapsed(t_key)
            t_canon = time.perf_counter()
            self.warm[key] = oracle.canon(pdf)
            self.canon_s += _elapsed(t_canon)
        for _ in range(self.wl.warm_passes - 1):
            for key in self.warm:
                self._call_df(key).write.format("noop").mode("overwrite").save()
        self.warm_pass_s = _elapsed(t) - self.canon_s

    def verify(self) -> None:
        """Each key once, outside the timed region, against its DuckDB
        oracle. Every key the workloads run has one; a key without one
        fails verification until a check for it is written."""
        t = time.perf_counter()
        db = oracle.Oracle(self.input_dir)
        try:
            for key, actual in self.warm.items():
                if key == PYDS_READ:
                    reason = self._check_pyds(actual)
                elif self.registry[key].oracle:
                    reason = db.check(self.registry[key].oracle, actual)
                else:
                    reason = "no DuckDB oracle to verify against"
                if reason:
                    self.bad_keys[key] = reason
        finally:
            db.close()
        for key, err in self.setup_errors.items():
            self.bad_keys[key] = f"raised in warm-up: {err}"
        self.verify_s = _elapsed(t) + self.canon_s

    def _check_pyds(self, actual) -> str | None:
        """The batch source read yields every event once, each shard's
        sequence numbers running 0..n-1."""
        cols, rows = actual
        n_events = self.record["inputs"]["rows"]["events"]
        if len(rows) != n_events:
            return f"rows {len(rows)} != {n_events} events"
        shard, seq = cols.index("shard_id"), cols.index("sequence_number")
        per: dict[int, list[int]] = {}
        for r in rows:
            per.setdefault(r[shard], []).append(r[seq])
        for s, xs in per.items():
            if sorted(xs) != list(range(len(xs))):
                return f"shard {s} sequence numbers are not 0..{len(xs) - 1}"
        return None

    def measure(self) -> None:
        import training_feed_kinesis_spark.tables as tables

        self.t_first_call = time.perf_counter()
        self.epoch_first_call = time.time()
        self.substrate_after_setup = len(tables._SUBSTRATE_MEMO)
        keys = list(self.wl.keys)
        # a fixed pass count: passes keep getting faster while the JIT
        # compiles each query's generated code, so a count that follows the
        # host's speed would move the median pass
        n_passes = max(1, round(self.args.seconds / self.wl.pass_s_nominal))
        for pass_no in range(n_passes):
            order = keys[:]
            random.Random(self.args.seed * 1_000 + pass_no).shuffle(order)
            t_start, t = time.time(), time.perf_counter()
            for key in order:
                self.timed_call(key, pass_no)
            self.passes.append({
                "pass": pass_no,
                "wall_s": _elapsed(t),
                "t_start": t_start,
                "t_end": time.time(),
                "substrate_entries": len(tables._SUBSTRATE_MEMO),
                "plan_memo_entries": len(tables._TABLE_PLAN_MEMO),
                "cached_relations": self.spark.sparkContext._jsc.getPersistentRDDs().size(),
                "memory_sink_tables": sum(
                    1 for t_ in self.spark.catalog.listTables()
                    if t_.name.startswith("tfk_replay_")
                ),
            })
        self.measure_s = _elapsed(self.t_first_call)

    # ------------------------------------------------------------ results

    def host_record(self) -> dict:
        sc = self.spark.sparkContext
        import duckdb
        import pyspark

        root = self.args.root
        try:
            commit = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
        return {
            "git_commit": commit,
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "defaultParallelism": sc.defaultParallelism,
            "spark.sql.shuffle.partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "duckdb": duckdb.__version__,
            "jvm_pid": int(sc._jvm.java.lang.ProcessHandle.current().pid()),
        }

    def end_to_end(self) -> dict:
        ok_walls = [c["wall_s"] for c in self.calls if not c.get("error")]
        failed, attempted = stats.failed_frac(self.calls, set(self.bad_keys))
        m = {
            "setup_s": self.setup_s,
            "pass_s": stats.median([p["wall_s"] for p in self.passes]),
        }
        extra = {
            "call_p50_s": stats.median(ok_walls),
            "call_tail_s": stats.tail(ok_walls),
            "peak_rss_mb": self.peak_rss_mb,
            "failed_frac": failed / attempted,
            "failed": failed,
            "attempted": attempted,
        }
        stream_calls = [c for c in self.calls if c["key"] in self.wl.streaming]
        if stream_calls:
            batches = self.listener.batches_between(self.epoch_first_call, time.time())
            trig = [float(b["durationMs"]["triggerExecution"]) for b in batches]
            rows = sum(b["numInputRows"] for b in batches)
            drain_s = sum(c["wall_s"] for c in stream_calls)
            extra.update({
                "rows_per_s": rows / drain_s,
                "batch_p50_ms": stats.median(trig),
                "batch_tail_ms": stats.tail(trig),
            })
        return m, extra

    def per_layer(self, elog: "telemetry.EventLog") -> tuple[dict, list[dict]]:
        """Per-pass totals (median over passes) and a per-call table."""
        cores = self.host["defaultParallelism"]
        batch_keys = [k for k in self.wl.keys if k not in self.wl.streaming]
        rows_by_call = []
        for c in self.calls:
            w = elog.window(c["t_start"], c["t_end"])
            batches = self.listener.batches_between(c["t_start"], c["t_end"])
            trig = sum(float(b["durationMs"]["triggerExecution"]) for b in batches) / 1000
            rows_by_call.append({
                "key": c["key"], "pass": c["pass"], "wall_s": c["wall_s"],
                "build_s": c.get("build_s", 0.0), **w,
                # plan construction is only separable from execution for
                # batch keys: a streaming key's fn() runs the whole drain
                "residual_s": (0.0 if c["key"] in self.wl.streaming else
                               c["wall_s"] - c.get("build_s", 0.0) - w["job_span_s"]),
                "reads_s": c.get("reads_s", 0.0),
                "stream_batches": len(batches),
                "query_start_s": (c["wall_s"] - trig) if batches else 0.0,
                "tracker": c.get("tracker"), "phases_ms": c.get("phases_ms"),
            })

        def per_pass(fn, passes=None) -> float:
            vals = []
            for p in passes or self.passes:
                vals.append(fn([r for r in rows_by_call if r["pass"] == p["pass"]], p))
            return stats.median(vals) if vals else 0.0

        def phase(name):
            return per_pass(
                lambda rs, p: sum((r["phases_ms"] or {}).get(name, 0.0) for r in rs))

        def tracked(field):
            return per_pass(
                lambda rs, p: float(sum((r["tracker"] or {}).get(field, 0) for r in rs)))

        def total(field):
            return per_pass(lambda rs, p: float(sum(r[field] for r in rs)))

        stages_run = total("stages_run")
        run_s = total("run_s")
        pass_wall = stats.median([p["wall_s"] for p in self.passes])
        m = {
            "session.build_s": self.session_build_s,
            "registry.load_all_s": self.load_all_s,
            "setup.warm_pass_s": self.warm_pass_s,
            "replay.prepare_s": self.replay_prepare_s,
            "operators.build_s": per_pass(
                lambda rs, p: sum(r["build_s"] for r in rs if r["key"] in batch_keys)),
            "catalyst.analysis_ms": phase("analysis"),
            "catalyst.optimization_ms": phase("optimization"),
            "catalyst.planning_ms": phase("planning"),
            "spark.jobs": tracked("jobs"),
            "spark.stages": tracked("stages"),
            "spark.tasks": tracked("tasks"),
            "spark.tasks_per_stage": total("tasks") / stages_run if stages_run else 0.0,
            "spark.sched_delay_s": total("sched_delay_s"),
            "driver.residual_s": total("residual_s"),
            "executor.run_s": run_s,
            "executor.cpu_s": total("cpu_s"),
            "executor.gc_s": total("gc_s"),
            "executor.busy_frac": run_s / (pass_wall * cores),
            "shuffle.read_bytes": total("shuffle_read"),
            "shuffle.write_bytes": total("shuffle_write"),
            "input.rows": total("input_rows"),
            "input.bytes": total("input_bytes"),
            "tables.substrate_entries": float(self.passes[-1]["substrate_entries"]),
            "tables.substrate_misses": float(
                self.passes[-1]["substrate_entries"] - self.substrate_after_setup),
            "tables.plan_memo_entries": float(self.passes[-1]["plan_memo_entries"]),
            "tables.cached_relations": float(self.passes[-1]["cached_relations"]),
            "stream.memory_sink_tables": float(self.passes[-1]["memory_sink_tables"]),
            "stream.query_start_s": total("query_start_s"),
            "memory.peak_rss_mb": self.peak_rss_mb,
            "trace.reads_s": total("reads_s"),
            "trace.pass_s": pass_wall,
        }
        batches = self.listener.batches_between(self.epoch_first_call, time.time())
        summary = telemetry.batch_summary(batches)
        m["stream.batches"] = float(len(batches)) / len(self.passes)
        for name in telemetry.STREAM_LAYER_METRICS:
            m.setdefault(name, summary.get(name, 0.0))
        m["stream.rows_per_s"] = self.stream_e2e.get("rows_per_s", 0.0)
        m["stream.batch_p50_ms"] = self.stream_e2e.get("batch_p50_ms", 0.0)
        pyds = [r["wall_s"] for r in rows_by_call if r["key"] == PYDS_READ]
        m["pyds.read_rows_per_s"] = (
            len(pyds) * self.record["inputs"]["rows"]["events"] / sum(pyds)
            if pyds else 0.0)
        return m, rows_by_call

    def run(self) -> dict:
        self.setup()
        self.verify()
        self.measure()
        self.setup_s = (self.t_first_call - T0) - self.gen_s - self.verify_s
        self.listener.settle()
        self.host = self.host_record()
        self.peak_rss_mb = telemetry.vm_hwm_mb("self") + telemetry.vm_hwm_mb(
            self.host["jvm_pid"])
        e2e, extra = self.end_to_end()
        self.stream_e2e = extra
        self.spark.stop()
        rec = self.record
        rec.update({
            "host": self.host,
            "loadavg_end": telemetry.loadavg(),
            "session_build_s": self.session_build_s,
            "load_all_s": self.load_all_s,
            "replay_prepare_s": self.replay_prepare_s,
            "warm_pass_s": self.warm_pass_s,
            "gen_s": self.gen_s,
            "verify_s": self.verify_s,
            "measure_s": self.measure_s,
            "passes": self.passes,
            "bad_keys": self.bad_keys,
            "warm_call_s": self.warm_call_s,
            "key_p50_s": {
                k: stats.median([c["wall_s"] for c in self.calls if c["key"] == k])
                for k in self.wl.keys
            },
            "end_to_end": e2e,
            **extra,
        })
        if self.trace:
            elog = telemetry.EventLog(telemetry.read_event_log(self.args.event_log))
            rec["per_layer"], rec["calls"] = self.per_layer(elog)
        else:
            rec["calls"] = [
                {k: c.get(k) for k in ("key", "pass", "wall_s", "build_s", "error")}
                for c in self.calls
            ]
        return rec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--event-log", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    rec = Run(args).run()
    with open(args.out, "w") as f:
        json.dump(rec, f)


if __name__ == "__main__":
    main()
