"""Self-tests for the benchmark's own logic; no Spark session needed.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


class StatsTest(unittest.TestCase):
    def test_median_matches_statistics(self):
        for xs in ([3.0], [2.0, 1.0], [5.0, 1.0, 4.0, 2.0], [0.1 * i for i in range(17)]):
            self.assertAlmostEqual(stats.median(xs), statistics.median(xs), places=12)

    def test_percentile_interpolates(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 100.0)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_tail_keeps_ten_samples_beyond(self):
        cases = {19: 50.0, 20: 50.0, 39: 50.0, 40: 75.0, 99: 75.0, 100: 90.0,
                 199: 90.0, 200: 95.0, 1000: 99.0, 10_000: 99.9}
        for n, want in cases.items():
            p = stats.tail_percentile(n)
            self.assertEqual(p, want, n)
            if p > 50.0:
                self.assertGreaterEqual(int(n * (100 - p) / 100 + 1e-9), 10, n)

    def test_tail_value_and_record(self):
        xs = [float(i) for i in range(1, 41)]
        t = stats.tail(xs)
        self.assertEqual((t["pct"], t["n"]), (75.0, 40))
        self.assertAlmostEqual(t["value"], stats.percentile(xs, 75))
        self.assertEqual(sum(1 for x in xs if x > t["value"]), 10)
        self.assertEqual(stats.tail(xs[:39]), {"value": None, "pct": None, "n": 39})

    def test_failed_frac_counts_raised_and_mismatched(self):
        calls = [
            {"key": "a"}, {"key": "a"},
            {"key": "b", "error": "ValueError: boom"}, {"key": "b"},
            {"key": "c"}, {"key": "c"},
        ]
        self.assertEqual(stats.failed_frac(calls, set()), (1, 6))
        self.assertEqual(stats.failed_frac(calls, {"c"}), (3, 6))
        self.assertEqual(stats.failed_frac(calls[:2], set()), (0, 2))


class OracleTest(unittest.TestCase):
    def test_floats_compare_by_repr(self):
        import pandas as pd

        a = oracle.canon(pd.DataFrame({"x": [0.0, 1.5], "k": [1, 2]}))
        self.assertIsNone(oracle.same(a, oracle.canon(pd.DataFrame({"k": [2, 1], "x": [1.5, 0.0]}))))
        self.assertIsNotNone(oracle.same(a, oracle.canon(pd.DataFrame({"x": [-0.0, 1.5], "k": [1, 2]}))))
        self.assertIsNotNone(oracle.same(a, oracle.canon(pd.DataFrame({"x": [0.0, 1.5000000000000002], "k": [1, 2]}))))
        self.assertIsNotNone(oracle.same(a, oracle.canon(pd.DataFrame({"x": [0.0], "k": [1]}))))


SPEC = {"events": {"rows": 2_000, "users": 50, "dup_share": 0.1, "props_bytes": 40}}


class InputsTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra, rb = gen.generate(a, 7, SPEC), gen.generate(b, 7, SPEC)
            self.assertEqual(ra["hash"], rb["hash"])
            self.assertEqual(sorted(os.listdir(a)), sorted(os.listdir(b)))
            rc = gen.generate(b, 8, SPEC)
        self.assertNotEqual(rc["hash"]["events"], ra["hash"]["events"])

    def test_input_properties(self):
        ev = gen.events(3, **SPEC["events"]).to_pydict()
        self.assertEqual(len(ev["event_id"]), 2_000)
        self.assertEqual(len(ev["event_id"]) - len(set(ev["event_id"])), 200)
        self.assertEqual(ev["ts"], sorted(ev["ts"]))
        self.assertTrue(all(abs(len(p) - 40) <= 1 for p in ev["props"]))
        self.assertLess(max(ev["user_id"]), 50)

    def test_generated_events_have_the_fixture_schema(self):
        # the load path in tables.load_table depends on the physical type
        # of events.ts, so the generated feed must match the fixture's
        import pyarrow.parquet as pq

        fixture = pq.read_schema(os.path.join(gen.FIXTURES, "sf0.1", "events.parquet"))
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, 1, SPEC)
            generated = pq.read_schema(os.path.join(d, "events.parquet"))
        self.assertTrue(generated.remove_metadata().equals(fixture.remove_metadata()),
                        f"{generated} != {fixture}")

    def test_fixture_copy_records_rows(self):
        with tempfile.TemporaryDirectory() as d:
            rec = gen.copy_fixture(d, "sf0.1")
            self.assertEqual(rec["rows"]["lineitem"], 600_000)
            self.assertEqual(rec["rows"]["events"], 100_000)
            self.assertEqual(set(rec["rows"]), set(rec["hash"]))
            self.assertTrue(os.path.isfile(os.path.join(d, "lineitem.parquet")))


class EventLogTest(unittest.TestCase):
    def test_window_unions_job_spans_and_sums_tasks(self):
        import telemetry

        def job(i, start, end):
            return [
                {"Event": "SparkListenerJobStart", "Job ID": i, "Submission Time": start},
                {"Event": "SparkListenerJobEnd", "Job ID": i, "Completion Time": end},
            ]

        def task(stage, launch, finish, run):
            return {
                "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}},
            }

        events = (job(0, 1000, 2000) + job(1, 1500, 2500) + job(2, 4000, 4500)
                  + [task(0, 1000, 1900, 800), task(1, 4000, 4400, 300)]
                  + job(3, 9000, 9500))
        w = telemetry.EventLog(events).window(0.5, 5.0)
        self.assertEqual(w["jobs"], 3)
        self.assertAlmostEqual(w["job_span_s"], 1.5 + 0.5)
        self.assertEqual((w["tasks"], w["stages_run"], w["shuffle_write"]), (2, 2, 20))
        self.assertAlmostEqual(w["run_s"], 1.1)
        self.assertAlmostEqual(w["sched_delay_s"], 0.1 + 0.1)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_launcher(self):
        import run

        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.isfile(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        from workloads import WORKLOADS

        self.assertEqual([w["name"] for w in spec["workloads"]], list(WORKLOADS))


if __name__ == "__main__":
    unittest.main()
