"""bench.py compares a run only against a recording with the same sf and
core count."""

import json

from bench import _load_prev_recording


def _write(d, name, cpus, sf, queries={"agg_basic": 1.0}):
    doc = {"cpus": cpus, "sf": sf, "parsed": {"sf": sf, "queries": queries}}
    (d / name).write_text(json.dumps(doc))


def test_prev_recording_matches_core_count_and_sf(tmp_path):
    _write(tmp_path, "BENCH_r12.json", 32, 0.1)
    _write(tmp_path, "BENCH_r13.json", 32, 0.01)
    _write(tmp_path, "BENCH_r13_c8.json", 8, 0.1, {"agg_basic": 2.0})
    (tmp_path / "BENCH_r14.json").write_text('{"cpus": 32, "parsed": null}')
    root = str(tmp_path)
    assert _load_prev_recording(0.1, 32, root)["queries"] == {"agg_basic": 1.0}
    assert _load_prev_recording(0.1, 8, root)["queries"] == {"agg_basic": 2.0}
    assert _load_prev_recording(0.1, 4, root) == {}
