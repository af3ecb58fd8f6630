"""``scans.derived_dir`` is the one build-once mechanism for scratch
fixtures derived from input files: content-keyed, built once under
concurrency, removed at exit, and nothing else in the package builds
scratch paths by hand."""

from __future__ import annotations

import os
import pathlib
import re
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd

import training_feed_kinesis_spark
from training_feed_kinesis_spark.operators import scans


def _write_input(path, n: int) -> None:
    pd.DataFrame({"x": range(n)}).to_parquet(path)


def _copy_build(src):
    def build(out: str) -> None:
        shutil.copy(src, os.path.join(out, "copy.parquet"))

    return build


def test_rewritten_input_yields_new_dir_with_new_content(spark, tmp_path):
    src = tmp_path / "in.parquet"
    _write_input(src, 3)
    first = scans.derived_dir(spark, "t_rewrite", [str(src)], _copy_build(src))
    assert scans.derived_dir(spark, "t_rewrite", [str(src)], _copy_build(src)) == first

    _write_input(src, 7)
    second = scans.derived_dir(spark, "t_rewrite", [str(src)], _copy_build(src))
    assert second != first
    assert len(pd.read_parquet(os.path.join(second, "copy.parquet"))) == 7


def test_concurrent_requests_build_once(spark, tmp_path):
    src = tmp_path / "in.parquet"
    _write_input(src, 5)
    calls = []
    lock = threading.Lock()

    def build(out: str) -> None:
        with lock:
            calls.append(out)
        time.sleep(0.2)  # keep the build open while the other threads arrive
        _copy_build(src)(out)

    barrier = threading.Barrier(8)

    def request(_):
        barrier.wait()
        return scans.derived_dir(spark, "t_concurrent", [str(src)], build)

    with ThreadPoolExecutor(max_workers=8) as pool:
        dirs = set(pool.map(request, range(8)))
    assert len(calls) == 1
    assert dirs == set(calls)
    assert os.path.isfile(os.path.join(calls[0], "copy.parquet"))


def test_returned_dirs_are_registered_for_removal_at_exit(spark, tmp_path):
    src = tmp_path / "in.parquet"
    _write_input(src, 2)
    dirs = {
        scans.derived_dir(spark, name, [str(src)], _copy_build(src))
        for name in ("t_exit_a", "t_exit_b")
    }
    assert dirs <= set(scans._SESSION_SCRATCH)


def test_no_scratch_paths_or_ready_markers_outside_scans():
    """Only scans.py builds paths under SCRATCH or writes _READY markers:
    every derived fixture goes through derived_dir, every throwaway dir
    through scratch_dir."""
    root = pathlib.Path(training_feed_kinesis_spark.__file__).parent
    pat = re.compile(r"\bSCRATCH\b|[\"']_READY[\"']")
    hits = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "operators" / "scans.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert not hits, hits
