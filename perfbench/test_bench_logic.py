"""Self-tests for the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/test_bench_logic.py -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from corpus import generate_corpus  # noqa: E402
from stats import geomean, peak_rss_mb  # noqa: E402
from tracing import (  # noqa: E402
    MissingTarget,
    Tracer,
    aggregate_stages,
    jobs_in_window,
    jobs_with_tag,
)


# -- stage metrics aggregated by tag --------------------------------------
def _stage(status, run_ms, cpu_ns=0, tasks=1):
    return {"status": status, "tasks": tasks, "run_ms": run_ms, "cpu_ns": cpu_ns,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "gc_ms": 0,
            "pandas_wall_ms": 0}


JOBS = {
    1: {"tags": {"perfbench-merge-1"}, "stages": [10, 11], "submitted_ms": 1_000},
    2: {"tags": {"perfbench-merge-1"}, "stages": [11, 12], "submitted_ms": 2_000},
    3: {"tags": {"perfbench-history-2"}, "stages": [13], "submitted_ms": 5_000},
}
STAGES = {
    10: _stage("COMPLETE", 100, 5_000_000, 4),
    11: _stage("SKIPPED", 0, 0, 4),  # shuffle output reused, no task ran
    12: _stage("COMPLETE", 30, 1_000_000, 2),
    13: _stage("COMPLETE", 7),
}


def test_aggregate_counts_skipped_stages_but_not_their_metrics():
    agg = aggregate_stages(JOBS, STAGES, jobs_with_tag(JOBS, "perfbench-merge-1"))
    assert agg["jobs"] == 2
    assert agg["stages"] == 2 and agg["skipped_stages"] == 1
    assert agg["run_ms"] == 130 and agg["cpu_ns"] == 6_000_000 and agg["tasks"] == 6


def test_a_stage_shared_by_two_jobs_counts_once():
    jobs = {1: {"stages": [10, 12]}, 2: {"stages": [12]}}
    assert aggregate_stages(jobs, STAGES, [1, 2])["run_ms"] == 130


def test_a_stage_missing_from_the_store_fails():
    with pytest.raises(KeyError):
        aggregate_stages({1: {"stages": [99]}}, STAGES, [1])


def test_jobs_in_window_uses_submission_time():
    assert sorted(jobs_in_window(JOBS, 0.5, 2.5)) == [1, 2]
    assert jobs_in_window(JOBS, 4.9, 5.1) == [3]


# -- wrappers fail loudly when their target is gone ------------------------
class _Ctx:
    def addJobTag(self, tag):
        pass

    def removeJobTag(self, tag):
        pass


class _Spark:
    sparkContext = _Ctx()


class _Layer:
    def work(self, x):
        return x + 1


def test_missing_wrap_target_raises():
    with pytest.raises(MissingTarget):
        Tracer(_Spark()).install([(_Layer, "renamed_away", "work")])


def test_wrapper_passes_through_and_records_spans():
    orig = _Layer.__dict__["work"]
    tr = Tracer(_Spark())
    tr.install([(_Layer, "work", "work")])
    try:
        assert _Layer().work(1) == 2 and tr.spans == []
        tr.enabled = True
        assert _Layer().work(2) == 3
        assert [s["name"] for s in tr.spans] == ["work"]
    finally:
        tr.uninstall()
    assert _Layer.__dict__["work"] is orig


# -- the typical query: geometric mean ------------------------------------
def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert geomean([0.3] * 20) == pytest.approx(0.3)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


# -- the corpus: seeded, and sized like the reference tables ---------------
def _tables(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    rows = generate_corpus(a, 5, 0.01)
    generate_corpus(b, 5, 0.01)
    generate_corpus(c, 6, 0.01)
    assert _tables(a) == _tables(b)
    assert _tables(a)["documents.parquet"] != _tables(c)["documents.parquet"]
    # the reference tables' row counts at sf0.01
    assert rows == {"events": 10_000, "documents": 500, "embeddings": 500,
                    "customer": 1_500, "part": 2_000, "orders": 15_000,
                    "lineitem": 60_000}


# -- peak RSS covers the launched child ------------------------------------
def test_peak_rss_counts_a_matching_child():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys, time; b = bytearray(96 << 20); sys.stdout.write('ok\\n');"
         " sys.stdout.flush(); time.sleep(30)"],
        stdout=subprocess.PIPE,
    )
    try:
        assert child.stdout.readline().strip() == b"ok"
        with open(f"/proc/{child.pid}/comm") as fh:
            comm = fh.read().strip()
        alone = peak_rss_mb()  # default: only JVM children count
        both = peak_rss_mb(child_comms=(comm,))
        assert both - alone >= 90
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_peak_rss_of_this_process_is_positive():
    t0 = time.perf_counter()
    assert peak_rss_mb() > 0
    assert time.perf_counter() - t0 < 5
