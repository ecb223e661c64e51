"""Span accounting: driver time, counters, skew and per-op medians."""

import os
import shutil
import subprocess
import sys
import time

import pytest

import run
import spans


def _stage(status="COMPLETE", tasks=4, run_ms=1000, q50=200.0, qmax=400.0, **kw):
    st = {"status": status, "tasks": tasks, "run_ms": run_ms, "cpu_ns": 5e8, "gc_ms": 10,
          "shuffle_write": 2**20, "spill": 0, "rows_out": 0, "failed": 0,
          "q50_ms": q50, "qmax_ms": qmax}
    st.update(kw)
    return st


def test_covered_s_merges_and_clips():
    assert spans.covered_s([(1, 3), (2, 4), (6, 7)], 0, 10) == pytest.approx(4)
    assert spans.covered_s([(1, 3), (2, 4)], 2.5, 3.5) == pytest.approx(1)
    assert spans.covered_s([], 0, 10) == 0


def test_summarise():
    span = {"start": 100.0, "end": 110.0, "rows": 7}
    jobs = [
        {"start": 101.0, "end": 104.0, "stages": [_stage(), _stage(status="SKIPPED", run_ms=0)]},
        {"start": 103.0, "end": 106.0, "stages": [_stage(run_ms=3000, q50=100.0, qmax=900.0, rows_out=5)]},
    ]
    s = spans.summarise(span, jobs)
    assert s["wall_s"] == 10.0
    assert s["driver_s"] == pytest.approx(5.0)  # jobs cover 101..106
    assert s["jobs"] == 2 and s["stages"] == 2 and s["tasks"] == 8
    assert s["exec_run_s"] == pytest.approx(4.0)
    assert s["exec_cpu_s"] == pytest.approx(1.0)
    assert s["shuffle_write_mb"] == pytest.approx(2.0)
    assert s["rows_out"] == 12
    assert s["task_skew"] == pytest.approx(9.0)  # from the heaviest stage


def test_summarise_without_jobs_is_all_driver():
    s = spans.summarise({"start": 0.0, "end": 2.0}, [])
    assert s["driver_s"] == 2.0 and s["jobs"] == 0 and s["task_skew"] == 0.0


def test_untraced_tracer_is_inert():
    tr = spans.Tracer(None)
    with tr.span("pipeline.execute") as rec:
        rec["rows"] = 3
    assert tr.spans == [] and tr.report() == []


def test_fallback_count(tmp_path):
    log = tmp_path / "driver.log"
    log.write_bytes(
        b"ERROR CodeGenerator: Failed to compile the generated Java code.\n"
        b"WARN WholeStageCodegenExec: Whole-stage codegen disabled for plan (id=4):\n"
        b"WARN WholeStageCodegenExec: Whole-stage codegen disabled for plan (id=9):\n"
    )
    tr = spans.Tracer(None, str(log))
    assert tr.fallbacks(0, tr.log_size()) == 2


def test_per_layer_medians_and_zero_fill():
    base = spans.summarise({"start": 0.0, "end": 1.0}, [])
    rows = [dict(base, name="pipeline.execute", op=i, wall_s=w) for i, w in enumerate([3.0, 1.0, 2.0])]
    out = spans.per_layer(rows, ["pipeline.execute", "sinks.mvt"])
    assert out["pipeline.execute.wall_s"] == 2.0
    assert out["sinks.mvt.wall_s"] == 0.0
    assert len(out) == 2 * len(spans.FIELDS)


def test_cpu_s_counts_this_process():
    before = run.cpu_s([os.getpid()])
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert run.cpu_s([os.getpid()]) - before >= 0.2
    assert run.cpu_s([2**22 + 1]) == 0  # no such process


def test_run_refuses_without_engine(tmp_path):
    """With only the benchmark's own files, the run fails fast and
    prints no result."""
    bench = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    shutil.copytree(bench, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tile_request", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
