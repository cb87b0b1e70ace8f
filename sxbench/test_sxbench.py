"""Tests of the benchmark itself.

    python3 -m pytest sxbench -q            # everything (smoke runs take minutes)
    python3 -m pytest sxbench -q -m "not smoke"   # Spark-free unit tests only
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_trace import Tracer  # noqa: E402
from stats import iqr_share, parse_sql_metric, quartiles, self_time, union_length  # noqa: E402
from workloads import Checks  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


# ───────────────────────────── unit tests ───────────────────────────────────

@pytest.mark.parametrize("text, value", [
    ("8,000", 8000.0),
    ("1,302", 1302.0),
    ("0", 0.0),
    ("3.5 MiB", 3.5 * 2**20),
    ("590.0 B", 590.0),
    ("487.0 KiB", 487.0 * 1024),
    ("2.0 GiB", 2.0 * 2**30),
    ("12 ms", 0.012),
    ("1.2 m", 72.0),
    ("total (min, med, max (stageId: taskId))\n6.1 s (190 ms, 1.1 s, 1.2 s (stage 2.0: task 3))", 6.1),
    ("total (min, med, max (stageId: taskId))\n35.4 KiB (3.6 KiB, 4.5 KiB, 5.4 KiB (stage 2.0: task 4))",
     35.4 * 1024),
    (None, 0.0),
])
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["n/a", "3 parsecs"])
def test_parse_sql_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_sql_metric(text)


def test_union_length():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3)]) == 3
    assert union_length([(0, 10), (2, 3), (4, 5)]) == 10
    assert union_length([(5, 6), (0, 1), (0.5, 2)]) == 3


def test_self_time_clips_children_to_the_parent():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (2, 4)]) == 7
    assert self_time(0, 10, [(-5, 2), (9, 20)]) == 7
    assert self_time(0, 10, [(11, 12)]) == 10


def test_quartiles_match_statistics():
    values = [9.6, 9.9, 10.4, 9.7, 12.0, 9.5, 9.8, 10.1, 9.6, 11.0]
    q1, q2, q3 = quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert iqr_share(values) == pytest.approx((q3 - q1) / q2)
    assert quartiles([4.0]) == (4.0, 4.0, 4.0)


def test_span_self_time_per_level():
    t = Tracer(spark=None, traced=False)
    t.run_span.update(start=0.0, end=10.0)
    p = t._span("pass", "p", t.run_span, 1.0, 9.0)
    c = t._span("call", "c", p, 2.0, 8.0)
    j1 = t._span("job", "j1", c, 3.0, 5.0)
    t._span("job", "j2", c, 4.0, 6.0)
    t._span("stage", "s", j1, 3.0, 4.0)
    selfs = t.self_times()
    assert selfs == {"run": 2.0, "pass": 2.0, "call": 3.0, "job": 3.0, "stage": 1.0}
    assert t.descendants(p["id"]) == {p["id"], c["id"], j1["id"], j1["id"] + 1, j1["id"] + 2}


def test_checks_count_failures():
    c = Checks()
    c.add("a", True, "ignored")
    c.add("b", False, "why")
    assert c.failed == 1
    assert c.results[0]["detail"] == "" and c.results[1]["detail"] == "why"


def test_memory_watch_peaks_per_interval():
    import time

    import host

    watch = host.MemoryWatch()
    watch.start()
    for _ in range(2):
        watch.resume()
        time.sleep(3 * host.WATCH_INTERVAL_S)
        watch.pause()
    peaks = watch.stop()
    assert len(peaks) == 2
    for python_mb, jvm_mb in peaks:
        assert python_mb > 0 and jvm_mb == 0  # this tree runs no JVM


def test_benchmark_json_names_match_the_runner():
    import run

    assert set(run.END_TO_END) == {m["name"] for m in BENCH["end_to_end"]}
    for m in BENCH["end_to_end"]:
        assert run.END_TO_END[m["name"]] == m["unit"]
    assert [m["name"] for m in BENCH["per_layer"]] == run.PER_LAYER
    for m in BENCH["per_layer"]:
        assert run.layer_unit(m["name"]) == m["unit"], m["name"]


# ───────────────────────────── smoke runs ───────────────────────────────────

# tiny inputs: a few hundred to a few thousand turns per workload
TINY = {"resume_groups": 0.05, "ops_suite": 0.4, "extract_volume": 0.002}


def _run(workload, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--scale", str(TINY[workload]), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


@pytest.mark.smoke
@pytest.mark.parametrize("workload", sorted(TINY))
def test_traced_run_reports_every_layer(workload):
    code, out = _run(workload, "--trace", "1")
    assert code == 0 and out["correct"] and out["failed"] == 0
    assert {m["name"] for m in BENCH["per_layer"]} <= set(out["metrics"])
    assert out["metrics"]["trace.jobs_delta"]["value"] == 0


@pytest.mark.smoke
@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_check_fails_on_corrupted_output(workload):
    code, out = _run(workload, "--trace", "0", "--corrupt")
    assert code != 0
    assert not out["correct"]
    assert set(out["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    records = os.path.join(ROOT, ".sxbench_work", "records")
    newest = max((f for f in os.listdir(records) if f.startswith(f"{workload}-seed7-trace0-")),
                 key=lambda f: os.path.getmtime(os.path.join(records, f)))
    with open(os.path.join(records, newest)) as f:
        checks = json.load(f)["checks"]
    assert checks and not any(c["ok"] for c in checks)
    assert out["failed"] == len(checks) < out["attempted"]


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "sxbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "sxbench/run.py", "--workload", "ops_suite", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
