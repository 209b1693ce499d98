"""Tests for the benchmark's own code: statistics, span self-time, the event-log
reader, the metric lists in BENCHMARK.json, and a toy-size smoke run of each
workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402
import tracing  # noqa: E402
from tracing import Span  # noqa: E402


# -- stats -------------------------------------------------------------------------

@pytest.mark.parametrize("xs", [[3.0], [1.0, 2.0], [5.0, 1.0, 3.0, 2.0, 4.0], [0.5] * 7])
def test_p50_is_the_median(xs):
    assert stats.percentile(xs, 50) == pytest.approx(statistics.median(xs))


def test_percentile_interpolates_between_ranks():
    xs = list(range(1, 11))  # 1..10
    assert stats.percentile(xs, 0) == 1
    assert stats.percentile(xs, 100) == 10
    assert stats.percentile(xs, 85) == pytest.approx(8.65)


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert stats.supported_percentile(75, 85)
    assert not stats.supported_percentile(66, 85)
    assert not stats.supported_percentile(20, 90)
    assert stats.supported_percentile(100, 90)


def test_tail_percentile_is_the_highest_supported():
    assert stats.tail_percentile([1.0] * 20) is None
    q, v = stats.tail_percentile([float(i) for i in range(100)])
    assert q == 90 and v == pytest.approx(89.1)
    assert stats.tail_percentile([1.0] * 1000)[0] == 99


def test_error_rate():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_relative_spread_matches_quartiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 10.2, 9.8, 10.1, 9.9]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.relative_spread(xs) == pytest.approx((q3 - q1) / med)


# -- spans -------------------------------------------------------------------------

def _spans():
    # step [0, 10) with children [1, 4) and [3, 6) overlapping, and [8, 9);
    # the first child has its own child [1, 2)
    return [
        Span(0, "step", None, 0, 0.0, 10.0),
        Span(1, "bronze.land", 0, 0, 1.0, 4.0),
        Span(2, "silver.apply", 0, 0, 3.0, 6.0),
        Span(3, "gold.refresh", 0, 0, 8.0, 9.0),
        Span(4, "bronze.inner", 1, 0, 1.0, 2.0),
    ]


def test_self_time_subtracts_union_of_children():
    st = tracing.self_times(_spans())
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)  # children cover [1,6) and [8,9)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_step_coverage():
    assert tracing.step_coverage(_spans()) == [pytest.approx(0.6)]


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(False)
    with t.span("step", step=0) as sp:
        assert sp is None
    assert t.spans == []


def test_tracer_nests_and_inherits_step():
    t = tracing.Tracer(True)
    with t.span("step", step=3):
        with t.span("gold.refresh"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.span_id and inner.step == 3
    assert inner.layer == "gold"
    assert outer.start <= inner.start <= inner.end <= outer.end


# -- event log ---------------------------------------------------------------------

def _task(stage, cpu_ns, gc_ms, read=0, written=0, spilled=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
        "Memory Bytes Spilled": spilled, "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


@pytest.fixture
def event_log(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "App Name": "x"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "span-1"}},
        _task(0, 2_000_000_000, 100, written=500),
        _task(1, 1_000_000_000, 0, read=500, spilled=64),
        # job 1 reuses stage 1 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "span-3"}},
        _task(2, 500_000_000, 50),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        _task(3, 1_000_000_000, 0),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3},  # failed task: no metrics
    ]
    p = tmp_path / "local-1"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(p)


def test_event_log_sums_tasks_per_job_group(event_log):
    by_group = tracing.read_event_log(event_log)
    assert by_group["span-1"] == {"cpu_s": 3.0, "gc_s": 0.1, "shuffle_bytes": 1000,
                                  "spill_bytes": 64, "tasks": 2}
    assert by_group["span-3"]["tasks"] == 1 and by_group["span-3"]["cpu_s"] == 0.5
    assert by_group[""]["tasks"] == 1


def test_layer_totals_join_spans_to_event_log(event_log):
    totals = tracing.layer_totals(_spans(), tracing.read_event_log(event_log),
                                  ["bronze", "silver", "gold"])
    assert totals["bronze.cpu_s"] == 3.0
    assert totals["gold.tasks"] == 1
    assert totals["silver.tasks"] == 0
    assert totals["bronze.self_s"] == pytest.approx(2.0 + 1.0)  # land + inner
    assert totals["gold.self_s"] == pytest.approx(1.0)


# -- BENCHMARK.json ----------------------------------------------------------------

def test_metric_lists_match_benchmark_json():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["cdc_tail", "registry"]


# -- runs --------------------------------------------------------------------------

def test_refuses_to_run_without_program_source(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "registry",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", ["cdc_tail", "registry"])
@pytest.mark.parametrize("trace", [0, 1])
def test_toy_run(workload, trace):
    import run

    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace),
                        "--size", "toy"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.per_layer_units() if trace else run.E2E
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["trace.coverage_pct"]["value"] >= 90
