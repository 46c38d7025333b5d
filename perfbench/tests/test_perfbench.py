"""Tests of the benchmark itself: its statistics, span arithmetic, metric
names, and a tiny-size run of every workload.

    python -m pytest perfbench/tests -q          # all (~4 min)
    python -m pytest perfbench/tests -q -k "not smoke"   # no Spark
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import stats
from perfbench.trace import Span, Tracer, self_time, stage_set, union_length

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- statistics ---------------------------------------------------------------


def test_tail_is_eleventh_largest_with_its_percentile():
    xs = list(range(1, 101))  # 1..100
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (90, 90.0, 100)
    # exactly ten samples lie above the reported value
    assert sum(1 for x in xs if x > value) == 10


def test_tail_with_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail([float(i) for i in range(11)]) == (0.0, 100.0 / 11, 11)


def test_tail_ignores_input_order():
    xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12, 0]
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_geomean_weighs_operations_equally():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 2.0, 2.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_median():
    assert stats.median([3, 1, 2]) == 2.0
    with pytest.raises(ValueError):
        stats.median([])


# -- spans ---------------------------------------------------------------------


def _span(i, a, b, parent=None):
    return Span(f"layer.call{i}", i, parent, 1, a, b)


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([], 0, 1) == 0
    assert union_length([(2, 1)], 0, 3) == 0


def test_self_time_subtracts_children_once():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 5.0, 1), _span(4, 8.0, 12.0, 1)]
    # children cover [1,5] and [8,10] inside the parent: 6 s
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("queries.x") as sp:
        assert sp is None
    assert tr.spans == []


def test_tracer_nests_and_shares_op_id():
    tr = Tracer(True)
    with tr.span("queries.q", op_id=7):
        with tr.span("queries.build"):
            pass
    outer, inner = tr.spans
    assert inner.parent_id == outer.span_id and inner.op_id == 7
    assert outer.start <= inner.start <= inner.end <= outer.end
    dumped = tr.dump()
    assert dumped[1]["parent_id"] == dumped[0]["span_id"]
    assert dumped[0]["self_s"] <= outer.duration


def test_stage_set_counts_skipped_stages_apart():
    sp = _span(1, 100.0, 110.0)
    stages = [
        {"description": "span-1", "submissionTime": 101_000, "completionTime": 103_000,
         "numCompleteTasks": 4, "executorRunTime": 4000, "executorCpuTime": 3e9,
         "jvmGcTime": 10, "shuffleReadBytes": 5, "shuffleWriteBytes": 6,
         "memoryBytesSpilled": 0, "inputBytes": 7,
         "taskMetricsDistributions": {"executorRunTime": [1000.0, 1500.0]}},
        {"description": "span-1", "submissionTime": None, "numCompleteTasks": 0},
        {"description": "span-9", "submissionTime": 101_000, "completionTime": 102_000,
         "numCompleteTasks": 1, "executorRunTime": 99},
    ]
    jobs = [{"jobGroup": "span-1"}, {"jobGroup": "span-9"}]
    st = stage_set([sp], stages, jobs)
    assert st["jobs"] == 1 and st["stages"] == 1 and st["skipped_stages"] == 1
    assert st["tasks"] == 4 and st["executor_run_s"] == 4.0
    assert st["task_skew"] == 1.5
    assert st["driver_gap_s"] == pytest.approx(8.0)  # 10 s span, 2 s of stages


# -- metric names --------------------------------------------------------------


def test_metric_names_are_valid_and_unique():
    spec = _bench_json()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(stats.valid_name(n) for n in names), names
    assert len(names) == len(set(names))
    assert stats.NAME_RE.fullmatch("graph.algorithms.pagerank.dist_s")
    assert not stats.valid_name("bad name")
    assert not stats.valid_name(".hidden")


# -- tiny-size runs of every workload ------------------------------------------


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in _bench_json()["workloads"]])
def test_smoke_emits_every_metric(workload):
    spec = _bench_json()
    detail, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["errors"]
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", [w["name"] for w in _bench_json()["workloads"]])
def test_smoke_traced_emits_every_per_layer_metric(workload):
    spec = _bench_json()
    detail, result = _run(workload, 1)
    assert result["correct"], detail["errors"]
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    with open(os.path.join(ROOT, detail["trace_file"])) as f:
        spans = json.load(f)["spans"]
    by_id = {s["span_id"]: s for s in spans}
    for s in spans:
        if s["parent_id"] is not None:  # every child lies inside its parent
            p = by_id[s["parent_id"]]
            assert p["start"] <= s["start"] <= s["end"] <= p["end"]
