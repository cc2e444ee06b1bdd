"""Tests of the benchmark's own code: span and interval arithmetic, the
metric list in BENCHMARK.json, and a tiny-size smoke run per workload.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import run
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_union_length_merges_overlaps_and_clips():
    assert spans.union_length([], 0, 10) == 0
    assert spans.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert spans.union_length([(1, 4), (1, 4), (2, 3)], 0, 10) == 3
    assert spans.union_length([(11, 12)], 0, 10) == 0


def _span(tracer, name, start, end, parent=None, op_id=None):
    sp = spans.Span(name, start, end, parent, op_id, len(tracer.spans))
    tracer.spans.append(sp)
    return sp.sid


def test_self_time_subtracts_union_of_children():
    t = spans.Tracer(True)
    root = _span(t, "op", 0.0, 10.0)
    a = _span(t, "a", 1.0, 4.0, root)
    _span(t, "b", 3.0, 6.0, root)  # overlaps a: union 1..6 = 5
    _span(t, "c", 2.0, 3.0, a)
    selfs = t.self_times()
    assert selfs[root] == pytest.approx(5.0)
    assert selfs[a] == pytest.approx(2.0)
    assert sum(1 for s in t.spans if s.parent == root) == 2


def test_spans_nest_and_inherit_op_id():
    t = spans.Tracer(True)
    with t.span("op", op_id=7):
        with t.span("child"):
            pass
    with t.span("outside"):
        pass
    op, child, outside = t.spans
    assert child.parent == op.sid and child.op_id == 7
    assert outside.parent is None and outside.op_id is None
    off = spans.Tracer(False)
    with off.span("op", op_id=1):
        pass
    assert off.spans == []


def test_tail_is_highest_percentile_with_ten_beyond():
    assert spans.tail(list(range(10))) is None
    assert spans.tail(list(range(11))) == (9, 0)
    assert spans.tail([float(i) for i in range(100)]) == (90, 89.0)


def test_benchmark_json_lists_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["etl_daily", "index_maintain"])
def test_tiny_run_prints_every_metric_and_passes_checks(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.per_layer_units() if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
