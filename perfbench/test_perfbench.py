"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import inputs, run, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class _Workload:
    """A fake workload whose calls return fixed frames."""

    def __init__(self, calls):
        self.calls = calls

    def pass_calls(self, spark, index):
        return self.calls


def _result(name, start, latency, layer="query", **attrs):
    return run.CallResult(name, layer, start, start + latency / 2, start + latency, True,
                          rows=1, attrs=attrs)


def test_every_end_to_end_metric_is_emitted_with_its_unit():
    calls = [_result(f"q{i}", 100.0 + i, 0.5 + i / 10) for i in range(25)]
    metrics, context = run.end_to_end(7.0, 30.0, calls, [12.0, 12.5], 1500.0)
    declared = {m["name"]: m["unit"] for m in _declared()["end_to_end"]}
    assert {k: u for k, (_, u) in metrics.items()} == declared
    assert all(v > 0 for v, _ in metrics.values())
    assert context["latency_samples"] == 25 and context["tail_percentile"] == 100.0


def test_every_per_layer_metric_is_emitted_with_its_unit():
    tracer = trace.Tracer()
    root = tracer.open("workload", "w", None)
    call = tracer.open("call", "q", root)
    fn = tracer.open("fn", "q", call)
    for s in (fn, call, root):
        tracer.close(s)
    calls = [run.CallResult("q", "hgt.decode", fn.start, fn.end, fn.end, True, 3,
                            attrs={"points": 10})]
    streams = SimpleNamespace(started={}, ended={}, progress=[])
    metrics = run.layer_metrics(tracer, calls, [1.0], [1.0], [], [], streams, {})
    declared = {m["name"]: m["unit"] for m in _declared()["per_layer"]}
    assert {k: u for k, (_, u) in metrics.items()} == declared


def test_wrong_expected_hash_counts_as_failed():
    pdf = pd.DataFrame({"b": [2, 1], "a": ["x", "y"]})
    good = workloads.canonical_hash(pdf.iloc[::-1])  # row order does not matter
    bad = workloads.canonical_hash(pd.DataFrame({"b": [2, 1], "a": ["x", "z"]}))
    wl = _Workload([
        workloads.Call("right", "query", lambda: _Frame(pdf), workloads.hash_check(good)),
        workloads.Call("wrong", "query", lambda: _Frame(pdf), workloads.hash_check(bad)),
        workloads.Call("raises", "query", lambda: 1 / 0, workloads.hash_check(good)),
    ])
    results, _ = run.run_pass(None, wl, 0)
    assert [r.ok for r in results] == [True, False, False]
    assert results[2].error.startswith("ZeroDivisionError")


def test_self_time_subtracts_the_union_of_children():
    tracer = trace.Tracer()
    parent = trace.Span(0, None, "call", "p", 0.0, 10.0)
    tracer.spans.append(parent)
    for start, end in [(1.0, 3.0), (2.0, 5.0), (7.0, 8.0), (9.5, 12.0)]:
        tracer.add("job", "j", start, end)
    # children cover [1,5] ∪ [7,8] ∪ [9.5,10] = 5.5 of the parent's 10 s
    assert tracer.self_time(parent) == pytest.approx(4.5)
    assert all(s.parent == 0 for s in tracer.spans[1:])


def test_children_attach_to_the_innermost_span():
    tracer = trace.Tracer()
    outer = trace.Span(0, None, "pass", "p", 0.0, 10.0)
    inner = trace.Span(1, 0, "collect", "c", 4.0, 6.0)
    tracer.spans += [outer, inner]
    job = tracer.add("job", "j", 4.5, 5.0)
    assert job.parent == inner.id
    assert tracer.self_time(inner) == pytest.approx(1.5)
    assert tracer.self_time(outer) == pytest.approx(8.0)


def test_union_length_clips_to_the_window():
    assert trace.union_length([(-1.0, 2.0), (1.0, 3.0), (8.0, 20.0)], 0.0, 10.0) == 5.0
    assert trace.union_length([], 0.0, 1.0) == 0.0


def test_tail_rule():
    values = list(range(1, 201))
    pct, v = run.tail(values)
    assert v == 190 and sum(1 for x in values if x > v) == 10
    assert pct == pytest.approx(95.0)
    assert run.tail(list(range(1, 31))) == (100.0, 30)
    assert run.tail([3.0, 1.0, 2.0]) == (100.0, 3.0)


def test_hgt_inputs_follow_the_seed_and_ground_truth_matches_brute_force():
    a = inputs.make_hgt_cells(5, 2, n=21)
    b = inputs.make_hgt_cells(5, 2, n=21)
    assert [c.name for c in a] == [c.name for c in b]
    assert all(np.array_equal(x.grid, y.grid) for x, y in zip(a, b))
    assert not np.array_equal(inputs.make_hgt_cells(6, 2, n=21)[0].grid, a[0].grid)
    assert (a[1].lat, a[1].lng) == (a[0].lat + 1, a[0].lng)
    box = (a[0].lat + 0.61, a[1].lat + 0.33, a[0].lng + 0.21, a[0].lng + 0.77)
    got = inputs.box_rollup(a, box)
    points, valid = 0, []
    for c in a:
        lats, lngs = inputs.cell_axes(c.lat, c.lng, 21)
        for r, la in enumerate(lats):
            for k, lo in enumerate(lngs):
                if box[0] <= la <= box[1] and box[2] <= lo <= box[3]:
                    points += 1
                    if c.grid[r, k] != inputs.VOID:
                        valid.append(int(c.grid[r, k]))
    assert valid and got == (points, points - len(valid), min(valid), max(valid), sum(valid))


def test_boxes_avoid_grid_lines():
    cells = inputs.make_hgt_cells(3, 4, n=inputs.HGT_N)
    for box in inputs.make_boxes(3, cells, 6):
        steps = np.array(box) * (inputs.HGT_N - 1)
        assert np.all(np.abs(steps - np.round(steps)) > 0.25)


def test_events_table_is_fixed():
    a, b = inputs.make_events(), inputs.make_events()
    assert a.equals(b) and a.num_rows == inputs.EVENT_ROWS
    assert a.schema.field("ts").type == "timestamp[us]"
