"""Tests of the benchmark harness itself. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
sys.path.insert(0, PERFBENCH)
sys.path.insert(0, os.path.dirname(PERFBENCH))  # the engine, for workloads

import run as R  # noqa: E402
import tracing as T  # noqa: E402
import workloads as W  # noqa: E402


def test_seed_fixes_unit_order_and_area_selection():
    names = [f"u{i}" for i in range(8)]
    assert W.seeded_order(names, 7) == W.seeded_order(names, 7)
    assert W.area_selection(7) == W.area_selection(7)
    assert sorted(W.seeded_order(names, 7)) == names
    sel = W.area_selection(7)
    assert len(set(sel)) == W.N_SELECTED and set(sel) <= set(range(W.N_AREAS))
    # different seeds give different calls
    assert len({tuple(W.seeded_order(names, s)) for s in range(10)}) > 1
    assert len({tuple(W.area_selection(s)) for s in range(10)}) > 1


def test_self_time_subtracts_nested_and_overlapping_children():
    spans = [
        T.Span("plans", 0.0, 10.0),
        T.Span("eta", 1.0, 3.0, parent=0),
        T.Span("relational", 1.5, 2.0, parent=1),
        # two sink writers overlapping in a pool: covered time is 5..9
        T.Span("sinks.a", 5.0, 8.0, parent=0),
        T.Span("sinks.b", 6.0, 9.0, parent=0),
    ]
    selfs = T.self_intervals(spans)
    assert [sum(e - s for s, e in iv) for iv in selfs] == pytest.approx([4.0, 1.5, 0.5, 3.0, 3.0])
    assert selfs[0] == [(0.0, 1.0), (3.0, 5.0), (9.0, 10.0)]


def test_recorder_nests_spans_and_parents_pool_threads():
    import threading

    rec = T.SpanRecorder()
    outer = rec.open("outer")
    inner = rec.open("inner")
    rec.close(inner)
    t = threading.Thread(target=lambda: rec.close(rec.open("worker")))
    t.start()
    t.join(timeout=10)
    assert not t.is_alive()
    rec.close(outer)
    spans = rec.reset()
    assert [(s.layer, s.parent) for s in spans] == [
        ("outer", None), ("inner", 0), ("worker", 0),
    ]


def test_jobs_are_attributed_by_submission_time():
    jobs = [T.SparkJob(i, float(t), float(t) + 0.5, []) for i, t in enumerate((1, 2, 5))]
    assert [j.job_id for j in T.jobs_in(jobs, [(0.0, 1.5), (4.0, 6.0)])] == [0, 2]


class _FakeRun(R.Run):
    """The timed loop without a Spark session."""

    def storage(self):
        return 0.0, 0

    def release(self, baseline):
        return 0.0


def _unit(name, fails=False, bad_output=False):
    def build():
        if fails:
            raise RuntimeError("injected")
        return [1, 2, 3]

    def check(result):
        if bad_output:
            raise W.CheckFailed("wrong rows")
        return len(result)

    return W.Unit(name, build, check)


def test_raising_unit_is_counted_and_the_run_goes_on():
    args = argparse.Namespace(workload="operators", seed=1, seconds=0.0, trace=0)
    run = _FakeRun(args, work="")
    units = [_unit("ok"), _unit("raises", fails=True), _unit("wrong", bad_output=True),
             _unit("ok2")]
    run.timed_passes(units, (0.0, 0))
    assert [u["unit"] for u in run.units] == ["ok", "raises", "wrong", "ok2"]
    assert [u["ok"] for u in run.units] == [True, False, False, True]
    assert "injected" in run.units[1]["error"]
    assert len(run.passes) == 1
    run.t_first, run.data_s = R.T_PROCESS, 0.0
    m = run.e2e_metrics()
    assert [n for n, _ in R.metric_names()["end_to_end"]] == list(m)
    assert m["items_per_s"] > 0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = R.metric_names()
    for section in ("end_to_end", "per_layer"):
        assert [(m["name"], m["unit"]) for m in spec[section]] == names[section]
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert sorted(R.WARMUP_PASSES) == sorted(R.MIN_PASSES) == sorted(W.WORKLOADS)


def test_generated_tables_are_deterministic():
    import datagen

    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    assert all(a[n].equals(b[n]) for n in a)
    assert a["lineitem"].num_rows == 6000
    # as in the fixture tables, the text and vector tables keep 500 rows
    assert a["documents"].num_rows == a["embeddings"].num_rows == 500


def test_dijkstra_reference_on_a_line():
    edges = [(0, 1, 5), (1, 0, 5), (1, 2, 1), (2, 1, 1)]
    assert W.dijkstra_by_type(edges, {0: [0], 1: [2, 0]}) == {
        0: {0: 0, 1: 5, 2: 6}, 1: {0: 0, 1: 1, 2: 0},
    }
