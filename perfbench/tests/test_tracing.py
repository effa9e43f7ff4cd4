"""Span arithmetic and aggregation, without Spark."""

import pytest

from perfbench.tracing import (
    LAYERS, Span, Tracer, covered, fixpoint_metrics, layer_metrics, self_time,
)


def _span(sid, start, end, parent=None, children=()):
    s = Span(sid, f"s{sid}", "extract", "call", parent, start, end)
    s.children = list(children)
    return s


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_children_at_every_depth():
    # root [0,10] > a [1,4] > b [2,3];  root > c [5,9]
    spans = {
        0: _span(0, 0, 10, children=[1, 3]),
        1: _span(1, 1, 4, parent=0, children=[2]),
        2: _span(2, 2, 3, parent=1),
        3: _span(3, 5, 9, parent=0),
    }
    got = {sid: self_time(s, spans) for sid, s in spans.items()}
    assert got == pytest.approx({0: 3, 1: 2, 2: 1, 3: 4})
    # self times partition the root's duration
    assert sum(got.values()) == pytest.approx(spans[0].duration)


class FakeSC:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):
        return self.props.get(k)

    def setLocalProperty(self, k, v):
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v


def test_nested_spans_restore_the_parent_job_group():
    sc = FakeSC()
    t = Tracer(sc)
    with t.span("run", None, "run") as root:
        with t.span("outer", "graph", "call") as outer:
            assert sc.props["spark.jobGroup.id"] == outer.group
            with t.span("inner", "closure", "call") as inner:
                assert sc.props["spark.jobGroup.id"] == inner.group
                assert t.enclosing_layer() == "closure"
            assert sc.props["spark.jobGroup.id"] == outer.group
        assert sc.props["spark.jobGroup.id"] == root.group
    assert "spark.jobGroup.id" not in sc.props
    assert [s.parent for s in t.spans] == [None, 0, 1]
    assert t.last_call_layer(root) == "graph"
    assert 0 < t.overhead_s < root.duration
    t.reset()
    assert t.spans == [] and t.overhead_s == 0


def test_force_span_is_charged_to_the_nearest_non_checkpoint_layer():
    t = Tracer(FakeSC())
    with t.span("run_stage", "link", "stage"):
        with t.span("StageStore.write", "checkpoint", "call"):
            assert t.enclosing_layer() == "link"
    assert t.enclosing_layer() == "checkpoint"


def test_layer_metrics_sum_self_time_jobs_and_coverage():
    records = [
        {"sid": 0, "parent": None, "layer": None, "kind": "run", "start": 0.0,
         "end": 10.0, "self_s": 0.25},
        {"sid": 1, "parent": 0, "layer": "closure", "kind": "call", "start": 1.0,
         "end": 4.0, "self_s": 3.0, "jobs": 4, "tasks": 10, "failed_tasks": 1,
         "shuffle_bytes": 2_000_000, "spill_bytes": 0},
        {"sid": 2, "parent": 0, "layer": "closure", "kind": "call", "start": 4.0,
         "end": 6.5, "self_s": 2.5, "jobs": 2, "tasks": 6, "failed_tasks": 0,
         "shuffle_bytes": 1_000_000, "spill_bytes": 500_000},
        {"sid": 3, "parent": 0, "layer": "pipeline", "kind": "call", "start": 6.5,
         "end": 10.0, "self_s": 0.25},
        {"sid": 4, "parent": 3, "layer": "entry", "kind": "query", "start": 6.5,
         "end": 9.75, "self_s": 3.25, "jobs": 1, "tasks": 1},
    ]
    m = layer_metrics(records, [])
    assert m["closure.busy_s"] == pytest.approx(5.5)
    assert m["closure.calls"] == 2
    assert m["closure.jobs"] == 6
    assert m["closure.jobs_per_call"] == 3
    assert m["closure.failed_tasks"] == 1
    assert m["closure.shuffle_mb"] == pytest.approx(3.0)
    assert m["closure.spill_mb"] == pytest.approx(0.5)
    assert m["entry.calls"] == 0 and m["entry.busy_s"] == pytest.approx(3.25)
    assert m["canon.jobs_per_call"] == 0
    # the root's and the pipeline glue's self time are not covered
    assert m["trace.coverage"] == pytest.approx(0.95)
    assert m["trace.run_s"] == pytest.approx(10.0)
    assert {f"{l}.busy_s" for l in LAYERS} <= set(m)


def test_layer_metrics_leave_out_spans_outside_the_root():
    records = [
        {"sid": 0, "parent": None, "layer": None, "kind": "run", "start": 0.0,
         "end": 2.0, "self_s": 0.0},
        {"sid": 1, "parent": 0, "layer": "checkpoint", "kind": "call",
         "start": 0.0, "end": 2.0, "self_s": 2.0, "jobs": 1},
        # the output check reads the store after the timer stopped
        {"sid": 2, "parent": None, "layer": "checkpoint", "kind": "call",
         "start": 3.0, "end": 5.0, "self_s": 1.5, "jobs": 3},
        {"sid": 3, "parent": 2, "layer": "checkpoint", "kind": "call",
         "start": 3.5, "end": 4.0, "self_s": 0.5, "jobs": 1},
    ]
    m = layer_metrics(records, [])
    assert m["checkpoint.calls"] == 1
    assert m["checkpoint.jobs"] == 1
    assert m["checkpoint.busy_s"] == pytest.approx(2.0)
    assert m["trace.coverage"] == pytest.approx(1.0)


def test_job_groups_are_unique_across_iterations():
    t = Tracer(FakeSC())
    groups = set()
    for _ in range(3):
        t.reset()
        with t.span("run", None, "run") as root:
            with t.span("q", "entry", "query") as q:
                pass
        groups |= {root.group, q.group}
    assert len(groups) == 6


def test_fixpoint_metrics_from_the_returned_log():
    log = [
        {"iter": 1, "stratum": "positive", "new": 10, "sec": 2.0},
        {"iter": 2, "stratum": "positive", "new": 3, "sec": 4.0, "plan_sec": 0.5},
        {"iter": 3, "stratum": "positive", "new": 0, "sec": 1.0, "plan_sec": 0.25},
        {"iter": 3, "stratum": "inherit", "new": 7, "inject_sec": 3.0},
        {"stratum": "detach", "sec": 0.1},
        {"stratum": "contra-plan", "sec": 0.8},
    ]
    m = fixpoint_metrics([log])
    assert m["reasoning.rounds"] == 4
    assert m["reasoning.round_s"] == pytest.approx(2.5)
    assert m["reasoning.plan_s"] == pytest.approx(0.75)
    assert m["reasoning.useful_round_ratio"] == pytest.approx(0.75)
    assert fixpoint_metrics([])["reasoning.rounds"] == 0
