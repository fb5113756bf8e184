"""Span output, self time and event-log attribution on hand-built inputs.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import pytest

from perfbench.spans import (
    Span,
    Tracer,
    layer_self_times,
    metrics_by_group,
    read_event_log,
    self_times,
)


def tree() -> list[Span]:
    """request 0..10 with children sources 1..2, plans 2..4 (which has a
    child operators 3..3.5), operators 4..9 and an overlapping operators
    8..9.5 (overlap with its sibling counts once)."""
    return [
        Span(0, "kpi", "request", 0.0, 10.0),
        Span(1, "read_curated", "sources", 1.0, 2.0, parent=0),
        Span(2, "kpi_panel", "plans", 2.0, 4.0, parent=0),
        Span(3, "eager", "operators", 3.0, 3.5, parent=2),
        Span(4, "kpi", "operators", 4.0, 9.0, parent=0),
        Span(5, "late", "operators", 8.0, 9.5, parent=0),
    ]


def test_self_time_subtracts_union_of_children():
    st = self_times(tree())
    # children of 0 cover [1,2] + [2,4] + [4,9.5] = 8.5 of 10
    assert st[0] == pytest.approx(1.5)
    assert st[2] == pytest.approx(1.5)
    assert st[1] == pytest.approx(1.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(5.0)


def test_layer_self_times_sum_to_root_duration():
    by_layer = layer_self_times(tree()[:5])
    assert by_layer == pytest.approx(
        {"request": 2.0, "sources": 1.0, "plans": 1.5, "operators": 5.5}
    )
    assert sum(by_layer.values()) == pytest.approx(10.0)


def test_child_outside_parent_is_clipped():
    spans = [Span(0, "p", "a", 0.0, 1.0), Span(1, "c", "b", 0.5, 3.0, parent=0)]
    assert self_times(spans)[0] == pytest.approx(0.5)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        self.t += 1.0
        return self.t


class FakeContext:
    """Records job-group calls the way SparkContext takes them."""

    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, description):
        self.calls.append(("set", group))

    def setLocalProperty(self, key, value):
        self.calls.append(("clear", value))


def test_tracer_nests_spans_and_job_groups():
    sc = FakeContext()
    tr = Tracer(True, sc=sc, clock=FakeClock())
    with tr.request("kpi", timed=True):
        with tr.span("sources", "read"):
            pass
        with tr.span("operators", "kpi"):
            with tr.span("operators", "inner"):
                pass
    out = tr.to_json()
    assert [s["name"] for s in out] == ["kpi", "read", "kpi", "inner"]
    assert [s["parent"] for s in out] == [None, 0, 0, 2]
    assert {s["request"] for s in out} == {0}
    assert out[0]["attrs"] == {"timed": True}
    groups = [s["group"] for s in out]
    assert groups[0] is None and len(set(groups[1:])) == 3
    # the inner span restores the outer span's group, the outer ones clear it
    assert sc.calls == [
        ("set", groups[1]),
        ("clear", None),
        ("set", groups[2]),
        ("set", groups[3]),
        ("set", groups[2]),
        ("clear", None),
    ]
    assert all(s["end"] >= s["start"] for s in out)
    assert tr.hook_s > 0


def test_disabled_tracer_records_nothing():
    sc = FakeContext()
    tr = Tracer(False, sc=sc)
    with tr.request("kpi", timed=True):
        with tr.span("operators", "kpi") as s:
            assert s is None
    assert tr.spans == [] and sc.calls == []


def _task(stage, records=0, shuffle=0, cpu_ns=0, gc_ms=0, written=0, spilled=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": 10,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spilled,
            "Disk Bytes Spilled": 0,
            "Input Metrics": {"Records Read": records},
            "Shuffle Read Metrics": {
                "Remote Bytes Read": 0,
                "Local Bytes Read": shuffle,
                "Total Records Read": 1 if shuffle else 0,
            },
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    mb = 1024 * 1024
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "operators:kpi:4"}},
        _task(0, records=100, cpu_ns=2_000_000_000, written=mb),
        _task(0, records=0),
        _task(1, shuffle=mb, gc_ms=500, spilled=2 * mb),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task(2, records=5),
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = metrics_by_group(read_event_log(str(tmp_path)))
    g = groups["operators:kpi:4"]
    assert (g.jobs, g.stages, g.tasks, g.empty_tasks) == (1, 2, 3, 1)
    assert g.cpu_s == pytest.approx(2.0)
    assert g.gc_s == pytest.approx(0.5)
    assert g.shuffle_read_mb == pytest.approx(1.0)
    assert g.shuffle_write_mb == pytest.approx(1.0)
    assert g.spill_mb == pytest.approx(2.0)
    # a job outside any group lands under ""
    assert groups[""].jobs == 1 and groups[""].tasks == 1


def test_event_log_must_be_a_single_file(tmp_path):
    with pytest.raises(RuntimeError):
        read_event_log(str(tmp_path))
