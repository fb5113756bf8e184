"""Spans around calls into the engine's layers, and Spark's own counters.

A span records ``name``, ``layer``, ``start``, ``end``, its parent span and
the request it belongs to. Spans stay in memory and are written out when
the run ends. Each span below a request root gets its own job group
(``SparkContext.setJobGroup``), so jobs, stages, tasks and task metrics can
be attributed to the exact call that caused them: job ids per group come
from ``statusTracker()``, task metrics from the event log, which is parsed
after the session stops.

A layer's self time is the time its spans cover minus the part of that
interval their child spans cover.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from collections.abc import Iterator
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    group: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its children."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.sid: s.duration - _covered(children[s.sid], s.start, s.end) for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Sum of self times per layer."""
    out: dict[str, float] = defaultdict(float)
    st = self_times(spans)
    for s in spans:
        out[s.layer] += st[s.sid]
    return dict(out)


class Tracer:
    """Collects spans; a disabled tracer records nothing and sets no job
    groups, so untraced runs pay only the ``with`` statement."""

    def __init__(self, enabled: bool, sc=None, clock=time.perf_counter):
        self.enabled = enabled
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._request: int | None = None
        self.hook_s = 0.0  # time spent inside the tracer's own bookkeeping

    @contextlib.contextmanager
    def request(self, name: str, timed: bool) -> Iterator[None]:
        """Root span of one request (a panel, an append or a query); only
        ``timed`` requests count towards the per-layer metrics."""
        with self.span("request", name) as s:
            prev, self._request = self._request, (s.sid if s else None)
            if s is not None:
                s.request = s.sid
                s.attrs["timed"] = timed
            try:
                yield
            finally:
                self._request = prev

    @contextlib.contextmanager
    def span(self, layer: str, name: str) -> Iterator[Span | None]:
        """A span around one call; once ``sc`` is set, every span but a
        request root runs its Spark jobs under its own job group."""
        if not self.enabled:
            yield None
            return
        t0 = self.clock()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            name=name,
            layer=layer,
            start=0.0,
            parent=parent.sid if parent else None,
            request=self._request,
        )
        self.spans.append(s)
        self._stack.append(s)
        grouped = self.sc is not None and layer != "request"
        if grouped:
            s.group = f"{layer}:{name}:{s.sid}"
            self.sc.setJobGroup(s.group, f"{layer} {name}")
        t1 = self.clock()
        self.hook_s += t1 - t0
        s.start = t1
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if grouped:
                # back to the enclosing span's group, or none
                outer = next((p.group for p in reversed(self._stack) if p.group), None)
                if outer:
                    self.sc.setJobGroup(outer, outer)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.hook_s += self.clock() - s.end

    def job_ids(self) -> dict[str, list[int]]:
        """Job ids per job group, from ``statusTracker()``."""
        if self.sc is None:
            return {}
        tracker = self.sc.statusTracker()
        return {
            s.group: sorted(tracker.getJobIdsForGroup(s.group))
            for s in self.spans
            if s.group
        }

    def to_json(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {
                "id": s.sid,
                "name": s.name,
                "layer": s.layer,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "parent": s.parent,
                "request": s.request,
                "group": s.group,
                "self_s": round(st[s.sid], 6),
                **({"attrs": s.attrs} if s.attrs else {}),
            }
            for s in self.spans
        ]


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

MB = 1024.0 * 1024.0


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    empty_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_records: int = 0

    def add(self, other: GroupMetrics) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def as_dict(self) -> dict:
        return {k: round(v, 6) if isinstance(v, float) else v for k, v in self.__dict__.items()}


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single (uncompressed, non-rolling) log in ``log_dir``."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def metrics_by_group(events: list[dict]) -> dict[str, GroupMetrics]:
    """Jobs, stages and task metrics per job group.

    A stage belongs to the group of the first job that lists it; a task to
    its stage. A task is empty when it read no input and no shuffle
    records: scheduling it was wasted work.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            out[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            g = out[stage_group.get(ev["Stage ID"], "")]
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            records = (m.get("Input Metrics") or {}).get("Records Read", 0) + sr.get(
                "Total Records Read", 0
            )
            g.tasks += 1
            g.empty_tasks += records == 0
            g.input_records += records
            g.run_s += m.get("Executor Run Time", 0) / 1e3
            g.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    return dict(out)
