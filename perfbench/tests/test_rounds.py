"""The timed region's rounds and the tracing overhead taken from them.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import pytest

from perfbench import workloads
from perfbench.spans import Tracer
from perfbench.workloads import MIN_ROUNDS, TRACE_BLOCK, Result, timed_rounds


@pytest.fixture
def fake_clock(monkeypatch):
    """A clock that only moves when a round runs."""
    now = [0.0]
    monkeypatch.setattr(workloads, "clock", lambda: now[0])
    return now


def _round(now, tr, states, cost_on, cost_off):
    def one_round():
        states.append(tr.enabled)
        now[0] += cost_on if tr.enabled else cost_off

    return one_round


def test_untraced_run_times_at_least_min_rounds(fake_clock):
    res = Result("w", 1, 10.0, {})
    tr = Tracer(False)
    states: list[bool] = []
    timed_rounds(res, 10.0, _round(fake_clock, tr, states, 0.0, 4.0), tr)
    # 4 s rounds: a third would end at 12 s > 10 s, so two rounds only
    assert res.rounds == [4.0] * MIN_ROUNDS
    assert res.untraced_rounds == [] and states == [False] * MIN_ROUNDS


def test_untraced_run_adds_rounds_that_fit(fake_clock):
    res = Result("w", 1, 10.0, {})
    tr = Tracer(False)
    timed_rounds(res, 10.0, _round(fake_clock, tr, [], 0.0, 3.0), tr)
    assert res.rounds == [3.0, 3.0, 3.0]


def test_traced_run_pairs_traced_and_untraced_rounds(fake_clock):
    res = Result("w", 1, 10.0, {})
    tr = Tracer(True)
    states: list[bool] = []
    timed_rounds(res, 10.0, _round(fake_clock, tr, states, 5.5, 5.0), tr)
    # one block of four: a second one would end at 42 s > 2 * 10 s
    assert states == list(TRACE_BLOCK)
    assert res.rounds == [5.5, 5.5] and res.untraced_rounds == [5.0, 5.0]
    assert res.tracing_overhead_s() == pytest.approx(0.5)
    assert tr.enabled  # switched back on for what follows the timed region


def test_traced_run_adds_blocks_that_fit(fake_clock):
    res = Result("w", 1, 10.0, {})
    tr = Tracer(True)
    states: list[bool] = []
    timed_rounds(res, 10.0, _round(fake_clock, tr, states, 1.0, 1.0), tr)
    # 4 s blocks: after the fourth (16 s) a fifth would end at 20 s, not
    # later than 2 * 10 s, so it runs; a sixth would not fit
    assert states == list(TRACE_BLOCK) * 5
    assert len(res.rounds) == len(res.untraced_rounds) == 10


def test_traced_run_restores_tracer_after_a_failing_round(fake_clock):
    tr = Tracer(True)

    def boom():
        raise RuntimeError("round failed")

    with pytest.raises(RuntimeError):
        timed_rounds(Result("w", 1, 10.0, {}), 10.0, boom, tr)
    assert tr.enabled
