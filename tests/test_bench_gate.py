"""bench.py's one clean-window gate: every timed leg goes through
``_timed_reps``, which waits on the DEFLATE canary (``perfbench/canary.py``)
before a leg and after a dirty rep, and stamps each wall with one canary
reading. Spark-free: the canary, the clock and the timed job are fakes."""

from __future__ import annotations

import types

import pytest

import bench

CLEAN, DIRTY = 1.0, 5.0


@pytest.fixture
def gate(monkeypatch):
    """Scripted walls and canary readings; ``events`` logs every wait,
    run and probe in order."""
    state = types.SimpleNamespace(now=0.0, walls=[], readings=[], events=[])

    def wait_clean(threshold_ms, max_wait_s):
        state.events.append(("wait", max_wait_s))
        return CLEAN

    def probe_ms():
        state.events.append("probe")
        return state.readings.pop(0) if state.readings else CLEAN

    def run(r):
        state.events.append(("run", r))
        state.now += state.walls[r]

    monkeypatch.setattr(bench, "wait_clean", wait_clean)
    monkeypatch.setattr(bench, "probe_ms", probe_ms)
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(perf_counter=lambda: state.now))
    state.run = run
    return state


def test_waits_before_first_rep_and_after_dirty_only(gate):
    gate.walls = [10.0, 20.0, 40.0, 80.0]
    gate.readings = [DIRTY, CLEAN, CLEAN, CLEAN]
    walls, canary = bench._timed_reps(gate.run, tol=1.12, max_reps=4)
    assert gate.events == [
        ("wait", bench.LEG_WAIT_S),
        ("run", 0),
        "probe",
        ("wait", bench.DIRTY_REP_WAIT_S),  # rep 0 read dirty
        ("run", 1),
        "probe",
        ("run", 2),  # rep 1 read clean: no wait
        "probe",
        ("run", 3),
        "probe",
    ]
    assert walls == gate.walls
    assert canary == [DIRTY, CLEAN, CLEAN, CLEAN]


def test_one_stamp_per_wall(gate):
    gate.walls = [3.0, 1.0, 2.0, 1.5, 1.25]
    gate.readings = [CLEAN, DIRTY, CLEAN, DIRTY, CLEAN]
    walls, canary = bench._timed_reps(gate.run, tol=1.01, max_reps=5)
    assert len(walls) == len(canary) == 5
    assert gate.events.count("probe") == len(walls)
    assert bench._best(walls, canary) == (1.0, DIRTY)


def test_stops_when_two_best_agree_within_tol(gate):
    gate.walls = [10.0, 5.0, 5.25, 5.125]
    walls, _ = bench._timed_reps(gate.run, tol=1.12, max_reps=7, budget_s=270)
    assert walls == [10.0, 5.0, 5.25]


def test_stops_at_max_reps(gate):
    gate.walls = [1.0, 2.0, 4.0, 8.0, 16.0]
    walls, _ = bench._timed_reps(gate.run, tol=1.12, max_reps=3)
    assert walls == [1.0, 2.0, 4.0]


def test_stops_on_budget(gate):
    gate.walls = [100.0, 200.0, 400.0]
    walls, _ = bench._timed_reps(gate.run, tol=1.12, max_reps=7, budget_s=250)
    assert walls == [100.0, 200.0]


def test_steal_gate_is_gone():
    for name in ("_steal_jiffies", "_steal_pct", "_wait_clean_window"):
        assert not hasattr(bench, name)
