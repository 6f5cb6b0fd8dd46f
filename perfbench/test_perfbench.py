"""Self-tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
# the benchmark modules, and the repository root for tests.conftest
sys.path[:0] = [str(HERE), str(HERE.parent)]

import dashboard  # noqa: E402
import live  # noqa: E402
import stats  # noqa: E402


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in (11, 20, 46, 100, 1000):
        p = stats.tail_percentile(n)
        xs = list(range(n))
        v = stats.percentile(xs, p)
        assert sum(x > v for x in xs) >= 10
        # one percentile higher would leave fewer than ten beyond
        if p < 100:
            assert sum(x > stats.percentile(xs, p + 1) for x in xs) < 10 or p + 1 > 100
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(46) == 78
    assert stats.tail([float(i) for i in range(1, 101)]) == (90, 90.0)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_self_time_counts_overlapping_children_once():
    parent = (0.0, 10.0)
    # [1,4] and [3,6] overlap on [3,4]; [8,12] is clipped to [8,10]
    assert stats.self_time(parent, [(1, 4), (3, 6), (8, 12)]) == pytest.approx(10 - 5 - 2)
    # a child nested inside another adds nothing
    assert stats.self_time(parent, [(1, 9), (2, 3)]) == pytest.approx(2.0)
    # children outside the parent are ignored
    assert stats.self_time(parent, [(-5, -1), (11, 12)]) == pytest.approx(10.0)


def test_lateness_is_start_minus_due_never_negative():
    due = [0.0, 2.0, 4.0, 6.0]
    started = [0.01, 1.9, 5.5, 6.0]
    assert stats.lateness(due, started) == pytest.approx([0.01, 0.0, 1.5, 0.0])
    with pytest.raises(ValueError):
        stats.lateness(due, started[:2])


def test_spread_is_iqr_over_median():
    assert stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_dashboard_rounds_have_a_fixed_mix_and_one_repeat_each():
    rng, history = random.Random(7), {}
    rounds = [dashboard.plan_round(rng, history) for _ in range(40)]
    kinds = {tuple(sorted(r[0] if r[0] == "POST" else r[1].split("?")[0] for r in rnd))
             for rnd in rounds}
    assert len(kinds) == 1  # same multiset of request kinds every round
    seen: set = set()
    for i, rnd in enumerate(rounds):
        stmts = [(r[1], tuple(sorted(r[2].items()))) for r in rnd if r[0] == "POST"]
        repeats = sum(s in seen for s in stmts)
        # a fresh draw can collide with an earlier one by chance
        assert repeats >= (1 if i else 0)
        seen.update(stmts)
    again = dashboard.plan_round(random.Random(7), {})
    assert again == rounds[0]  # the seed alone decides the sequence


def test_checker_compare_catches_a_changed_value():
    want = {"a": [1, 2.5, "x"], "n": None}
    assert dashboard.same({"a": [1, 2.5, "x"], "n": None}, want)
    assert not dashboard.same({"a": [1, 2.6, "x"], "n": None}, want)
    assert not dashboard.same({"a": [1, 2.5], "n": None}, want)
    assert dashboard.same({"u": 104}, {"u": 100}, frozenset({"u"}))
    assert not dashboard.same({"u": 130}, {"u": 100}, frozenset({"u"}))


def test_live_plan_is_seeded_and_fits_the_window():
    a = live.plan_inserts(3, 20.0)
    assert a == live.plan_inserts(3, 20.0)
    assert a != live.plan_inserts(4, 20.0)
    for table, items in a.items():
        rows, period, first = live.SCHEDULE[table]
        assert [due for due, _, _ in items] == [first + k * period for k in range(len(items))]
        assert all(due < 20.0 for due, _, _ in items)
        assert all(body.count("\n") == rows - 1 for _, _, body in items)
