"""Statistics of the benchmark, checked without Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.stats import MISMATCH, RAISED, REFUSED, Op, Run  # noqa: E402
from perfbench.trace import Tracer, metric_value  # noqa: E402


def test_tail_has_ten_samples_beyond_it():
    lat = [float(i) for i in range(1, 101)]  # 1..100
    value, pct, n = stats.tail(lat)
    assert n == 100
    assert pct == 90.0
    assert value == 90.0
    assert sum(1 for x in lat if x > value) == stats.TAIL_BEYOND


def test_tail_uses_the_highest_such_percentile():
    lat = [float(i) for i in range(1, 41)]  # 40 samples: p75 has 10 beyond, p90 only 4
    value, pct, n = stats.tail(lat)
    assert (value, pct, n) == (30.0, 75.0, 40)
    assert sum(1 for x in lat if x > value) == 10


@pytest.mark.parametrize("n", [18, 36, 39])
def test_tail_percentile_does_not_drift_below_the_next_rung(n):
    # one or two rounds of 18 ops both report p50: no jump with the round count
    lat = [float(i) for i in range(1, n + 1)]
    assert stats.tail(lat) == (statistics.median(lat), 50.0, n)


@pytest.mark.parametrize("n", [1, 2, 5, 11, 19, 20, 21, 40, 333])
def test_tail_is_never_below_p50(n):
    lat = [((i * 7919) % 101) / 10 for i in range(n)]
    value, pct, got_n = stats.tail(lat)
    assert got_n == n
    assert pct >= 50.0
    assert value >= statistics.median(lat)


def test_tail_falls_back_to_median_with_few_samples():
    lat = [3.0, 1.0, 2.0, 10.0]
    assert stats.tail(lat) == (2.5, 50.0, 4)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


def test_mix_total_sums_per_kind_medians():
    run = Run()
    for kind, lats in {"a": [1.0, 3.0, 2.0], "b": [10.0, 20.0], "c": [5.0]}.items():
        for x in lats:
            run.record(Op(kind, x, rows=1))
    run.record(Op("a", failure=RAISED))  # failures carry no latency
    assert stats.per_kind_medians(run) == {"a": 2.0, "b": 15.0, "c": 5.0}
    assert stats.mix_total(run) == 22.0


def test_error_rate_counts_raised_mismatched_and_refused():
    run = Run()
    for _ in range(7):
        run.record(Op("q", 0.1, rows=10))
    run.record(Op("q", failure=RAISED))
    run.record(Op("q", failure=MISMATCH))
    run.record(Op("q", failure=REFUSED))
    assert (run.attempted, run.failed) == (10, 3)
    assert stats.error_rate(run) == pytest.approx(0.3)
    assert stats.rows_per_s(run) == pytest.approx(70 / 0.7)


def test_measure_keeps_going_after_an_op_raises():
    script = iter([[("ok", 5), ("boom", None)], [("ok", 5)]])

    def execute(kind, params):
        if params is None:
            raise RuntimeError("boom")
        return params

    run = Run()
    stats.measure(run, script, execute, lambda: False, Tracer(None))
    assert [o.failure for o in run.ops] == [None, RAISED, None]
    assert not run.context_lost
    assert stats.error_rate(run) == pytest.approx(1 / 3)


def test_measure_runs_every_round_whatever_the_clock_reads():
    # a clock that leaps an hour per read: the ops run all the same
    ticks = iter(range(0, 10**7, 3600))
    rounds = [[(f"k{j}", None) for j in range(3)] for _ in range(2)]
    run = Run()
    stats.measure(run, rounds, lambda k, p: 1, is_stopped=lambda: False,
                  tracer=Tracer(None), clock=lambda: float(next(ticks)))
    assert run.attempted == 6
    assert all(sum(o.kind == k for o in run.ops) == 2 for k in ("k0", "k1", "k2"))


@pytest.mark.parametrize("seconds,round_s,want", [
    (10, 10.0, 1), (10, 5.0, 2), (1, 10.0, 1), (60, 10.0, 6), (14, 10.0, 1), (16, 10.0, 2)])
def test_rounds_follow_the_arguments_only(seconds, round_s, want):
    assert stats.rounds_for(seconds, round_s) == want


def test_metric_value_parses_store_formats():
    assert metric_value("5,000,000") == 5_000_000
    assert metric_value("85.8 MiB") == pytest.approx(85.8 * 2**20)
    assert metric_value("total (min, med, max (stageId: taskId))\n1.5 KiB (1.0 B, ...)") == 1536
    assert metric_value(None) == 0.0
