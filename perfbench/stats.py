"""Run statistics for the benchmark: op records and the end-to-end
figures computed from them. Pure Python, no Spark, so the tests in
``perfbench/tests`` run in milliseconds.

An op is one timed call into the engine. It either completes (and has a
latency), or fails: it raised, its result did not match the check, or it
was refused because the SparkContext had already stopped.
"""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass, field

# The tail is the highest of these percentiles that still has this many
# samples beyond it; with too few samples it falls back to the median, so
# it is never below p50. A fixed ladder (not 100 * (n - 10) / n) keeps
# the reported percentile from drifting with the number of ops in a run.
# The first rung above the median, p75, needs 40 ops; at the default 10
# seconds a run has fewer (18 on headline-mix, 6 on timeslice-scan), so
# there the tail reads the median.
TAIL_BEYOND = 10
PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

RAISED, MISMATCH, REFUSED = "raised", "mismatch", "refused"


@dataclass
class Op:
    kind: str
    latency_s: float | None = None  # None when the op failed
    rows: int = 0                   # input rows the op consumed
    failure: str | None = None      # RAISED / MISMATCH / REFUSED
    detail: str = ""

    @property
    def ok(self) -> bool:
        return self.failure is None


@dataclass
class Run:
    ops: list[Op] = field(default_factory=list)
    context_lost: bool = False

    def record(self, op: Op) -> None:
        self.ops.append(op)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)

    def latencies(self) -> list[float]:
        return [o.latency_s for o in self.ops if o.ok]


def error_rate(run: Run) -> float:
    """Failed ops (raised, mismatched or refused) / attempted ops."""
    return run.failed / run.attempted if run.attempted else 0.0


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile of ``PERCENTILES``
    whose nearest-rank sample has at least ``TAIL_BEYOND`` samples beyond
    it, never below the median."""
    n = len(latencies)
    if n == 0:
        raise ValueError("no completed ops")
    med = statistics.median(latencies)
    ok = [p for p in PERCENTILES[1:] if n - math.ceil(p / 100 * n) >= TAIL_BEYOND]
    if not ok:
        return med, 50.0, n
    rank = math.ceil(ok[-1] / 100 * n)
    return max(sorted(latencies)[rank - 1], med), ok[-1], n


def per_kind_medians(run: Run) -> dict[str, float]:
    by_kind: dict[str, list[float]] = {}
    for o in run.ops:
        if o.ok:
            by_kind.setdefault(o.kind, []).append(o.latency_s)
    return {k: statistics.median(v) for k, v in sorted(by_kind.items())}


def mix_total(run: Run) -> float:
    """Sum over op kinds of each kind's median latency (seconds)."""
    return sum(per_kind_medians(run).values())


def rows_per_s(run: Run) -> float:
    """Input rows of completed ops / summed latency of those ops."""
    done = [o for o in run.ops if o.ok]
    busy = sum(o.latency_s for o in done)
    return sum(o.rows for o in done) / busy if busy else 0.0


def rounds_for(seconds: float, round_s: float) -> int:
    """Timed rounds of a run: ``seconds`` / ``round_s`` (the workload's
    nominal round time), rounded, at least one. It depends on the
    arguments only, never on the clock, so a faster or slower program
    runs the same ops and its figures move smoothly with its speed."""
    return max(1, round(seconds / round_s))


def measure(run: Run, rounds, execute, is_stopped, tracer,
            clock=time.perf_counter) -> None:
    """Closed loop, one client: run every op of ``rounds`` (an iterable
    of lists of ``(kind, params)``), recording each in ``run``.

    ``execute(kind, params)`` returns the op's input rows. After a
    failure ``is_stopped()`` tells a lost SparkContext from an op that
    merely raised: the op is then recorded as refused and the run ends
    with ``run.context_lost`` set, so no later op is recorded as a fast
    failure."""
    for ops in rounds:
        for kind, params in ops:
            tracer.begin(kind)
            t0 = clock()
            failure, detail, rows = None, "", 0
            try:
                rows = execute(kind, params)
            except Exception as e:  # noqa: BLE001 - every failure is recorded
                failure = REFUSED if is_stopped() else RAISED
                detail = f"{type(e).__name__}: {e}"[:300]
            latency = clock() - t0
            if failure == REFUSED:
                run.record(Op(kind, failure=failure, detail=detail))
                run.context_lost = True
                return
            op = Op(kind, latency if failure is None else None, rows, failure, detail)
            try:
                tracer.end(kind, failure is None)
            except Exception:
                if not is_stopped():
                    raise
                run.context_lost = True  # the op finished; reading its counters did not
            run.record(op)
            if run.context_lost:
                return
