"""Dead-context guard: a SparkContext stopped mid-run ends the run at
the first refused op, and no later op is recorded.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.trace import StoreReader, Tracer, context_stopped  # noqa: E402

pyspark = pytest.importorskip("pyspark")


@pytest.fixture()
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-guard")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


@pytest.mark.parametrize("traced", [False, True])
def test_stopped_context_records_no_phantom_ops(spark, traced):
    calls = []

    def execute(kind, params):
        calls.append(kind)
        if kind == "stop":
            spark.sparkContext.stop()
            return 1
        spark.range(1000).write.format("noop").mode("overwrite").save()
        return 1000

    schedule = iter([[("noop", None), ("noop", None)], [("stop", None), ("noop", None)]]
                    + [[("noop", None)]] * 20)
    run = stats.Run()
    tracer = Tracer(StoreReader(spark) if traced else None)
    stats.measure(run, schedule, execute, lambda: context_stopped(spark), tracer)

    if traced:
        # reading the stopping op's counters finds the context gone
        assert [o.kind for o in run.ops] == ["noop", "noop", "stop"]
        assert [o.failure for o in run.ops] == [None, None, None]
    else:
        # two good ops, the op that stopped the context, one refused op
        assert [o.kind for o in run.ops] == ["noop", "noop", "stop", "noop"]
        assert [o.failure for o in run.ops] == [None, None, None, stats.REFUSED]
        assert run.ops[-1].latency_s is None
    assert run.context_lost
    assert len(calls) == len(run.ops)  # nothing ran after the run ended
