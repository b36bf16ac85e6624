"""The benchmark's workloads. Each one drives the engine's public
functions as a closed loop with one client: the next op starts only
after the previous one has completed.

A workload has four steps:

* ``setup()`` prepares its inputs (generated ones are timed as
  ``synth_s``);
* ``check()`` runs every op kind once, outside the timed window, and
  compares the result with DuckDB or with an invariant; this run is
  also the warm-up;
* ``schedule(rng)`` yields the timed ops in rounds, lists of
  ``(kind, params)``; a run takes ``stats.rounds_for(seconds,
  ROUND_S)`` of them, where ``ROUND_S`` is about one round's time;
* ``execute(kind, params)`` runs one op, materialized through the
  ``noop`` sink, and returns the input rows it consumed.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
from pyspark.sql import functions as F


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spread(rng):
    """Seeded low-discrepancy draws in [0, 1): a random start, then
    golden-ratio steps, so even the few draws of one run cover the range
    evenly and per-kind medians do not swing with the seed."""
    u = rng.random()
    while True:
        yield u
        u = (u + 0.6180339887498949) % 1.0


def _log_uniform(u: float, lo: float, hi: float) -> float:
    return math.exp(math.log(lo) + u * (math.log(hi) - math.log(lo)))


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = os.path.join(work, self.name)
        self.seed = seed
        self.tracer = tracer
        self.synth_s = 0.0
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)


class HeadlineMix(Workload):
    """The 18 headline registry queries over the engine's reference test
    corpus at scale factor 0.01 (``data/sf0.01``, used as is); each round
    runs all of them in a seeded order."""

    name = "headline-mix"
    ROUND_S = 10.0
    DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

    def setup(self) -> None:
        import bench
        import pyarrow.parquet as pq
        from nexus_processor_spark import queries as registry

        self.names = list(bench.HEADLINE)
        self.queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.data = self.DATA
        self.table_rows = {
            f.removesuffix(".parquet"): pq.ParquetFile(os.path.join(self.data, f)).metadata.num_rows
            for f in sorted(os.listdir(self.data))}
        self.input_rows: dict[str, int] = {}

    def _oracle(self) -> dict:
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in self.table_rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        return {n: con.execute(self.oracles[n]).df() for n in self.names}

    def check(self) -> list[tuple[str, str | None]]:
        from tools.check_oracle import compare

        out = []
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._oracle)
            got = {}
            for n in self.names:
                df = self.queries[n](self.spark, self.data)
                tables = {os.path.basename(f).removesuffix(".parquet") for f in df.inputFiles()}
                self.input_rows[n] = sum(self.table_rows.get(t, 0) for t in tables)
                got[n] = df.toPandas()
            expected = oracle.result()
        for n in self.names:
            problems = compare(n, got[n], expected[n])
            out.append((n, "; ".join(problems) or None))
        return out

    def schedule(self, rng):
        while True:
            yield [(n, None) for n in rng.permutation(self.names)]

    def execute(self, kind: str, params) -> int:
        with self.tracer.phase("queries.build"):
            df = self.queries[kind](self.spark, self.data)
        with self.tracer.phase("operators.run"):
            _noop(df)
        return self.input_rows[kind]


class TimesliceScan(Workload):
    """Flagship time-slice ops over a generated events table: interval
    counts, bank x interval counts, and a time-range window count."""

    name = "timeslice-scan"
    ROUND_S = 5.0
    ROWS = 1_000_000
    KINDS = ("interval", "bank_interval", "window")

    def setup(self) -> None:
        from nexus_processor_spark.sources import synth

        t0 = time.perf_counter()
        self.data = os.path.join(self.work, "events")
        synth.synth_events(self.spark, self.ROWS, partitions=8) \
            .write.mode("overwrite").parquet(os.path.join(self.data, "events.parquet"))
        self.synth_s = time.perf_counter() - t0
        self.t0_s = synth.TS_BASE_NS // 10**9
        self.span_s = synth.TS_SPAN_NS // 10**9

    def _events(self):
        from nexus_processor_spark.sources.tables import load_table

        return load_table(self.spark, self.data, "events").select(
            "ts", F.col("event_type").alias("bank"), F.col("user_id").alias("pulse_index"))

    def _build(self, kind: str, p: dict):
        from nexus_processor_spark.functions.core import event_seconds
        from nexus_processor_spark.operators import timeslice
        from nexus_processor_spark.sources.tables import load_events_time_range

        if kind == "interval":
            return timeslice.count_by_interval_ns(self._events(), p["width"])
        if kind == "bank_interval":
            return timeslice.count_by_bank_and_interval_ns(self._events(), p["width"])
        ev = load_events_time_range(self.spark, self.data, p["lo"], p["hi"]).select(
            event_seconds("ts").alias("absolute_time"),
            F.col("event_type").alias("bank"), F.col("user_id").alias("pulse_index"))
        return timeslice.count_in_time_range(ev, p["lo"], p["hi"])

    def _params(self, kind: str, u: float, rng) -> dict:
        if kind in ("interval", "bank_interval"):
            # widths of 5 minutes to an hour
            return {"width": float(round(_log_uniform(u, 300, 3600)))}
        # windows of 1-100% of the span, at a random offset
        width = max(1, int(_log_uniform(u, 0.01, 1.0) * self.span_s))
        lo = self.t0_s + int(rng.integers(0, self.span_s - width + 1))
        return {"lo": lo, "hi": lo + width}

    def check(self) -> list[tuple[str, str | None]]:
        rng = np.random.default_rng(self.seed + 1)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW ev AS SELECT * FROM '{self.data}/events.parquet/*.parquet'")
        out = []
        for kind in self.KINDS:
            p = self._params(kind, rng.random(), rng)
            got = self._build(kind, p).toPandas()
            if kind == "window":
                lo_us, hi_us = p["lo"] * 10**6, p["hi"] * 10**6
                want = con.execute(
                    "SELECT count(*) AS event_count, count(DISTINCT event_type) AS n_banks, "
                    "count(DISTINCT user_id) AS n_pulses FROM ev "
                    f"WHERE ts // 1000 >= {lo_us} AND ts // 1000 < {hi_us}").df()
                cols = ["event_count", "n_banks", "n_pulses"]
                total = None
            else:
                w_ns = int(p["width"] * 10**9)
                keys = ["interval"] + (["bank"] if kind == "bank_interval" else [])
                banks = ", event_type AS bank" if kind == "bank_interval" else ""
                extra = "" if banks else ", count(DISTINCT event_type) AS n_banks"
                want = con.execute(
                    f"SELECT ts // {w_ns} AS interval{banks}, count(*) AS event_count{extra}, "
                    f"count(DISTINCT user_id) AS n_pulses FROM ev GROUP BY ALL").df()
                cols = keys + ["event_count", "n_pulses"] + (["n_banks"] if extra else [])
                total = int(got["event_count"].sum())
            a, b = (x[cols].astype({c: "int64" for c in cols if c != "bank"})
                    .sort_values(cols).reset_index(drop=True) for x in (got, want))
            problem = None
            if len(a) != len(b):
                problem = f"{kind} {p}: {len(a)} rows vs oracle {len(b)}"
            elif not a.equals(b):
                i = int((a != b).any(axis=1).to_numpy().argmax())
                problem = f"{kind} {p}: row {a.iloc[i].to_dict()} vs oracle {b.iloc[i].to_dict()}"
            elif total is not None and total != self.ROWS:
                problem = f"{kind} {p}: interval counts sum to {total}, not {self.ROWS}"
            out.append((kind, problem))
        return out

    def schedule(self, rng):
        draws = {k: _spread(rng) for k in self.KINDS}
        while True:
            yield [(kind, self._params(kind, next(draws[kind]), rng))
                   for kind in rng.permutation(self.KINDS)]

    def execute(self, kind: str, params) -> int:
        with self.tracer.phase("queries.build"):
            df = self._build(kind, params)
        with self.tracer.phase("operators.run"):
            _noop(df)
        return self.ROWS


WORKLOADS = {w.name: w for w in (HeadlineMix, TimesliceScan)}
