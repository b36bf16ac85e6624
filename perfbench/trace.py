"""Traced runs: spans around each op and per-op counters read from
Spark's status stores.

Each traced op runs in its own job group, named for its span. Right
after the op (outside its timed latency) the reader pulls the op's jobs,
stages and tasks from the JVM ``AppStatusStore`` and its SQL plan
metrics from ``SQLAppStatusStore``. Both stores are filled by listeners
that run with ``spark.ui.enabled=false``; reading them launches no
Spark job.

Notes on the store API as seen through py4j:

* py4j cannot fill Scala default arguments, so every store method is
  called with all of its arguments (``stageData`` takes five).
* ``StageData.inputBytes`` reads 0 for parquet scans (the v2 file scan
  reports no input metrics), so scan bytes come from the SQL metric
  "size of files read" on the scan nodes instead.
* The stores evict old jobs, stages and executions past their retention
  limits (``spark.ui.retainedJobs`` and friends), so counters are read
  after every op, never batched up to the end of the run.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric ("5,000,000", "85.8 MiB", or the
    multi-line "total (min, med, max ...)" form) into its total."""
    if text is None:
        return 0.0
    line = text.strip().split("\n")[-1] if "\n" in text else text.strip()
    m = re.match(r"([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _SIZE_UNITS.get(m.group(2) or "B", 1)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    busy, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        busy += hi - max(lo, end)
        end = hi
    return busy


def context_stopped(spark) -> bool:
    """True once the session's SparkContext has stopped (PySpark drops
    its JVM handle on stop) or its JVM is gone."""
    from py4j.protocol import Py4JError

    jsc = spark.sparkContext._jsc
    try:
        return jsc is None or jsc.sc().isStopped()
    except Py4JError:
        return True


class StoreReader:
    """Per-op counters from the status stores of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._tracker = spark.sparkContext.statusTracker()
        self._store = spark._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._seq = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._last_exec = self._sql.executionsCount()

    def _new_executions(self) -> list:
        n = self._sql.executionsCount()
        fresh = self._seq(self._sql.executionsList(self._last_exec, n - self._last_exec))
        self._last_exec = n
        return list(fresh)

    def skip_executions(self) -> None:
        """Forget executions launched outside any traced op."""
        self._last_exec = self._sql.executionsCount()

    def op_counters(self, group: str, t0_ms: float, t1_ms: float) -> dict:
        c = dict.fromkeys((
            "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
            "executor_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes", "gc_ms", "files_read_bytes", "scan_rows",
            "python_rows", "python_bytes"), 0.0)
        intervals: list[tuple[float, float]] = []
        slowest = (-1.0, None)
        for job_id in self._tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            for stage_id in self._seq(self._store.job(job_id).stageIds()):
                attempts = self._seq(self._store.stageData(
                    stage_id, False, self._no_status, False, self._no_quantiles))
                for s in attempts:
                    if s.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += s.numTasks()
                    c["failed_tasks"] += s.numFailedTasks()
                    c["executor_run_ms"] += s.executorRunTime()
                    c["executor_cpu_ms"] += s.executorCpuTime() / 1e6
                    c["shuffle_read_bytes"] += s.shuffleReadBytes()
                    c["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    c["gc_ms"] += s.jvmGcTime()
                    durations = []
                    for t in self._seq(self._store.taskList(stage_id, s.attemptId(), 1 << 20)):
                        if t.duration().isDefined():
                            start = t.launchTime().getTime()
                            d = t.duration().get()
                            durations.append(d)
                            intervals.append((max(start, t0_ms), min(start + d, t1_ms)))
                    if durations and sum(durations) > slowest[0]:
                        slowest = (sum(durations), durations)
        if slowest[1]:
            c["task_skew"] = max(slowest[1]) / max(statistics.median(slowest[1]), 1.0)
        c["busy_ms"] = _union_ms([i for i in intervals if i[1] > i[0]])
        for e in self._new_executions():
            values = dict(self._seq(self._sql.executionMetrics(e.executionId())).items())
            for node in self._seq(self._sql.planGraph(e.executionId()).allNodes()):
                name = node.name()
                scan = name.startswith("Scan")
                python = bool(_PYTHON_NODE.search(name))
                if not (scan or python):
                    continue
                for m in self._seq(node.metrics()):
                    mname = m.name()
                    v = metric_value(values.get(m.accumulatorId()))
                    if scan and mname == "size of files read":
                        c["files_read_bytes"] += v
                    elif scan and mname == "number of output rows":
                        c["scan_rows"] += v
                    elif python and mname == "number of output rows":
                        c["python_rows"] += v
                    elif python and mname.startswith("data "):  # sent to / returned from workers
                        c["python_bytes"] += v
        return c


class Tracer:
    """Spans (kept in memory) and, per op, store counters. With
    ``reader=None`` only the phase timings are kept."""

    def __init__(self, reader: StoreReader | None):
        self.reader = reader
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self.read_s = 0.0
        self._phases: dict[str, float] = {}
        self._parent: int | None = None

    @contextmanager
    def phase(self, layer: str):
        """A child span of the current op around one call into a layer."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._phases[layer] = self._phases.get(layer, 0.0) + (t1 - t0)
            if self.reader is not None:
                self.spans.append({"span": len(self.spans), "parent": self._parent,
                                   "layer": layer, "start": t0, "end": t1})

    def begin(self, kind: str) -> None:
        self._phases = {}
        if self.reader is None:
            return
        self.reader.skip_executions()
        self._parent = len(self.spans)
        self.spans.append({"span": self._parent, "parent": None, "layer": "op",
                           "kind": kind, "start": time.perf_counter(), "end": None})
        self.reader.spark.sparkContext.setJobGroup(
            f"perfbench-{self._parent}", f"op {kind} span {self._parent}")
        self._t0_ms = time.time() * 1000

    def end(self, kind: str, ok: bool) -> dict:
        """Close the op span; returns its phase times (s) and counters."""
        out = {"kind": kind, "ok": ok, "phases": self._phases}
        if self.reader is None:
            return out
        t1_ms = time.time() * 1000
        span = self.spans[self._parent]
        span["end"] = time.perf_counter()
        r0 = time.perf_counter()
        out.update(self.reader.op_counters(f"perfbench-{self._parent}", self._t0_ms, t1_ms))
        out["wall_ms"] = (span["end"] - span["start"]) * 1000
        self.reader.spark.sparkContext.setJobGroup("perfbench-idle", "between ops")
        self.read_s += time.perf_counter() - r0
        self.counters.append(out)
        self._parent = None
        return out
