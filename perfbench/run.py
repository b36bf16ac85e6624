"""Benchmark of the nexus-processor-spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process runs one workload as a
closed loop with one client on ``local[nproc]``. The seed draws the op
order and the op parameters. ``--seconds`` sets the number of timed
rounds (see ``stats.rounds_for``); the clock never cuts a run short, so
every run of a workload times the same ops. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (see ``BENCHMARK.json``); with ``--trace 1`` every op
runs in its own job group and the metrics are per-layer counters read
from Spark's status stores. A human-readable report goes to stderr.
The exit code is 0 only when every op and every result check passed.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
NEEDED = ("nexus_processor_spark/__init__.py", "bench.py", "tools/check_oracle.py")
# Run the package modules by package name; the script's own directory
# must not shadow standard modules (``trace``).
sys.path[0] = ROOT


def _since_process_start() -> float:
    """Seconds from process creation to T0 (interpreter start-up)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK") - (time.perf_counter() - T0))


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _stage(msg: str) -> None:
    _log(f"[perfbench +{time.perf_counter() - T0:6.1f}s] {msg}")


def _session(cpus: int):
    from nexus_processor_spark import codegen_guard
    from nexus_processor_spark.session import get_spark

    from perfbench import env

    confs, guard_log = codegen_guard.capture_confs()
    tmp = os.environ["TMPDIR"]
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp
    confs["spark.driver.extraJavaOptions"] += (
        f" -Xms{env.HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    confs.update({
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, guard_log


def _stop(spark) -> None:
    """Stop the session, then end its JVM (closing its stdin makes it
    exit) and wait for it; the Python workers are the JVM's children."""
    jvm = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        jvm.stdin.close()
        jvm.wait(timeout=120)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _layer_metrics(tracer, run, workload, cpus: int, session_s: float, codegen: int) -> dict:
    from perfbench import stats

    ops = [c for c in tracer.counters if c["ok"]]

    def phase_ms(layer):
        return _mean(c["phases"][layer] * 1000 for c in ops if layer in c["phases"])

    def per_op(key):
        return _mean(c[key] for c in ops)

    input_rows = sum(o.rows for o in run.ops if o.ok)
    wall_core_ms = sum(c["wall_ms"] for c in ops) * cpus
    skews = [c["task_skew"] for c in ops if "task_skew" in c]
    m = {
        "session.start_s": (session_s, "s"),
        "sources.synth_s": (workload.synth_s, "s"),
        "sources.files_read_bytes": (per_op("files_read_bytes"), "B"),
        "sources.scan_rows_ratio": (
            sum(c["scan_rows"] for c in ops) / input_rows if input_rows else 0.0, "ratio"),
        "queries.build_ms": (phase_ms("queries.build"), "ms"),
        "queries.jobs": (per_op("jobs"), "count"),
        "queries.stages": (per_op("stages"), "count"),
        "queries.tasks": (per_op("tasks"), "count"),
        "operators.idle_ms": (_mean(c["wall_ms"] - c["busy_ms"] for c in ops), "ms"),
        "operators.cpu_busy_ratio": (
            sum(c["executor_cpu_ms"] for c in ops) / wall_core_ms if wall_core_ms else 0.0,
            "ratio"),
        "operators.executor_run_ms": (per_op("executor_run_ms"), "ms"),
        "operators.executor_cpu_ms": (per_op("executor_cpu_ms"), "ms"),
        "operators.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "B"),
        "operators.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "B"),
        "operators.spill_bytes": (per_op("spill_bytes"), "B"),
        "operators.gc_ms": (per_op("gc_ms"), "ms"),
        "operators.task_skew": (statistics.median(skews) if skews else 0.0, "ratio"),
        "operators.failed_tasks": (sum(c["failed_tasks"] for c in ops), "count"),
        "functions.python_rows": (per_op("python_rows"), "count"),
        "functions.python_bytes": (per_op("python_bytes"), "B"),
        "functions.codegen_fallbacks": (codegen, "count"),
        "error_rate": (stats.error_rate(run), "ratio"),
        "trace.mix_total_s": (stats.mix_total(run) if run.latencies() else 0.0, "s"),
        "trace.read_ms": (tracer.read_s * 1000 / max(len(tracer.counters), 1), "ms"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        _log(f"perfbench: not a checkout of the engine (missing {', '.join(missing)})")
        return 2
    startup = _since_process_start()

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2

    from perfbench import env

    env.pin(ROOT, WORK)  # before anything starts the JVM
    fp = env.fingerprint()
    fp["spin_ms_start"] = env.spin_ms()
    rss = env.PeakRss().start()

    import numpy as np
    from nexus_processor_spark import codegen_guard

    from perfbench import stats, trace

    cpus = env.cpus()
    t_session = time.perf_counter()
    spark, guard_log = _session(cpus)
    session_s = time.perf_counter() - t_session
    fp["java"] = spark._jvm.System.getProperty("java.version")
    tracer = trace.Tracer(trace.StoreReader(spark) if args.trace else None)
    workload = WORKLOADS[args.workload](spark, WORK, args.seed, tracer)
    run = stats.Run()
    _stage(f"session up in {session_s:.1f}s")
    try:
        workload.setup()
        _stage(f"inputs generated in {workload.synth_s:.1f}s")
        checks = workload.check()
        for kind, problem in checks:
            if problem:
                run.record(stats.Op(kind, failure=stats.MISMATCH, detail=problem))
        setup_s = startup + time.perf_counter() - T0
        _stage("checks done; measuring")
        rounds = itertools.islice(workload.schedule(np.random.default_rng(args.seed)),
                                  stats.rounds_for(args.seconds, workload.ROUND_S))
        stats.measure(run, rounds, workload.execute,
                      lambda: trace.context_stopped(spark), tracer)
    finally:
        fp["spin_ms_end"] = env.spin_ms()
        rss.stop()
    _stage("measured")
    codegen = len(codegen_guard.scan(guard_log)["hits"])
    _stop(spark)
    shutil.rmtree(workload.work, ignore_errors=True)
    _stage("stopped")

    print(json.dumps({"workload": args.workload, "seed": args.seed, "box": fp}), flush=True)
    for kind, problem in checks:
        _log(f"  check {kind}: {'FAIL ' + problem if problem else 'ok'}")
    for o in run.ops:
        if not o.ok:
            _log(f"  failed op {o.kind} ({o.failure}): {o.detail}")
    if run.context_lost:
        _log("  context_lost: the SparkContext stopped; the run ended at the first refused op")
    lat = run.latencies()
    if lat:
        tail, pct, n = stats.tail(lat)
        _log(f"  ops={len(lat)} p50={statistics.median(lat) * 1000:.1f} ms "
             f"tail=p{pct:.1f} of n={n}: {tail * 1000:.1f} ms")
        for kind, med in stats.per_kind_medians(run).items():
            _log(f"    {kind:28s} median {med * 1000:9.1f} ms")
    if args.trace:
        by_kind: dict[str, list[dict]] = {}
        for c in tracer.counters:
            by_kind.setdefault(c["kind"], []).append(c)
        _log("  per kind: jobs stages tasks cpu_busy idle_ms")
        for kind, cs in sorted(by_kind.items()):
            wall = sum(c["wall_ms"] for c in cs)
            _log(f"    {kind:28s} {_mean(c['jobs'] for c in cs):5.1f} "
                 f"{_mean(c['stages'] for c in cs):6.1f} {_mean(c['tasks'] for c in cs):6.1f} "
                 f"{sum(c['executor_cpu_ms'] for c in cs) / (wall * cpus):8.3f} "
                 f"{_mean(c['wall_ms'] - c['busy_ms'] for c in cs):8.1f}")
        spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(spans, "w") as fh:
            json.dump({"box": fp, "spans": tracer.spans, "ops": tracer.counters}, fh)
        _log(f"  spans: {spans}")

    correct = run.failed == 0 and not run.context_lost and bool(lat)
    if not lat:
        metrics = {}
    elif args.trace:
        metrics = _layer_metrics(tracer, run, workload, cpus, session_s, codegen)
    else:
        tail, _, _ = stats.tail(lat)
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "mix_total_s": {"value": stats.mix_total(run), "unit": "s"},
            "latency_p50_ms": {"value": statistics.median(lat) * 1000, "unit": "ms"},
            "latency_tail_ms": {"value": tail * 1000, "unit": "ms"},
            "rows_per_s": {"value": stats.rows_per_s(run), "unit": "1/s"},
            "peak_rss_mb": {"value": rss.peak_mb, "unit": "MB"},
        }
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
