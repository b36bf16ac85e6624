"""SparkSession factory with scale-oriented defaults.

The reference's Spark jobs call a bare ``SparkSession.builder.getOrCreate()``
(scripts/spark_events_by_time.py:45-47). We centralize session construction
so every entry point gets the same tuned configuration:

* AQE on (runtime coalescing, skew-join splitting, auto broadcast).
* UTC session timezone — all epoch math is timezone-free and matches the
  DuckDB oracle's ``epoch()``.
* ``nanosAsLong`` — the events table carries TIMESTAMP(NANOS) parquet,
  which vanilla Spark rejects; we read it as a long and do exact integer
  microsecond math (see operators.timeslice.event_seconds).
* Arrow on for the few pandas-interchange boundaries (ingest, vector UDFs).
* ZSTD parquet output, honoring the reference's documented intent
  (SURVEY.md §4 notes the reference's doc/code discrepancy here).
* DataFrame debugging off. PySpark otherwise wraps every ``Column``
  method and ``functions.*`` call in an origin capture (a conf read, a
  stack walk and several py4j round trips per call), roughly doubling
  the py4j traffic of building a query. The trade-off: a runtime error's
  DataFrame query context loses its Python call-site fragment. The
  setting is static, so it is a launch conf; pass
  ``extra_confs={"spark.python.sql.dataFrameDebugging.enabled": "true"}``
  to ``get_spark`` to restore the call sites.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# At 100 TB these knobs are cluster-sized (e.g. shuffle partitions ~= 2-3x
# total cores, or left to AQE); locally we keep them proportional to the
# `local[N]` core count so tests and bench exercise realistic parallelism.
DEFAULT_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Coalesce post-shuffle partitions purely by the advisory byte size
    # instead of stopping at defaultParallelism: partition counts then
    # derive from DATA VOLUME at any scale (a KB-sized aggregate tail
    # becomes 1 task, a 2 GB shuffle still fans out to ~32 x 64 MB), the
    # scale-adaptive sizing the optimization guide prescribes over
    # core-count constants.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Dims and operator-internal side tables up to this size broadcast
    # instead of shuffling; 64m is comfortably inside executor memory at
    # both local[32] and cluster executor sizings.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Object aggregates (bitmap_construct_agg, collect_set/list) fall back
    # to SORT-based aggregation at 128 distinct groups per task — which
    # silently turns a hash rollup into a full sort of the fact input.
    # Our bitmap-distinct rollups group at (group x 2^15-bucket) grain
    # (thousands of groups, ~4 KB state each); 256K groups/task bounds the
    # agg-state memory at ~1 GB worst case, far past every rollup here,
    # with the sort fallback still there as the overflow valve.
    "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold":
        "262144",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    # Recursive-CTE ceiling: the hierarchy queries (queries/analytic_q.py
    # q_referral_roots) recurse to forest depth, bounded by their derived
    # key domain (<= 200) + slack. Owned HERE so no registry query
    # mutates session state mid-flight (a query-local conf.set would leak
    # into co-tenant queries); the engine default (100) stays available
    # by overriding via extra_confs.
    "spark.sql.cteRecursionLevelLimit": "256",
    # local[] has no dynamic executors; partition counts come from cores.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
}

# Read only when the JVM starts: a live session refuses to set them.
LAUNCH_CONFS: dict[str, str] = {
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # no per-call origin capture while building queries (module docstring)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def _pin_worker_blas_threads() -> None:
    """Single-thread BLAS inside Python workers. Every core already runs
    a worker, so an OpenBLAS that additionally fans each matmul out to
    all cores (its default) oversubscribes the box N× — measured on the
    gram-matrix kernels (vector_arrow.semantic_dedup_arrow @200k: reps
    swung 10.9-31.4 s isolated; pinned, they sit tight at the low end).
    Must run BEFORE the JVM launches: local-mode workers inherit this
    process's environment. Explicit user settings win."""
    for var in (
        "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
        "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")


def get_spark(app_name: str = "nexus-processor-spark", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real cluster, leave it None and submit via
    spark-submit so the cluster manager decides (and set the BLAS
    thread pins in the executor environment instead).
    """
    _pin_worker_blas_threads()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if master:
        builder = builder.master(master)
    confs = {**LAUNCH_CONFS, **DEFAULT_CONFS, **(extra_confs or {})}
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime defaults (``DEFAULT_CONFS``, including
    ``nanosAsLong``) to an existing session.

    Used when the caller owns session construction (a harness that
    builds its own session); ``LAUNCH_CONFS`` are the caller's to choose. Every
    default is runtime-settable, so a failed set raises instead of
    leaving the session silently half-configured.
    """
    for k, v in DEFAULT_CONFS.items():
        spark.conf.set(k, v)
    return spark
