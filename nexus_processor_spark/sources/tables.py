"""Parquet table loaders for the engine's test corpus.

Replaces the reference's per-script read logic (glob + exclusion +
concat, scripts/extract_events_by_time.py:64-108; multi-path
``spark.read.parquet``, scripts/spark_events_by_time_parquet.py:112,191)
with one declarative reader. Predicate pushdown and column pruning are
Catalyst's job — callers just ``.filter``/``.select`` and the parquet scan
receives ``PushedFilters``/``ReadSchema``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType, TimestampNTZType, TimestampType

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Some corpus generations write events.ts as parquet TIMESTAMP(NANOS)
# physical int64, which Spark only reads with the nanosAsLong legacy flag
# (runtime-settable). Harmless for µs-timestamp files.
_NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"


def _long_ts_schema(schema: StructType) -> StructType:
    return StructType([
        StructField("ts", LongType(), f.nullable) if f.name == "ts" else f
        for f in schema.fields
    ])


def load_table(spark: SparkSession, sf_dir: str, name: str,
               *, normalize_time: bool = True) -> DataFrame:
    """Load one testdata table; ``events.ts`` arrives as long nanoseconds.

    The corpus has shipped ``ts`` in two encodings across rounds: parquet
    TIMESTAMP(NANOS) physical int64 (read as long via ``nanosAsLong`` —
    already the contract) and plain ``timestamp[us]`` (TIMESTAMP_NTZ under
    Spark 4's NTZ inference). For the µs encoding the file is re-read with
    an explicit long ``ts`` — the vectorized reader then returns the
    PHYSICAL int64 microseconds, skipping timestamp decode and any
    timezone cast (naive-as-UTC by construction, the same convention as
    the DuckDB oracles' tz-free ``epoch()``) — and one ``*1000`` restores
    the long-ns contract for every downstream operator.

    ``normalize_time=False`` keeps ``ts`` in its stored encoding — for
    callers that push a range predicate onto the physical column before
    normalizing (``load_events_time_range``).
    """
    if name == "events":
        spark.conf.set(_NANOS_FLAG, "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if name == "events" and normalize_time and "ts" in df.columns:
        t = df.schema["ts"].dataType
        if isinstance(t, (TimestampType, TimestampNTZType)):
            df = spark.read.schema(_long_ts_schema(df.schema)).parquet(path)
            df = df.withColumn("ts", (F.col("ts") * F.lit(1000)).cast("long"))
    return df


def load_events_time_range(
    spark: SparkSession, sf_dir: str, start_time: float, end_time: float,
) -> DataFrame:
    """Events in half-open ``[start, end)`` seconds, with the range pushed
    onto the STORED ``ts`` column in its stored unit (bare-attribute
    comparison → parquet ``PushedFilters`` → row-group skip on sorted
    layouts), then ``ts`` normalized to the long-ns contract."""
    from nexus_processor_spark.operators.timeslice import push_time_range

    raw = load_table(spark, sf_dir, "events", normalize_time=False)
    t = raw.schema["ts"].dataType
    if isinstance(t, (TimestampType, TimestampNTZType)):
        path = f"{sf_dir}/events.parquet"
        raw = spark.read.schema(_long_ts_schema(raw.schema)).parquet(path)
        pushed = push_time_range(raw, start_time, end_time, unit="us")
        return pushed.withColumn("ts", (F.col("ts") * F.lit(1000)).cast("long"))
    return push_time_range(raw, start_time, end_time)


def ts_epoch_sql(probe_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB expression for ``events.ts`` as epoch SECONDS (double) —
    encoding-aware, mirroring ``functions.core.event_seconds``.

    The corpus has shipped ``ts`` as parquet TIMESTAMP(NANOS) (reads as
    BIGINT nanos under ``nanosAsLong``; DuckDB reads plain BIGINT) and as
    TIMESTAMP(MICROS). The Spark loader normalizes both; oracle SQL is a
    static string, so it probes the parquet footer at build time and
    emits the matching arithmetic. Falls back to the timestamp form when
    the probe can't run.
    """
    try:  # pragma: no cover - probe failure path is environment-specific
        import pyarrow.parquet as pq

        t = str(pq.read_schema(f"{probe_dir}/events.parquet").field("ts").type)
    except Exception:
        t = "timestamp[us]"
    if t == "int64":
        # long nanos: exact integer div to µs, then one double division
        return "(ts // 1000) / 1000000.0"
    return "epoch(ts)"


def ts_ns_sql(probe_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB expression for ``events.ts`` as epoch NANOSECONDS (BIGINT),
    the twin of the loader's long-ns contract (see ``ts_epoch_sql``)."""
    return ("ts" if ts_epoch_sql(probe_dir) != "epoch(ts)"
            else "epoch_us(ts) * 1000")


def scratch_dir(name: str) -> str:
    """Deterministic per-name scratch directory for queries that
    materialize side tables (snapshot/upsert/CDC registry queries): the
    previous run's copy is wiped before reuse, so repeated verify/bench
    rounds keep exactly ONE live copy instead of leaking a fresh
    mkdtemp per invocation. The returned DataFrames read lazily from
    this path — collect them before invoking the same query again."""
    import os
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), "nexus_spark_scratch", name)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root
