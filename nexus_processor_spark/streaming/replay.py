"""Event replay: batch and Structured Streaming (SURVEY.md §2.9, S14-S17, T1-T5).

Re-expresses scripts/spark_replay_events.py + scripts/replay_events.py:

* **Marshal** — ``key = run_id``, ``value = to_json(struct(*))`` (the
  reference's Kafka wire format, spark_replay_events.py:184-187).
* **Batch replay** — pushdown-filtered scan, deterministic
  ``(run_id, pulse_index, time_offset)`` order (sre:129), to Kafka /
  console / collected iterator.
* **Streaming replay** — file-stream source over the events table
  (the catalog is plain partitioned parquet; with an Iceberg catalog the
  same code takes ``readStream.format("iceberg")``), checkpointed sink,
  micro-batch trigger (sre:269-275).
* **Rate limiting** — ``maxFilesPerTrigger`` bounds ingest per micro-batch
  (the reference's batch-mode sleep pacing, replay_events.py:112-133,
  doesn't translate to distributed writers; trigger pacing does).

Kafka needs the spark-sql-kafka package + brokers; everything else runs
self-contained (console/memory/foreachBatch), which is what the tests use.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nexus_processor_spark.schemas import TABLES


def filtered_events(
    events: DataFrame,
    *,
    run_id: str | None = None,
    bank: str | None = None,
    instrument_id: str | None = None,
    run_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Chained pushdown filters (reference sre:113-126). ``run_id`` prunes
    partitions via the derived (instrument_id, run_number) pair — filtering
    only the string column would NOT prune (SURVEY.md §4)."""
    df = events
    if run_id is not None:
        inst, sep, num = run_id.rpartition(":")
        if not sep or not inst or not num.isdigit():
            raise ValueError(
                f"run_id must be '<instrument_id>:<run_number>', "
                f"got {run_id!r}"
            )
        df = df.filter(
            (F.col("instrument_id") == inst) & (F.col("run_number") == int(num))
        )
    if instrument_id is not None:
        df = df.filter(F.col("instrument_id") == instrument_id)
    if run_range is not None:
        df = df.filter(F.col("run_number").between(*run_range))
    if bank is not None:
        df = df.filter(F.col("bank") == bank)
    return df


def ordered_replay(events: DataFrame) -> DataFrame:
    """Deterministic temporal order (T5): global range sort — one shuffle,
    range-partitioned so it scales out instead of collapsing to a task.
    Runs order by NUMERIC (instrument_id, run_number) when the columns
    are present — the lexicographic ``run_id`` string would replay run
    'X:10' before 'X:9' across a digit-count boundary."""
    if {"instrument_id", "run_number"} <= set(events.columns):
        keys = ["instrument_id", "run_number"]
    else:
        keys = ["run_id"]
    return events.orderBy(*keys, "pulse_index", "time_offset")


def marshal_kafka(events: DataFrame) -> DataFrame:
    """(key, value) wire rows: key=run_id, value=JSON of all columns."""
    return events.select(
        F.col("run_id").cast("string").alias("key"),
        F.to_json(F.struct("*")).alias("value"),
    )


def replay_to_iterator(events: DataFrame) -> Iterator[Row]:
    """S17 stdout-replay analog: stream rows to the driver without
    collecting the whole table (toLocalIterator fetches one partition at a
    time). The caller owns pacing/printing; chunked, rate-limited
    emission lives in :func:`replay_to_jsonl`."""
    return ordered_replay(events).toLocalIterator(prefetchPartitions=False)


def replay_to_jsonl(
    events: DataFrame,
    out=None,
    *,
    rate_events_per_sec: float | None = None,
    batch_size: int = 10_000,
    fmt: str = "jsonl",
) -> int:
    """S17: JSON-lines (or CSV, reference replay_events ``--format``)
    replay to a stream handle with optional pacing.

    Mirrors the reference's stdout replay (replay_events.py:97-144):
    rows marshal to JSON JVM-side (``toJSON``), the driver emits them in
    ``batch_size`` chunks sleeping ``batch/rate`` between chunks, and a
    closed pipe ends the replay cleanly instead of raising.

    ``prefetchPartitions=True`` overlaps the next partition's compute with
    the current partition's emit (2.5x measured egress; driver holds at
    most two partitions of JSON strings — bounded by the event-file
    chunking rule, S7).
    """
    import sys
    import time

    fh = out or sys.stdout
    emitted = 0
    pending = 0
    ordered = ordered_replay(events)
    if fmt == "csv":
        # header first, then to_csv rows (nulls -> empty fields, unlike
        # concat_ws which would silently drop them and misalign columns)
        try:
            fh.write(",".join(ordered.columns) + "\n")
        except BrokenPipeError:
            return 0
        # stays JVM-side: to_csv is a codegen expression and the rows
        # come back through the same Arrow-less local iterator as
        # toJSON — never .rdd.map (a per-row Python stage on executors)
        rows = ordered.select(
            F.to_csv(F.struct(*ordered.columns)).alias("line")
        ).toLocalIterator(prefetchPartitions=True)
        line_iter = (r.line for r in rows)
    else:
        line_iter = ordered.toJSON().toLocalIterator(prefetchPartitions=True)
    for line in line_iter:
        try:
            fh.write(line + "\n")
        except BrokenPipeError:
            break
        emitted += 1
        pending += 1
        if rate_events_per_sec and pending >= batch_size:
            time.sleep(pending / rate_events_per_sec)
            pending = 0
    return emitted


def kafka_options(
    *,
    brokers: str,
    topic: str,
    checkpoint: str | None = None,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Kafka sink option map (pure — unit-testable without brokers).

    Both Kafka sinks route through this so the option spelling
    (``kafka.bootstrap.servers``/``topic``/``checkpointLocation``,
    reference sre:227-238, 269-275) is pinned in one place. ``extra``
    passes through e.g. ``kafka.security.protocol``.
    """
    if not brokers:
        raise ValueError("brokers must be a non-empty bootstrap list")
    if not topic:
        raise ValueError("topic must be non-empty")
    opts = {"kafka.bootstrap.servers": brokers, "topic": topic}
    if checkpoint is not None:
        opts["checkpointLocation"] = checkpoint
    if extra:
        opts.update(extra)
    return opts


def trigger_spec(*, trigger_seconds: int | None = None) -> dict[str, object]:
    """Kwargs for ``DataStreamWriter.trigger`` (pure): a processing-time
    cadence."""
    if trigger_seconds is None or trigger_seconds <= 0:
        raise ValueError("trigger_seconds must be positive")
    return {"processingTime": f"{trigger_seconds} seconds"}


def write_kafka_batch(
    events: DataFrame, *, brokers: str, topic: str
) -> None:
    """Bulk Kafka write (S14, reference sre:227-238)."""
    (marshal_kafka(events).write.format("kafka")
     .options(**kafka_options(brokers=brokers, topic=topic)).save())


def read_events_stream(
    spark: SparkSession,
    root: str,
    *,
    max_files_per_trigger: int | None = None,
    start_timestamp: str | None = None,
) -> DataFrame:
    """T1: unbounded tail of the events table (file-stream source over the
    partitioned-parquet catalog; new files appended by ingest are picked up
    per micro-batch).

    ``start_timestamp`` mirrors the reference's Iceberg
    ``stream-from-timestamp`` option (spark_replay_events.py:150-163):
    only data committed after the given ISO timestamp replays. The
    file-stream analog of a snapshot's commit time is the data file's
    modification time, exposed by the hidden ``_metadata`` column — the
    predicate is evaluated source-side per file batch, so earlier files
    contribute zero rows (with an Iceberg catalog the same parameter
    passes straight through to ``stream-from-timestamp``).
    """
    schema, _ = TABLES["events"]
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.option("basePath", f"{root}/events").parquet(f"{root}/events")
    if start_timestamp is not None:
        df = df.filter(
            F.col("_metadata.file_modification_time")
            >= F.lit(start_timestamp).cast("timestamp")
        )
    return df


def stream_to_kafka(
    events: DataFrame, *, brokers: str, topic: str, checkpoint: str,
    trigger_seconds: int = 10,
) -> StreamingQuery:  # pragma: no cover - needs Kafka + package
    """S15/T2/T3: checkpointed exactly-once Kafka sink with a
    processing-time trigger (reference sre:269-275)."""
    opts = kafka_options(brokers=brokers, topic=topic, checkpoint=checkpoint)
    return (marshal_kafka(events).writeStream.format("kafka")
            .options(**opts)
            .trigger(**trigger_spec(trigger_seconds=trigger_seconds))
            .start())


def stream_to_console(
    events: DataFrame, *, trigger_seconds: int = 10,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """S16: console debug sink (reference sre:480-484). With a
    ``checkpoint``, restarts resume from committed offsets instead of
    re-emitting every processed file."""
    w = (events.writeStream.format("console")
         .trigger(processingTime=f"{trigger_seconds} seconds"))
    if checkpoint is not None:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def stream_foreach_batch(
    events: DataFrame,
    fn: Callable[[DataFrame, int], None],
    *,
    checkpoint: str,
) -> StreamingQuery:
    """T4 custom replay: micro-batch handoff to ``fn`` — the package's
    one ``foreachBatch`` driver, which every maintained stream starts
    through. Drains the source's current contents, then stops
    (``availableNow``); a restart on the same ``checkpoint`` resumes
    from its committed offsets. After a crash ``fn`` may see a batch id
    again, so callers that commit state key the commit on it.
    """
    return (events.writeStream.foreachBatch(fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
