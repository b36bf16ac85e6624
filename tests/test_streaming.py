from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nexus_processor_spark.functions.core import event_timestamp
from nexus_processor_spark.operators import timeslice
from nexus_processor_spark.sources import catalog, nexus
from nexus_processor_spark.sources.tables import load_table
from nexus_processor_spark.streaming import replay, windows

from tests.test_nexus_ingest import fixture_tree


def _lake(spark, tmp_path) -> str:
    p = tmp_path / "run.json"
    p.write_text(json.dumps(fixture_tree()))
    df = nexus.ingest_table(spark, [str(p)], "events")
    root = str(tmp_path / "lake")
    catalog.write_table(df, root, "events")
    return root


def test_filtered_events_prunes_on_run_key(spark, tmp_path):
    root = _lake(spark, tmp_path)
    ev = catalog.read_table(spark, root, "events")
    out = replay.filtered_events(ev, run_id="REF_L:12345", bank="bank1_events")
    assert out.count() == 4
    assert replay.filtered_events(ev, run_id="REF_L:999").count() == 0
    assert replay.filtered_events(ev, run_range=(12000, 13000)).count() == 4


def test_marshal_kafka_shape(spark, tmp_path):
    root = _lake(spark, tmp_path)
    ev = catalog.read_table(spark, root, "events")
    row = replay.marshal_kafka(replay.ordered_replay(ev)).first()
    assert row.key == "REF_L:12345"
    payload = json.loads(row.value)
    assert payload["bank"] == "bank1_events" and "pulse_time" in payload


def test_replay_iterator_ordered(spark, tmp_path):
    root = _lake(spark, tmp_path)
    ev = catalog.read_table(spark, root, "events")
    offs = [r.time_offset for r in replay.replay_to_iterator(ev)]
    assert offs == sorted(offs)


def test_stream_drain_matches_batch(spark, tmp_path):
    """T6 anchor: draining the file stream through foreachBatch reproduces
    the batch table exactly-once."""
    root = _lake(spark, tmp_path)
    stream = replay.read_events_stream(spark, root, max_files_per_trigger=1)
    assert stream.isStreaming
    got: list[int] = []
    q = replay.stream_foreach_batch(
        stream,
        lambda df, epoch: got.append(df.count()),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(60)
    assert sum(got) == 4


def test_kafka_option_plumbing():
    """The option/trigger builders are pure — exercised without brokers."""
    import pytest

    opts = replay.kafka_options(
        brokers="b1:9092,b2:9092", topic="events",
        checkpoint="/ck", extra={"kafka.security.protocol": "SSL"},
    )
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "topic": "events",
        "checkpointLocation": "/ck",
        "kafka.security.protocol": "SSL",
    }
    assert "checkpointLocation" not in replay.kafka_options(brokers="b", topic="t")
    with pytest.raises(ValueError):
        replay.kafka_options(brokers="", topic="t")
    with pytest.raises(ValueError):
        replay.kafka_options(brokers="b", topic="")
    assert replay.trigger_spec(trigger_seconds=10) == {"processingTime": "10 seconds"}
    with pytest.raises(ValueError):
        replay.trigger_spec(trigger_seconds=0)


def test_write_kafka_batch_fails_loudly_without_connector(spark, tmp_path):
    """S14: with no Kafka connector on the classpath the batch sink fails
    at analysis and names the kafka data source, never a silent no-op.
    With the connector present this check needs a broker instead."""
    from pyspark.errors import AnalysisException

    provider = "org.apache.spark.sql.kafka010.KafkaSourceProvider"
    if spark._jvm.org.apache.spark.util.Utils.classIsLoadable(provider):
        pytest.skip("Kafka connector present; the sink needs a broker")
    ev = catalog.read_table(spark, _lake(spark, tmp_path), "events")
    with pytest.raises(AnalysisException, match="data source: kafka"):
        replay.write_kafka_batch(ev, brokers="localhost:9092", topic="events")


def test_stream_start_timestamp_drops_earlier_files(spark, tmp_path):
    """stream-from-timestamp analog: a mid-stream start replays only data
    committed after the given timestamp — earlier files contribute nothing."""
    import datetime
    import time

    root = _lake(spark, tmp_path)                       # 4 rows, written now
    time.sleep(1.2)
    cut = datetime.datetime.now().isoformat()
    time.sleep(1.2)
    late = catalog.read_table(spark, root, "events").withColumn(
        "event_id", F.col("event_id") + F.lit(1000))
    catalog.write_table(late, root, "events")           # 4 more rows, after cut
    stream = replay.read_events_stream(spark, root, start_timestamp=cut)
    got: list[list[int]] = []
    q = replay.stream_foreach_batch(
        stream,
        lambda df, epoch: got.append([r.event_id for r in df.collect()]),
        checkpoint=str(tmp_path / "ckpt_ts"),
    )
    q.awaitTermination(60)
    ids = sorted(x for batch in got for x in batch)
    assert len(ids) == 4 and all(i >= 1000 for i in ids)
    # and without the cut, everything replays
    all_stream = replay.read_events_stream(spark, root)
    total: list[int] = []
    q2 = replay.stream_foreach_batch(
        all_stream, lambda df, epoch: total.append(df.count()),
        checkpoint=str(tmp_path / "ckpt_all"),
    )
    q2.awaitTermination(60)
    assert sum(total) == 8


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """T3: a restarted query on the same checkpoint never re-emits
    already-processed data, and picks up only the new files."""
    root = _lake(spark, tmp_path)
    ck = str(tmp_path / "ck_restart")
    seen: list[int] = []

    def drain():
        got: list[int] = []
        q = replay.stream_foreach_batch(
            replay.read_events_stream(spark, root),
            lambda df, e: got.append(df.count()),
            checkpoint=ck,
        )
        q.awaitTermination(60)
        return got

    assert sum(drain()) == 4        # first run: everything
    seen = drain()                   # restart, no new data
    assert sum(seen) == 0
    # append one more run's events -> only the delta arrives
    t = fixture_tree()
    t["entry"]["run_number"] = 99999
    p = tmp_path / "extra.json"
    p.write_text(json.dumps(t))
    extra = nexus.ingest_table(spark, [str(p)], "events")
    catalog.write_table(extra, root, "events")
    assert sum(drain()) == 4


def test_watermark_drops_late_events(spark, tmp_path):
    """T6 conservative late-data policy: an event arriving behind the
    watermark is dropped from its (already finalized) window."""
    from datetime import datetime

    src = tmp_path / "stream_src"
    sink_ck = tmp_path / "ck_wm"

    def frame(*ts):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, h, m), "b1") for h, m in ts],
            "event_time timestamp, bank string",
        )

    # batch 1: on-time events across four hours
    frame((0, 30), (1, 30), (2, 30), (3, 30)).write.parquet(str(src))
    stream = spark.readStream.schema("event_time timestamp, bank string") \
        .parquet(str(src))
    agg = windows.windowed_counts(stream, 3600.0, watermark="10 minutes")
    q = (agg.writeStream.format("memory").queryName("wm_out")
         .option("checkpointLocation", str(sink_ck))
         .outputMode("append").start())
    try:
        q.processAllAvailable()  # watermark -> 03:20
        # batch 2: one late straggler (00:45, behind the watermark) plus a
        # future event that advances the watermark and flushes hours 1-3
        frame((0, 45), (20, 0)).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        frame((21, 0)).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.interval: r.event_count
           for r in spark.sql("select * from wm_out").collect()}
    base = int(datetime(2024, 1, 1).timestamp() // 3600)
    # hour-0 window finalized with ONE event: the 00:45 straggler was
    # dropped at the watermark, exactly the documented policy
    assert got[base] == 1
    assert got[base + 1] == 1 and got[base + 2] == 1 and got[base + 3] == 1


def test_windowed_counts_match_floor_bucketing(spark, tmp_path):
    """Streaming tumbling windows == batch floor(t/N) buckets on the same
    data (semantics anchored to operators.timeslice)."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        event_timestamp("ts").alias("event_time"),
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
    )
    # batch twin via the flagship operator
    batch = timeslice.count_by_interval(
        ev.withColumn("absolute_time", F.col("event_time").cast("double")),
        3600.0,
    ).select("interval", "event_count")
    # "streaming" semantics applied to the same bounded frame
    win = windows.windowed_counts(ev, 3600.0)
    agg = win.groupBy("interval").agg(F.sum("event_count").alias("event_count"))
    assert sorted(map(tuple, batch.collect())) == sorted(map(tuple, agg.collect()))


def test_ordered_replay_numeric_run_order(spark):
    """Runs replay in numeric run_number order — the lexicographic
    run_id string would put 'X:10' before 'X:9'."""
    ev = spark.createDataFrame(
        [("REF_L", 9, "REF_L:9", 0, 1.0), ("REF_L", 10, "REF_L:10", 0, 2.0)],
        "instrument_id string, run_number long, run_id string, "
        "pulse_index long, time_offset double",
    )
    got = [r.run_id for r in replay.ordered_replay(ev).collect()]
    assert got == ["REF_L:9", "REF_L:10"]


def test_filtered_events_rejects_malformed_run_id(spark, tmp_path):
    root = _lake(spark, tmp_path)
    ev = catalog.read_table(spark, root, "events")
    import pytest

    with pytest.raises(ValueError, match="instrument_id.*run_number"):
        replay.filtered_events(ev, run_id="12345")
    with pytest.raises(ValueError, match="instrument_id.*run_number"):
        replay.filtered_events(ev, run_id="REF_L_12345")


def test_window_durations_validated(spark):
    """Fractional widths are rejected loudly where the interval-id
    arithmetic needs whole seconds — never silently truncated by int()."""
    ev = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00")], "user_id string, t string"
    ).select("user_id", F.col("t").cast("timestamp").alias("event_time"),
             F.lit("b").alias("bank"))
    with pytest.raises(ValueError, match="whole number"):
        windows.windowed_counts(ev, 0.5)
    assert windows.windowed_counts(ev, 60.0).columns[0] == "interval"


