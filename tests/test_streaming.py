from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nexus_processor_spark.functions.core import event_timestamp
from nexus_processor_spark.operators import timeslice
from nexus_processor_spark.sources import catalog, nexus
from nexus_processor_spark.sources.tables import load_table
from nexus_processor_spark.streaming import replay, stateful, windows

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


def test_stateful_running_totals_match_batch(spark, tmp_path):
    """applyInPandasWithState accumulator: after draining the stream, the
    running totals equal the batch per-bank summary."""
    root = _lake(spark, tmp_path)
    stream = replay.read_events_stream(spark, root)
    totals = stateful.running_bank_totals(stream)
    q = (totals.writeStream.format("memory").queryName("rt")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).outputMode("append").start())
    q.awaitTermination(120)
    got = {r.bank: r for r in spark.sql(
        "select * from rt order by total_events desc").collect()}
    batch = {r.bank: r for r in
             catalog.read_table(spark, root, "events")
             .groupBy("bank")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.max("pulse_index").alias("mp"),
                  F.sum("event_weight").alias("w")).collect()}
    assert got.keys() == batch.keys()
    for bank, b in batch.items():
        assert got[bank].total_events == b.n
        assert got[bank].max_pulse_index == b.mp
        assert got[bank].total_weight == b.w


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


def test_session_window_matches_batch_sessionize(spark, tmp_path):
    """session_window session count per user == batch gap sessionization."""
    from nexus_processor_spark.operators.asof import sessionize

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id",
        event_timestamp("ts").alias("event_time"),
    )
    stream_form = windows.session_counts(ev, 21600.0)
    got = {r.user_id: r.n for r in
           stream_form.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    batch = sessionize(
        ev.withColumn("t", F.col("event_time").cast("double")),
        21600.0, time_col="t", key_col="user_id",
    )
    want = {r.user_id: r.n for r in
            batch.groupBy("user_id")
            .agg((F.max("session_id") + 1).alias("n")).collect()}
    assert got == want


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


def test_dedup_stream_drops_repeats_within_watermark(spark, tmp_path):
    """Streaming exact dedup: a key re-arriving in a later micro-batch
    (inside the watermark horizon) is dropped; the drained stream equals
    the batch dropDuplicates set."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    src = tmp_path / "dedup_src"
    schema = "event_id long, event_time timestamp"
    spark.createDataFrame(
        [(1, t0), (2, t0 + dt.timedelta(seconds=1))], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=2)), (3, t0 + dt.timedelta(seconds=3))],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = windows.dedup_stream(stream, time_col="event_time")
    q = (
        out.writeStream.format("memory").queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .trigger(availableNow=True).outputMode("append").start()
    )
    q.awaitTermination(120)
    ids = sorted(r.event_id for r in spark.sql("select * from dedup_out").collect())
    assert ids == [1, 2, 3]


def test_enrich_stream_matches_batch_join(spark, tmp_path):
    """Stream-static broadcast enrichment: the drained stream equals the
    batch left join, including the unmatched-key null row."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    src = tmp_path / "enrich_src"
    schema = "event_id long, event_time timestamp, bank string"
    rows = [(1, t0, "click"), (2, t0, "view"), (3, t0, "mystery")]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src))
    dim = spark.createDataFrame(
        [("click", "interactive"), ("view", "passive")],
        "bank string, bank_kind string",
    )

    stream = spark.readStream.schema(schema).parquet(str(src))
    out = windows.enrich_stream(stream, dim)
    q = (
        out.writeStream.format("memory").queryName("enrich_out")
        .option("checkpointLocation", str(tmp_path / "ck_enrich"))
        .trigger(availableNow=True).outputMode("append").start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.event_id, r.bank_kind)
        for r in spark.sql("select * from enrich_out").collect()
    )
    batch = spark.createDataFrame(rows, schema).join(dim, "bank", "left")
    want = sorted((r.event_id, r.bank_kind) for r in batch.collect())
    assert got == want and (3, None) in got


def test_funnel_join_stream_stream_matches_batch(spark, tmp_path):
    """Stream-stream funnel join (watermarked, time-bounded) emits exactly
    the batch join's matches once drained."""
    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m, 0)
    first = spark.createDataFrame(
        [(1, t(10, 0)), (2, t(11, 0)), (9, t(9, 0))],
        "user_id long, event_time timestamp",
    )
    second = spark.createDataFrame(
        [(1, t(10, 30)), (1, t(12, 30)), (2, t(11, 10)), (3, t(10, 5))],
        "user_id long, event_time timestamp",
    )
    fdir, sdir = str(tmp_path / "first"), str(tmp_path / "second")
    first.write.parquet(fdir)
    second.write.parquet(sdir)

    batch = {(r.user_id, r.first_time, r.second_time, r.lag_seconds)
             for r in windows.funnel_join(first, second).collect()}
    assert {(u, ls) for u, _, _, ls in batch} == {(1, 1800.0), (2, 600.0)}

    schema = "user_id long, event_time timestamp"
    sa = spark.readStream.schema(schema).parquet(fdir)
    sb = spark.readStream.schema(schema).parquet(sdir)
    joined = windows.funnel_join(sa, sb)
    assert joined.isStreaming
    q = (joined.writeStream.format("memory").queryName("funnel")
         .option("checkpointLocation", str(tmp_path / "ck_funnel"))
         .trigger(availableNow=True).outputMode("append").start())
    q.awaitTermination(120)
    got = {(r.user_id, r.first_time, r.second_time, r.lag_seconds)
           for r in spark.sql("select * from funnel").collect()}
    assert got == batch


def test_sliding_counts_sum_of_tumbling_buckets(spark):
    """Each sliding window's count equals the sum of the slide-width
    tumbling buckets it spans (overlap factor = window/slide)."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        event_timestamp("ts").alias("event_time"),
        F.col("event_type").alias("bank"),
    )
    window_s, slide_s = 3600.0, 900.0
    sliding = windows.sliding_counts(ev, window_s, slide_s)

    # batch twin: tumbling 900s buckets, summed over each 4-bucket span
    buckets = {
        (r["b"], r["bank"]): r["n"]
        for r in ev.select(
            F.floor(F.col("event_time").cast("double") / slide_s)
            .cast("long").alias("b"),
            "bank",
        ).groupBy("b", "bank").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    overlap = int(window_s / slide_s)
    for r in sliding.collect():
        k = r["slide_index"]
        expect = sum(
            buckets.get((k + i, r["bank"]), 0) for i in range(overlap)
        )
        assert r["event_count"] == expect, (k, r["bank"])
    # every event appears in `overlap` windows
    total = sum(r["event_count"] for r in sliding.collect())
    assert total == overlap * ev.count()


def test_sliding_counts_rejects_nondivisible_slide(spark):
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        event_timestamp("ts").alias("event_time"),
        F.col("event_type").alias("bank"),
    )
    with pytest.raises(ValueError, match="divide"):
        windows.sliding_counts(ev, 3600.0, 700.0)


def test_windowed_unique_counts_match_batch_distinct(spark, tmp_path):
    """Streaming distinct-users-per-window (dedup-then-count composition)
    drains to exactly the batch groupBy(bucket).countDistinct(user)."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(40):
        # 2 windows of 60s; users repeat within and across windows
        rows.append((i % 7, t0 + dt.timedelta(seconds=(i * 3) % 115)))
    schema = "user_id long, event_time timestamp"
    src = tmp_path / "uniq_src"
    df = spark.createDataFrame(rows, schema)
    df.coalesce(2).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = windows.windowed_unique_counts(stream, 60.0)
    q = (
        out.writeStream.format("memory").queryName("uniq_out")
        .option("checkpointLocation", str(tmp_path / "ck_uniq"))
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        # far-future event advances the watermark and finalizes the real
        # windows (its own window never finalizes -> excluded from output)
        spark.createDataFrame(
            [(999, t0 + dt.timedelta(hours=6))], schema
        ).coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.interval: r.unique_count
        for r in spark.sql("select * from uniq_out").collect()
    }
    expected = {
        r.interval: r.n
        for r in df.groupBy(
            F.floor(F.unix_timestamp("event_time") / 60).cast("long").alias("interval")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert got == expected


@pytest.mark.slow
def test_funnel_join_left_outer_emits_abandonment(spark, tmp_path):
    """leftOuter funnel: unmatched first-side rows surface with null
    second_time once the watermark passes their horizon."""
    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m, 0)
    first = spark.createDataFrame(
        # user 9 never converts; a late second-side row at 23:00 advances
        # the watermark far past every first-side horizon
        [(1, t(10, 0)), (9, t(9, 0))],
        "user_id long, event_time timestamp",
    )
    second = spark.createDataFrame(
        [(1, t(10, 30)), (7, t(23, 0))],
        "user_id long, event_time timestamp",
    )
    fdir, sdir = str(tmp_path / "f"), str(tmp_path / "s")
    first.write.parquet(fdir)
    second.write.parquet(sdir)
    schema = "user_id long, event_time timestamp"
    sa = spark.readStream.schema(schema).parquet(fdir)
    sb = spark.readStream.schema(schema).parquet(sdir)
    rows: set = set()

    def drain():
        joined = windows.funnel_join(
            spark.readStream.schema(schema).parquet(fdir),
            spark.readStream.schema(schema).parquet(sdir),
            how="leftOuter",
        )
        q = (joined.writeStream
             .foreachBatch(lambda df, _id: rows.update(
                 (r.user_id, r.second_time is None, r.lag_seconds)
                 for r in df.collect()))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).outputMode("append").start())
        q.awaitTermination(120)

    drain()
    assert (1, False, 1800.0) in rows          # converted
    # outer (abandonment) rows emit in a batch AFTER the watermark has
    # passed the horizon — availableNow stops first, so the next arrival
    # on the same checkpoint (the operational steady state: data keeps
    # coming) triggers the evict-and-emit
    # the global watermark is the MIN across both inputs — late arrivals
    # must advance BOTH sides before eviction can emit outer rows
    late = spark.createDataFrame(
        [(8, t(23, 30))], "user_id long, event_time timestamp"
    )
    late.write.mode("append").parquet(sdir)
    late.write.mode("append").parquet(fdir)
    drain()
    assert (9, True, None) in rows             # abandoned -> outer row


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
    """Fractional durations: supported exactly where no interval-id
    arithmetic needs whole seconds (session gap), rejected loudly where
    it does — never silently truncated by int()."""
    import pytest

    from nexus_processor_spark.streaming import windows as W

    ev = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00")], "user_id string, t string"
    ).select("user_id", F.col("t").cast("timestamp").alias("event_time"),
             F.lit("b").alias("bank"))
    # session gap takes exact fractional seconds ('0.5 seconds' parses)
    assert W.session_counts(ev, 0.5).columns[0] == "user_id"
    with pytest.raises(ValueError, match="whole number"):
        W.windowed_counts(ev, 0.5)
    with pytest.raises(ValueError, match="whole number"):
        W.sliding_counts(ev, 3600.0, 0.5)
    with pytest.raises(ValueError, match="watermark.*interval"):
        W.windowed_unique_counts(ev, 3600.0, watermark="10 minutes")
    # watermark covering the interval is accepted
    W.windowed_unique_counts(ev, 60.0, watermark="10 minutes")


def test_running_totals_null_pulse_rows_survive(spark, tmp_path):
    """A micro-batch group whose pulse_index values are all null must not
    kill the query (int(NaN)) — counts accumulate, max skips nulls."""
    from nexus_processor_spark.streaming import stateful

    src = tmp_path / "in"
    src.mkdir()
    schema = ("bank string, pulse_index long, event_weight double, "
              "event_time timestamp")
    spark.createDataFrame(
        [("b1", None, 2.0, None), ("b1", None, 3.0, None),
         (None, 5, 1.0, None)],
        schema,
    ).coalesce(1).write.parquet(str(src / "f1"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    q = (stateful.running_bank_totals(stream)
         .writeStream.format("memory").queryName("rt_nulls")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.bank: (r.total_events, r.max_pulse_index, r.total_weight)
           for r in spark.sql("SELECT * FROM rt_nulls").collect()}
    assert got["b1"] == (2, -1, 5.0)
    assert got[None] == (1, 5, 1.0)


def test_running_ewma_matches_batch_operator_across_drains(spark, tmp_path):
    """Streaming EWMA folds the same recurrence as smoothing.ewma: two
    drains over split files end at the batch operator's final state per
    series, bit-exact; nulls skip; late rows drop."""
    from nexus_processor_spark.operators import smoothing

    src = tmp_path / "pts"
    src.mkdir()
    schema = "series string, t double, x double"
    f1 = [("s1", 0.0, 4.0), ("s1", 1.0, None), ("s1", 2.0, 8.0),
          ("s2", 0.0, 10.0)]
    f2 = [("s1", 3.0, 2.0), ("s1", 1.5, 99.0),  # 1.5 < 2.0: late, drops
          ("s2", 1.0, 20.0), ("s3", 0.0, 7.0)]
    spark.createDataFrame(f1, schema).coalesce(1) \
        .write.parquet(str(src / "f1"))
    ck = str(tmp_path / "ck")

    emitted: list = []

    def drain():
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(src / "*")))
        q = (stateful.running_ewma(stream, 0.25)
             .writeStream.foreachBatch(
                 lambda df, _e: emitted.extend(df.collect()))
             .option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    spark.createDataFrame(f2, schema).coalesce(1) \
        .write.parquet(str(src / "f2"))
    drain()
    got = {}
    for r in emitted:  # emission order: later batches overwrite per key
        got[r.series] = (r.last_t, r.ewma)

    # batch twin over the SAME in-order non-late points
    batch_rows = [r for r in f1 + f2 if r != ("s1", 1.5, 99.0)]
    bdf = spark.createDataFrame(batch_rows, schema)
    want = {}
    for r in smoothing.ewma(bdf, ["series"], "t", "x", 0.25).collect():
        cur = want.get(r.series)
        if cur is None or r.t > cur[0]:
            want[r.series] = (r.t, r.ewma)
    assert {k: v[1] for k, v in got.items()} \
        == {k: v[1] for k, v in want.items()}


def test_closed_sessions_timeout_eviction_matches_batch(spark, tmp_path):
    """Custom stateful sessionizer (EventTimeTimeout): sessions close
    exactly once — by in-batch gap or by watermark timeout — and the
    closed set equals batch sessionize over the same users; sessions
    still open at the stream head are NOT emitted."""
    from datetime import datetime

    from nexus_processor_spark.operators.asof import sessionize
    from nexus_processor_spark.streaming import stateful

    src = tmp_path / "sess_src"
    ck = tmp_path / "ck_sess"

    def frame(rows):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, h, m), u) for u, h, m in rows],
            "event_time timestamp, user_id string",
        )

    # batch 1 — A: one 3-event session; B: two clusters split by an
    # in-batch gap > 30min (first closes during the batch)
    b1 = [("A", 0, 0), ("A", 0, 5), ("A", 0, 10),
          ("B", 0, 0), ("B", 0, 2), ("B", 3, 0), ("B", 3, 1)]
    frame(b1).write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_time timestamp, user_id string").parquet(str(src))
    out = stateful.closed_sessions(
        stream, 1800.0, watermark="10 minutes")
    q = (out.writeStream.format("memory").queryName("sess_out")
         .option("checkpointLocation", str(ck))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # batch 2 — C far in the future: advances the watermark past
        # every open session's last+gap; the no-data batch fires their
        # timeouts
        frame([("C", 20, 0)]).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sess_out").collect()
    }
    batch = sessionize(
        frame(b1).select(
            "user_id",
            F.col("event_time").cast("double").alias("t")),
        1800.0, time_col="t", key_col="user_id",
    )
    want = {
        (r.user_id, r.s, r.e, r.n)
        for r in batch.groupBy("user_id", "session_id")
        .agg(F.min("t").alias("s"), F.max("t").alias("e"),
             F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want  # all of A's and B's sessions closed, C absent
    assert not any(u == "C" for u, *_ in got)


@pytest.mark.slow
def test_closed_sessions_straggler_bridges_buffered_sessions(spark, tmp_path):
    """The watermark-exact buffering contract (the exact scenario the
    r7 advisor flagged): gap=30min, watermark delay=10min. Batch 1 has
    events at t=0 and t=35min — an IN-BATCH gap > 30min, but the first
    cluster's last+gap (30min) is still beyond the watermark (25min),
    so NOTHING may be emitted yet. A batch-2 straggler at t=27min
    (admissible: >= watermark) lands within the gap of BOTH buffered
    sessions and bridges them into one. The drained closed set equals
    batch sessionize over all three events: one session, n=3."""
    from datetime import datetime

    from nexus_processor_spark.operators.asof import sessionize
    from nexus_processor_spark.streaming import stateful

    src = tmp_path / "sess_straggle"
    ck = tmp_path / "ck_straggle"

    def frame(rows):
        return spark.createDataFrame(
            [(datetime(2024, 1, 1, h, m), u) for u, h, m in rows],
            "event_time timestamp, user_id string",
        )

    b1 = [("A", 0, 0), ("A", 0, 35)]
    straggler = [("A", 0, 27)]
    frame(b1).write.parquet(str(src))
    stream = spark.readStream.schema(
        "event_time timestamp, user_id string").parquet(str(src))
    out = stateful.closed_sessions(
        stream, 1800.0, watermark="10 minutes")
    emitted: list = []
    q = (out.writeStream.foreachBatch(
            lambda df, _e: emitted.extend(df.collect()))
         .option("checkpointLocation", str(ck))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # premature emission would SPLIT the session the straggler is
        # about to bridge — append mode could never retract it
        assert emitted == []
        frame(straggler).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        assert emitted == []
        # Z far in the future advances the watermark past A's last+gap;
        # the no-data batch fires the event-time timeout
        frame([("Z", 3, 0)]).write.mode("append").parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.user, r.session_start, r.session_end, r.n_events)
           for r in emitted}
    batch = sessionize(
        frame(b1 + straggler).select(
            "user_id", F.col("event_time").cast("double").alias("t")),
        1800.0, time_col="t", key_col="user_id",
    )
    want = {
        (r.user_id, r.s, r.e, r.n)
        for r in batch.groupBy("user_id", "session_id")
        .agg(F.min("t").alias("s"), F.max("t").alias("e"),
             F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    assert len(got) == 1 and next(iter(got))[3] == 3  # bridged, not split


def test_closed_sessions_non_utc_session_timezone(spark, tmp_path):
    """Epoch math must come from Spark's cast('double'), which is
    tz-exact — under a non-UTC (and non-whole-hour) session timezone
    the drained closed set still equals batch sessionize bit-for-bit.
    (pandas .timestamp() on the tz-naive rendering would shift every
    boundary by +5:30 here.)"""
    from datetime import datetime

    from nexus_processor_spark.operators.asof import sessionize
    from nexus_processor_spark.streaming import stateful

    src = tmp_path / "sess_tz"
    ck = tmp_path / "ck_tz"
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        def frame(rows):
            return spark.createDataFrame(
                [(datetime(2024, 1, 1, h, m), u) for u, h, m in rows],
                "event_time timestamp, user_id string",
            )

        b1 = [("A", 0, 0), ("A", 0, 5), ("A", 2, 0), ("A", 2, 10),
              ("B", 0, 0)]
        frame(b1).write.parquet(str(src))
        stream = spark.readStream.schema(
            "event_time timestamp, user_id string").parquet(str(src))
        out = stateful.closed_sessions(
            stream, 1800.0, watermark="10 minutes")
        q = (out.writeStream.format("memory").queryName("sess_tz")
             .option("checkpointLocation", str(ck))
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            frame([("Z", 20, 0)]).write.mode("append").parquet(str(src))
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r.user, r.session_start, r.session_end, r.n_events)
            for r in spark.sql("select * from sess_tz").collect()
        }
        batch = sessionize(
            frame(b1).select(
                "user_id", F.col("event_time").cast("double").alias("t")),
            1800.0, time_col="t", key_col="user_id",
        )
        want = {
            (r.user_id, r.s, r.e, r.n)
            for r in batch.groupBy("user_id", "session_id")
            .agg(F.min("t").alias("s"), F.max("t").alias("e"),
                 F.count(F.lit(1)).alias("n")).collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_fold_session_event_merges_all_hits_on_invariant_breach():
    """Healthy state never lets one event hit >2 sessions (they are
    gap-separated), but corrupted/hand-migrated state might — the fold
    must merge EVERY hit into one valid session, not just the first
    two, so the list comes out non-overlapping."""
    from nexus_processor_spark.streaming.stateful import _fold_session_event

    sessions = [[0.0, 0.0, 1], [10.0, 10.0, 2], [20.0, 20.0, 4]]
    _fold_session_event(sessions, 10.0, gap=12.0)
    assert sessions == [[0.0, 20.0, 8]]
