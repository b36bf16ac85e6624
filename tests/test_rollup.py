from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexus_processor_spark.functions.core import event_seconds
from nexus_processor_spark.operators import rollup, timeslice
from nexus_processor_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events").select(
        event_seconds("ts").alias("absolute_time"),
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
    )


def test_rollup_serves_flagship_query_exactly(spark, events):
    """Same-grain serving: exact columns identical to the direct scan;
    the HLL distinct lands within sketch tolerance."""
    direct = {r.interval: r for r in
              timeslice.count_by_interval(events, 3600.0).collect()}
    ru = rollup.build_interval_rollup(events, 3600.0)
    served = {r.interval: r for r in
              rollup.serve_count_by_interval(ru, 3600.0).collect()}
    assert served.keys() == direct.keys()
    for k, d in direct.items():
        s = served[k]
        assert (s.event_count, s.n_banks) == (d.event_count, d.n_banks)
        assert (s.min_time, s.max_time) == (d.min_time, d.max_time)
        assert abs(s.n_pulses_approx - d.n_pulses) <= max(2, 0.1 * d.n_pulses)


def test_rollup_composes_to_coarser(spark, events):
    """60s rollup re-aggregated to 3600s == direct 3600s aggregation for
    every composable measure."""
    fine = rollup.build_interval_rollup(events, 60.0)
    coarse = rollup.rollup_to_coarser(fine, 60.0, 3600.0)
    served = {r.interval: r for r in
              rollup.serve_count_by_interval(coarse, 3600.0).collect()}
    direct = {r.interval: r for r in
              timeslice.count_by_interval(events, 3600.0).collect()}
    assert served.keys() == direct.keys()
    for k, d in direct.items():
        s = served[k]
        assert s.event_count == d.event_count
        assert (s.min_time, s.max_time) == (d.min_time, d.max_time)
    # size win that motivates the rollup
    assert fine.count() < events.count()


def test_rollup_rejects_non_multiple(spark, events):
    fine = rollup.build_interval_rollup(events, 60.0)
    with pytest.raises(ValueError, match="multiple"):
        rollup.rollup_to_coarser(fine, 60.0, 90.0)


def test_incremental_update_equals_full_rebuild(spark):
    """Splitting the stream into history + batch and refreshing
    incrementally must reproduce the from-scratch rollup exactly —
    including the HLL distinct estimates (sketch union is associative)."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        event_seconds("ts").alias("absolute_time"),
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
    )
    old = ev.filter(F.col("pulse_index") % 5 != 0)
    new = ev.filter(F.col("pulse_index") % 5 == 0)

    base = rollup.build_interval_rollup(old, 3600.0)
    merged = rollup.incremental_update(base, new, 3600.0)
    rebuilt = rollup.build_interval_rollup(ev, 3600.0)

    def served(r):
        return sorted(
            map(tuple, rollup.serve_count_by_interval(r, 3600.0).collect())
        )

    assert served(merged) == served(rebuilt)


def test_incremental_update_only_batch_scale_work(spark):
    """The merge groups on rollup keys: the plan re-aggregates the DELTA
    events but never re-reads the base rollup's source events."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        event_seconds("ts").alias("absolute_time"),
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
    )
    base = rollup.build_interval_rollup(ev, 3600.0)
    # materialize the base (as a real rollup table would be)
    base_rows = base.collect()
    base_df = spark.createDataFrame(base_rows, base.schema)
    merged = rollup.incremental_update(base_df, ev.limit(100), 3600.0)
    assert merged.count() > 0


def test_stream_maintained_rollup_matches_batch_rebuild(spark, tmp_path):
    """Drain an events file-stream through foreachBatch incremental
    merges; the maintained rollup parquet must serve the flagship query
    exactly like a from-scratch batch rollup."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        event_seconds("ts").alias("absolute_time"),
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
    )
    src = str(tmp_path / "stream_src")
    # several files -> several micro-batches (maxFilesPerTrigger=1)
    ev.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = rollup.maintain_rollup_stream(
        stream, str(tmp_path / "rollup"), 3600.0,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    from nexus_processor_spark.sources.snapshots import read_snapshot

    maintained = read_snapshot(spark, str(tmp_path / "rollup"))
    served_stream = sorted(map(tuple, rollup.serve_count_by_interval(
        maintained, 3600.0).collect()))
    served_batch = sorted(map(tuple, rollup.serve_count_by_interval(
        rollup.build_interval_rollup(ev, 3600.0), 3600.0).collect()))
    assert served_stream == served_batch


def test_histogram_rollup_percentile_accuracy_and_mergeability(spark):
    """Served p95 is within one bucket width of the exact percentile,
    and histogram counts merged from two halves equal the full build
    (exact mergeability — the point of the sketch)."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        event_seconds("ts").alias("absolute_time"),
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
        "value",
    )
    lo, hi, nb = 0.0, 500.0, 50
    hist = rollup.build_value_histogram_rollup(ev, 3600.0, lo, hi, nb)
    served = {r["interval"]: r["p"] for r in
              rollup.serve_percentile(hist, 0.95, lo, hi, nb).collect()}
    # ground truth: the rank-th order statistic (rank = ceil(0.95 n)) —
    # the served estimate interpolates INSIDE that value's bucket, so it
    # can differ from it by at most one bucket width
    import math

    vals: dict[int, list[float]] = {}
    for r in ev.filter("value IS NOT NULL").selectExpr(
        "CAST(floor(absolute_time/3600) AS LONG) AS interval", "value"
    ).collect():
        vals.setdefault(r["interval"], []).append(r["value"])
    width = (hi - lo) / nb
    assert served.keys() == vals.keys()
    for iv, p in served.items():
        xs = sorted(vals[iv])
        rank_val = xs[math.ceil(0.95 * len(xs)) - 1]
        assert abs(p - rank_val) <= width, (iv, p, rank_val)

    halves = [ev.filter(F.col("pulse_index") % 2 == i) for i in (0, 1)]
    merged = (
        rollup.build_value_histogram_rollup(halves[0], 3600.0, lo, hi, nb)
        .unionByName(
            rollup.build_value_histogram_rollup(halves[1], 3600.0, lo, hi, nb))
        .groupBy("interval", "bucket").agg(F.sum("n").alias("n"))
    )
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, hist.collect()))
