from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexus_processor_spark.operators import timeslice


@pytest.fixture()
def daslogs(spark):
    rows = [
        # run A has proton_charge (priority 1) AND pcharge (priority 3):
        # only proton_charge rows must become pulses.
        ("A:1", "proton_charge", 2.0), ("A:1", "proton_charge", 1.0),
        ("A:1", "pcharge", 99.0),
        # run B only has the fallback name.
        ("B:2", "SampleProtonCharge", 5.0), ("B:2", "SampleProtonCharge", 6.0),
        # unrelated log never contributes.
        ("A:1", "temperature", 0.5),
    ]
    return spark.createDataFrame(rows, "run_id string, log_name string, time double")


def test_pulse_times_candidate_priority_and_ordinals(daslogs):
    out = timeslice.pulse_times(daslogs).collect()
    got = {(r.run_id, r.pulse_index): r.pulse_time for r in out}
    assert got == {
        ("A:1", 0): 1.0, ("A:1", 1): 2.0,   # sorted by time, 0-based
        ("B:2", 0): 5.0, ("B:2", 1): 6.0,   # fallback name used
    }


def test_with_absolute_time_left_join_nulls(spark, daslogs):
    pulses = timeslice.pulse_times(daslogs)
    events = spark.createDataFrame(
        [("A:1", 0, 500_000.0), ("A:1", 7, 1.0)],  # pulse 7 doesn't exist
        "run_id string, pulse_index long, time_offset double",
    )
    rows = {r.pulse_index: r for r in
            timeslice.with_absolute_time(events, pulses).collect()}
    assert rows[0].absolute_time == 1.0 + 0.5  # µs -> s
    assert rows[7].absolute_time is None       # kept, null-enriched


def test_count_by_interval_half_open_buckets(spark):
    events = spark.createDataFrame(
        [(0.0, "b1", 0), (59.9, "b2", 0), (60.0, "b1", 1), (None, "b1", 2)],
        "absolute_time double, bank string, pulse_index long",
    )
    rows = {r.interval: r for r in
            timeslice.count_by_interval(events, 60.0).collect()}
    assert set(rows) == {0, 1}                      # null time drops out
    assert rows[0].event_count == 2 and rows[0].n_banks == 2
    assert rows[0].interval_start == 0.0 and rows[0].interval_end == 60.0
    assert rows[1].event_count == 1 and rows[1].min_time == 60.0


def test_count_in_time_range_half_open(spark):
    events = spark.createDataFrame(
        [(10.0, "b", 0), (19.999, "b", 1), (20.0, "b", 2)],
        "absolute_time double, bank string, pulse_index long",
    )
    row = timeslice.count_in_time_range(events, 10.0, 20.0).first()
    assert row.event_count == 2 and row.max_time == 19.999
    assert row.start_time == 10.0 and row.end_time == 20.0


def test_push_time_range_matches_derived_filter(spark):
    """Raw-nanos pushdown filter == derived-seconds filter for µs-aligned
    timestamps (boundary rows land identically on both sides)."""
    from nexus_processor_spark.functions.core import event_seconds

    base = 1_700_000_000
    ns = [  # µs-aligned nanos straddling the [base+10, base+20) window
        (base + 9) * 10**9 + 999_999_000,
        (base + 10) * 10**9,
        (base + 15) * 10**9 + 123_456_000,
        (base + 19) * 10**9 + 999_999_000,
        (base + 20) * 10**9,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(ns)],
                               "event_id long, ts long")
    lo, hi = float(base + 10), float(base + 20)
    pushed = {r.event_id for r in
              timeslice.push_time_range(df, lo, hi).collect()}
    derived = {r.event_id for r in
               df.select("event_id", event_seconds("ts").alias("t"))
               .filter((F.col("t") >= lo) & (F.col("t") < hi)).collect()}
    assert pushed == derived == {1, 2, 3}


def test_push_time_range_rejects_sub_microsecond_boundary(spark):
    df = spark.createDataFrame([(1, 0)], "event_id long, ts long")
    with pytest.raises(ValueError):
        timeslice.push_time_range(df, 0.0000001, 1.0)


def test_exclude_error_banks(spark):
    events = spark.createDataFrame(
        [("bank1_events",), ("bank_error_events",), ("bank_unmapped",)],
        "bank string",
    )
    kept = [r.bank for r in timeslice.exclude_error_banks(events).collect()]
    assert kept == ["bank1_events"]


def test_gapfill_zero_fills_missing_buckets(spark):
    from nexus_processor_spark.operators.timeslice import gapfill_intervals

    # events in buckets 0, 1, and 4 (of 10s) — 2 and 3 are outage gaps
    df = spark.createDataFrame(
        [(1, 5.0), (2, 12.0), (3, 15.0), (4, 41.0), (5, None)],
        "event_id long, absolute_time double",
    )
    rows = gapfill_intervals(df, 10.0).collect()
    assert [r.interval for r in rows] == [0, 1, 2, 3, 4]  # dense spine
    assert [r.event_count for r in rows] == [1, 2, 0, 0, 1]
    assert [r.is_gap for r in rows] == [0, 0, 1, 1, 0]
    assert rows[2].interval_start == 20.0 and rows[2].interval_end == 30.0


_HOUR_NS = 3_600 * 10**9
_BASE_2024_NS = 1_704_844_800 * 10**9  # 2024-01-10T00:00:00Z


def _around(edges, offsets):
    return [e + o for e in edges for o in offsets]


# long-ns event stamps at hour-bucket edges: each set lands rows exactly
# on, and 1 ns either side of, several edges
_EDGE_SETS = {
    "hour_edges_2024": _around(
        [_BASE_2024_NS + k * _HOUR_NS for k in (0, 1, 2, 5, 7)], (-1, 0, 1)),
    "sub_us": _around(
        [_BASE_2024_NS + k * _HOUR_NS for k in (0, 3)],
        (-1_001, -999, 1, 999, 1_001, 123_456_789, 999_999_999)),
    "pre_epoch": _around(
        [-k * _HOUR_NS for k in (0, 1, 2, 25)], (-1_001, -1, 0, 1, 999)),
}

# (long-ns entry point, double-seconds twin, ns-only kwargs)
_TWINS = {
    "interval": (timeslice.count_by_interval_ns,
                 timeslice.count_by_interval, {}),
    "interval_clustered": (timeslice.count_by_interval_ns,
                           timeslice.count_by_interval,
                           {"assume_clustered": True}),
    "bank_interval": (timeslice.count_by_bank_and_interval_ns,
                      timeslice.count_by_bank_and_interval, {}),
}


def assert_ns_and_seconds_are_equal_collect(spark, ts_values, twin):
    """The long-ns entry point over ``ts`` and its double-seconds twin
    over ``event_seconds(ts)`` return the same columns and the same rows."""
    from nexus_processor_spark.functions.core import event_seconds

    ns_fn, seconds_fn, kwargs = _TWINS[twin]
    rows = [(t, f"b{i % 3}", i % 5) for i, t in enumerate(ts_values)]
    ev = spark.createDataFrame(rows, "ts long, bank string, pulse_index long")
    fast = ns_fn(ev, 3600.0, **kwargs)
    generic = seconds_fn(
        ev.select(event_seconds("ts").alias("absolute_time"), "bank",
                  "pulse_index"),
        3600.0,
    )
    assert fast.columns == generic.columns
    assert sorted(map(tuple, fast.collect())) == \
           sorted(map(tuple, generic.collect()))


@pytest.mark.parametrize("edges", sorted(_EDGE_SETS))
@pytest.mark.parametrize("twin", sorted(_TWINS))
def test_ns_entry_points_match_seconds_twins(spark, twin, edges):
    """The exact integer ns bucket (floor division, so pre-epoch stamps
    bucket down) agrees with ``interval_floor`` on derived seconds at
    bucket edges ±1 ns, on sub-microsecond content, and before the
    epoch, at both grains and with either ``bitmap_distinct`` form."""
    assert_ns_and_seconds_are_equal_collect(spark, _EDGE_SETS[edges], twin)


def test_count_by_interval_ns_rejects_fractional_ns_interval(spark):
    ev = spark.createDataFrame([(1, "b", 1)], "ts long, bank string, pulse_index long")
    with pytest.raises(ValueError):
        timeslice.count_by_interval_ns(ev, 1e-10)


def test_locf_resample_carries_last_observation(spark):
    # bank A: readings in buckets 0 and 3 -> buckets 1, 2 carry v=1.0
    df = spark.createDataFrame(
        [
            (1, "A", 10.0, 1.0),
            (2, "A", 15.0, 1.5),   # same bucket 0, later time -> wins? no:
            # bucket is floor(t/60): both in bucket 0; last by (t, id) = 1.5
            (3, "A", 190.0, 9.0),  # bucket 3
            (4, "B", 70.0, 7.0),   # bank B single bucket
        ],
        "event_id long, bank string, absolute_time double, value double",
    )
    res = timeslice.locf_resample(
        df, 60.0, series_col="bank", time_col="absolute_time"
    ).collect()
    rows = {(r["bank"], r["interval"]): (r["value_locf"], r["is_gap"])
            for r in res}
    assert rows[("A", 0)] == (1.5, 0)
    assert rows[("A", 1)] == (1.5, 1)
    assert rows[("A", 2)] == (1.5, 1)
    assert rows[("A", 3)] == (9.0, 0)
    assert rows[("B", 1)] == (7.0, 0)
    assert len(rows) == 5  # per-series bounds, no cross-bank spine


def test_locf_bucket_last_tiebreak_by_event_id(spark):
    # identical timestamps: higher event_id wins the bucket
    df = spark.createDataFrame(
        [(1, "A", 5.0, 1.0), (2, "A", 5.0, 2.0)],
        "event_id long, bank string, absolute_time double, value double",
    )
    res = timeslice.locf_resample(df, 60.0).collect()
    assert res[0]["value_locf"] == 2.0


def test_time_weighted_avg_weights_by_holding_time(spark):
    # v=10 held for 9s, v=0 held for 1s, last sample drops out:
    # twa = (10*9 + 0*1) / 10 = 9.0 ; plain avg would say 4.0
    df = spark.createDataFrame(
        [
            (1, "A", 0.0, 10.0),
            (2, "A", 9.0, 0.0),
            (3, "A", 10.0, 99.0),
        ],
        "event_id long, bank string, absolute_time double, value double",
    )
    (row,) = timeslice.time_weighted_avg(df).collect()
    assert row["time_weighted_avg"] == 9.0
    assert row["n_intervals"] == 2
    assert row["span_seconds"] == 10.0


def test_time_weighted_avg_single_sample_series_dropped(spark):
    df = spark.createDataFrame(
        [(1, "A", 0.0, 10.0), (2, "A", 5.0, 2.0), (3, "B", 0.0, 1.0)],
        "event_id long, bank string, absolute_time double, value double",
    )
    rows = {r["bank"]: r for r in timeslice.time_weighted_avg(df).collect()}
    assert set(rows) == {"A"}  # B has no holding interval


def test_counter_rate_handles_resets(spark):
    # counter: 10 -> 25 -> 5 (reset) -> 8 ; increases: 15, 5, 3
    df = spark.createDataFrame(
        [(1, "A", 0.0, 10.0), (2, "A", 10.0, 25.0),
         (3, "A", 20.0, 5.0), (4, "A", 30.0, 8.0)],
        "event_id long, bank string, absolute_time double, value double",
    )
    rows = sorted(timeslice.counter_rate(df).collect(), key=lambda r: r["t"])
    assert [r["increase"] for r in rows] == [15.0, 5.0, 3.0]
    assert [r["rate_per_s"] for r in rows] == [1.5, 0.5, 0.3]


def test_counter_rate_simultaneous_samples_null_rate(spark):
    df = spark.createDataFrame(
        [(1, "A", 5.0, 10.0), (2, "A", 5.0, 12.0)],
        "event_id long, bank string, absolute_time double, value double",
    )
    (row,) = timeslice.counter_rate(df).collect()
    assert row["increase"] == 2.0 and row["rate_per_s"] is None


def test_anomaly_zscore_flags_spike_only(spark):
    # 30 calm buckets of 10 events, then one 300-event spike
    rows = []
    eid = 0
    for b in range(30):
        for _ in range(10):
            rows.append((eid, "A", b * 60.0 + 1.0, 0.0)); eid += 1
    for _ in range(300):
        rows.append((eid, "A", 30 * 60.0 + 1.0, 0.0)); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, bank string, absolute_time double, value double"
    )
    res = {r["interval"]: r for r in
           timeslice.anomaly_zscore(df, 60.0, trailing=24).collect()}
    assert res[30]["is_anomaly"]
    assert not any(r["is_anomaly"] for iv, r in res.items() if iv != 30)
    # calm buckets have zero variance -> null z, not false alarms
    assert res[10]["z"] is None


def test_seasonal_anomaly_judges_against_same_slot(spark):
    """A busy daily peak hour is NORMAL for its slot; the same volume in
    a quiet slot flags. 8 'days' of 4-slot cycles: slot 0 always 40
    events, slots 1-3 always 5 — then day 7 puts 40 into slot 2."""
    import math

    rows = []
    eid = 0

    def bucket(day, slot, n):
        nonlocal eid
        for _ in range(n):
            rows.append((eid, "A", (day * 4 + slot) * 60.0 + 1.0, 0.0))
            eid += 1

    for day in range(7):
        bucket(day, 0, 40)
        for s in (1, 2, 3):
            bucket(day, s, 5)
    bucket(7, 0, 40)
    bucket(7, 1, 5)
    bucket(7, 2, 40)   # peak-sized volume in a quiet slot
    bucket(7, 3, 5)
    df = spark.createDataFrame(
        rows, "event_id long, bank string, absolute_time double, value double"
    )
    res = {(r["slot"], r["interval"]): r for r in
           timeslice.seasonal_anomaly(df, 60.0, periods=4).collect()}
    # the anomalous quiet-slot spike flags...
    spike = res[(2, 7 * 4 + 2)]
    assert spike["is_anomaly"] and spike["baseline_mu"] == 5.0
    # ...while every peak-hour 40 is normal for ITS slot (zero variance,
    # equal to baseline -> no flag, null z)
    assert not any(r["is_anomaly"] for k, r in res.items() if k[0] == 0)
    assert res[(0, 0)]["z"] is None
    # numpy pin of the leave-one-out z for the spike: others = 7x5
    others = [5.0] * 7
    mu = sum(others) / 7
    sd = math.sqrt(sum((x - mu) ** 2 for x in others) / 6)
    assert sd == 0.0  # degenerate here: flagged via the sd==0 branch
    # a slot with real variance: make day-6 slot 3 carry 6 events instead
    rows2 = [r for r in rows]
    rows2.append((eid, "A", (6 * 4 + 3) * 60.0 + 1.0, 0.0))
    df2 = spark.createDataFrame(
        rows2, "event_id long, bank string, absolute_time double, value double"
    )
    res2 = {(r["slot"], r["interval"]): r for r in
            timeslice.seasonal_anomaly(df2, 60.0, periods=4).collect()}
    z = res2[(3, 6 * 4 + 3)]["z"]
    others = [5.0] * 7  # the other seven slot-3 buckets
    mu = sum(others) / 7
    sd = math.sqrt(sum((x - mu) ** 2 for x in others) / 6)
    assert sd == 0 and z is None  # still flat without the changed bucket
    # leave-one-out on a NON-flat slot: bump two different days
    rows3 = rows2 + [(eid + 1, "A", (5 * 4 + 3) * 60.0 + 1.0, 0.0),
                     (eid + 2, "A", (5 * 4 + 3) * 60.0 + 1.0, 0.0)]
    df3 = spark.createDataFrame(
        rows3, "event_id long, bank string, absolute_time double, value double"
    )
    res3 = {(r["slot"], r["interval"]): r for r in
            timeslice.seasonal_anomaly(df3, 60.0, periods=4).collect()}
    got = res3[(3, 7 * 4 + 3)]  # n=5 judged against [5,5,5,5,5,7,6]
    others = [5, 5, 5, 5, 5, 7, 6]
    mu = sum(others) / len(others)
    sd = math.sqrt(sum((x - mu) ** 2 for x in others) / (len(others) - 1))
    assert got["z"] == pytest.approx(round((5 - mu) / sd, 6), abs=1e-9)


def test_bitmap_distinct_clustered_form_is_equal(spark):
    """The map-combine (assume_clustered) bitmap form returns the same
    exact distincts as the repartition form and count_distinct — on
    unclustered input too (it is a performance dial, never a semantics
    one), including negatives and word boundaries."""
    import random

    from nexus_processor_spark.operators.timeslice import bitmap_distinct

    rng = random.Random(5)
    rows = [(i % 7, rng.choice([-65, -64, -1, 0, 1, 63, 64, 65,
                                rng.randrange(-10**6, 10**6)]))
            for i in range(5000)]
    df = spark.createDataFrame(rows, "g long, v long")
    want = {r.g: r.n for r in df.groupBy("g").agg(
        __import__("pyspark.sql.functions", fromlist=["F"])
        .count_distinct("v").alias("n")).collect()}
    a = {r.g: r.n for r in bitmap_distinct(
        df, ["g"], "v", "n").collect()}
    b = {r.g: r.n for r in bitmap_distinct(
        df, ["g"], "v", "n", assume_clustered=True).collect()}
    assert a == b == want
