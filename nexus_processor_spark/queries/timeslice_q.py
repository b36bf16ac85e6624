"""Flagship time-slice queries bound to the testdata ``events`` table.

Column mapping per FIXTURES.md §4: ``event_type`` -> bank, ``user_id`` ->
pulse_index, ``epoch(ts)`` -> absolute_time seconds, ``value`` -> µs offset
analog. Interval = 3600 s over the ~30-day synthetic stream (~720 buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nexus_processor_spark.functions.core import event_seconds, to_attribute_map
from nexus_processor_spark.operators import prefix, timeslice
from nexus_processor_spark.sources.tables import load_events_time_range, load_table

INTERVAL = 3600.0
# Half-open [2024-01-10, 2024-01-20) in UTC epoch seconds.
RANGE_START = 1704844800.0
RANGE_END = 1705708800.0


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        event_seconds("ts").alias("absolute_time"),
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
        "value",
    )


def q_timeslice_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 flagship on the long-ns fast path: bucket by integer division
    on the stored column, min/max converted per group (same rows as the
    generic derived-seconds form — equivalence test-pinned)."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
    )
    return timeslice.count_by_interval_ns(ev, INTERVAL)


def q_timeslice_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/P4 + S9: the range predicate is pushed onto the stored ``ts``
    encoding first (parquet row-group pruning), then re-applied exactly on
    the derived seconds inside ``count_in_time_range`` (same half-open
    semantics, so the double filter is a no-op on rows)."""
    ev = load_events_time_range(spark, sf_dir, RANGE_START, RANGE_END).select(
        "event_id",
        event_seconds("ts").alias("absolute_time"),
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
        "value",
    )
    return timeslice.count_in_time_range(ev, RANGE_START, RANGE_END)


def q_timeslice_bank_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        F.col("event_type").alias("bank"),
        F.col("user_id").alias("pulse_index"),
    )
    return timeslice.count_by_bank_and_interval_ns(ev, INTERVAL)


def q_pulse_index_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: 0-based pulse ordinals by time order (unique-key tiebreak so the
    assignment is deterministic across engines).

    Served by the two-phase distributed scan (``prefix.
    distributed_row_number``): per-hour-bucket row_number + broadcast
    cumulative bucket counts — same ordinal as ``row_number() OVER
    (ORDER BY ...)`` but with bounded partitions instead of the
    single-task global window (the reference hazard SURVEY §2.5 flags).

    Null timestamps are excluded explicitly: an ordinal over an unknown
    time is meaningless, and the exclusion keeps the cross-engine
    contract independent of NULLS FIRST/LAST defaults (the operator
    itself ranks null keys first — pinned by tests/test_prefix.py)."""
    e = _events(spark, sf_dir).filter(
        (F.col("bank") == "click") & F.col("absolute_time").isNotNull()
    )
    return prefix.distributed_row_number(
        e.select("event_id", "absolute_time"),
        order_col="absolute_time",
        tiebreak_cols=("event_id",),
        grid=3600.0,
        out_col="pulse_index",
    ).select(
        "event_id",
        "pulse_index",
        F.col("absolute_time").alias("pulse_time"),
    )


def q_events_snapshot_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/P4 over the snapshot-table format: events committed as four
    time-ranged directories with manifest min/max stats, then the
    half-open range query reads with ``prune=`` (directories provably
    outside the window are never listed) and applies the exact
    predicate. The oracle is the plain range aggregate over ALL events
    — a directory wrongly skipped at a boundary loses rows and
    hash-mismatches, so manifest-level skipping is correctness-pinned,
    not just unit-tested."""
    from nexus_processor_spark.sources import snapshots
    from nexus_processor_spark.sources.tables import scratch_dir

    ev = _events(spark, sf_dir).select("event_id", "absolute_time", "bank")
    qs = ev.agg(F.expr(
        "percentile_approx(absolute_time, array(0.25, 0.5, 0.75))"
    )).first()[0]
    t = scratch_dir("events_prune_q")
    bounds = [(None, qs[0]), (qs[0], qs[1]), (qs[1], qs[2]), (qs[2], None)]
    for i, (lo, hi) in enumerate(bounds):
        part = ev
        if lo is not None:
            part = part.filter(F.col("absolute_time") >= lo)
        if hi is not None:
            part = part.filter(F.col("absolute_time") < hi)
        snapshots.write_snapshot(
            part, t, mode="overwrite" if i == 0 else "append",
            stats_cols=("absolute_time",),
        )
    pruned = snapshots.read_snapshot(
        spark, t, prune={"absolute_time": (RANGE_START, RANGE_END)}
    )
    return (
        pruned.filter(
            (F.col("absolute_time") >= RANGE_START)
            & (F.col("absolute_time") < RANGE_END)
        )
        .groupBy("bank")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.min("absolute_time").alias("min_time"),
            F.max("absolute_time").alias("max_time"),
        )
    )


def q_enrich_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: enrich events with a (broadcast) pulse-time dimension derived as
    the hourly grid, then absolute-time arithmetic (P9)."""
    e = _events(spark, sf_dir)
    hours = (
        e.select(F.floor(F.col("absolute_time") / INTERVAL).cast("long").alias("h"))
        .distinct()
        .withColumn("pulse_time", (F.col("h") * F.lit(INTERVAL)).cast("double"))
    )
    return (
        e.withColumn("h", F.floor(F.col("absolute_time") / INTERVAL).cast("long"))
        .join(F.broadcast(hours), "h", "left")
        .select(
            "event_id",
            "pulse_time",
            (F.col("pulse_time") + F.col("value") / F.lit(1e6)).alias("abs_time"),
        )
    )


def q_event_summary_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: recompute the per-bank ETL summary from the fact table
    (reference parquet.py:761-772: events, pulses = max index + 1)."""
    return (
        _events(spark, sf_dir)
        .groupBy("bank")
        .agg(
            F.count(F.lit(1)).alias("events_extracted"),
            (F.max("pulse_index") + 1).alias("n_pulses"),
        )
    )


def q_per_bank_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5: max-events-per-bank truncation (reference parquet.py:460-461)
    as a per-group windowed cut with a deterministic order."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("bank").orderBy("absolute_time", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 100)
        .select("bank", "event_id", "rn")
    )


def q_rollup_served_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup path: build a fine (60s) rollup, compose it to
    3600s, and serve the interval query from the rollup — exact measures
    only (the HLL distinct column is pinned by tolerance tests instead)."""
    from nexus_processor_spark.operators import rollup as ru

    fine = ru.build_interval_rollup(_events(spark, sf_dir), 60.0)
    coarse = ru.rollup_to_coarser(fine, 60.0, INTERVAL)
    return ru.serve_count_by_interval(coarse, INTERVAL).drop("n_pulses_approx")


def q_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3 generalized: backward as-of join — every event picks up the
    most recent signup time within its user cohort (user_id % 10)."""
    from nexus_processor_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 10).alias("g"),
        event_seconds("ts").alias("t"),
        F.col("event_type"),
    )
    left = e.select("event_id", "g", "t")
    right = e.filter(F.col("event_type") == "signup").select(
        "g", "t", F.col("t").alias("signup_t")
    )
    out = asof_join(left, right, on="t", by="g", value_cols=["signup_t"])
    return out.select("event_id", "signup_t")


def q_sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6h gap) per user — lag + running sum."""
    from nexus_processor_spark.operators.asof import sessionize

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", event_seconds("ts").alias("t")
    )
    return sessionize(e, 21600.0, time_col="t", key_col="user_id").select(
        "event_id", "user_id", "session_id"
    )


def q_replay_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-bank replay summary (reference spark_replay_events.py:302-309)."""
    return (
        _events(spark, sf_dir)
        .groupBy("bank")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("pulse_index").alias("min_pulse"),
            F.max("pulse_index").alias("max_pulse"),
        )
    )


def q_time_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: min/max pulse-time summary (reference sebt:121-124)."""
    e = _events(spark, sf_dir)
    return e.agg(
        F.min("absolute_time").alias("t_min"),
        F.max("absolute_time").alias("t_max"),
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.col("absolute_time")).alias("n_nonnull_times"),  # P5
    )


def q_interval_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: sum over the interval-count result set (reference sebt:454)."""
    intervals = timeslice.count_by_interval(_events(spark, sf_dir), INTERVAL)
    return intervals.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("event_count").alias("total_events"),
        F.max("event_count").alias("peak_events"),
    )


def q_attribute_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7: key-value attribute bags — ``to_attribute_map`` builds a
    map from typed fields, filters out nulls, strips a key prefix. The map itself isn't hashable
    downstream (pandas canonicalizers choke on dict cells), so the query
    serializes the map as its sorted entry list joined ``k=v,...`` — same
    information, deterministic, and SQL-expressible for the oracle."""
    ev = load_table(spark, sf_dir, "events")
    bag = to_attribute_map(
        "attr_",
        ("attr_type", F.col("event_type")),
        ("attr_k", F.get_json_object("props", "$.k")),
        ("attr_missing", F.lit(None).cast("string")),
    )
    # array_sort over struct<key,value> orders by key — deterministic entry order.
    entries = F.array_sort(F.map_entries(bag))
    serialized = F.array_join(
        F.transform(entries, lambda x: F.concat(x["key"], F.lit("="), x["value"])), ","
    )
    return ev.select("event_id", serialized.alias("attributes"))


GAPFILL_BANK = "purchase"


def q_timeslice_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style zero-filled hourly counts for one sparse bank —
    outage hours surface as explicit zero rows, not missing rows."""
    e = _events(spark, sf_dir).filter(F.col("bank") == GAPFILL_BANK)
    return timeslice.gapfill_intervals(e, INTERVAL)


LOCF_INTERVAL = 600.0


def q_timeslice_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slow-control resample: per-bank 10-minute buckets, the last
    reading of each bucket carried forward across gaps (deterministic
    last via (time, event_id) tiebreak)."""
    return timeslice.locf_resample(_events(spark, sf_dir), LOCF_INTERVAL)


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSDB time_weight aggregate: irregular samples weighted by holding
    duration, one window pass + one aggregate per bank."""
    return timeslice.time_weighted_avg(_events(spark, sf_dir))


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL-style rate(): per-sample increase with counter-reset
    handling, one ordered window pass per bank."""
    return timeslice.counter_rate(_events(spark, sf_dir))


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly volume anomaly flags per bank: trailing-24-bucket z-score
    (self-excluded baseline)."""
    return timeslice.anomaly_zscore(_events(spark, sf_dir), INTERVAL)


EMA_ALPHA = 0.25  # binary-exact, so the recurrence is bit-identical
                  # cross-engine and the output needs NO rounding


def q_timeslice_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bank hourly mean value smoothed by the exact EWMA recurrence
    (operators/smoothing.ewma, adjust=False, s0 = x0). Inputs round at
    1e-6 so both engines seed identical doubles; with alpha = 0.25 the
    per-step arithmetic (0.25*x + 0.75*s) is the same IEEE ops in both
    engines, so the UNROUNDED smoothed doubles hash-match exactly — the
    oracle replays the recurrence with a recursive CTE."""
    from nexus_processor_spark.operators import smoothing

    ev = _events(spark, sf_dir)
    hourly = (
        ev.filter(F.col("absolute_time").isNotNull()
                  & F.col("value").isNotNull())
        .groupBy(
            "bank",
            F.floor(F.col("absolute_time") / F.lit(INTERVAL))
            .cast("long").alias("interval"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    return smoothing.ewma(hourly, ["bank"], "interval", "v", EMA_ALPHA)


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-bank outlier gate: median absolute deviation instead
    of the z-score's mean/stddev (one extreme value inflates a stddev
    and HIDES its neighbors; the MAD threshold doesn't move). Exact
    interpolated medians (percentile / quantile_cont parity is pinned
    elsewhere); deviations and the MAD round at 1e-6 BEFORE the
    threshold compare so both engines compare identical doubles."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull()) \
        .select("bank", "value")
    # exact MAD is inherently 3 passes (median -> MAD -> threshold);
    # materializing the two per-bank aggregates pins it AT 3 — without
    # the cuts the med subtree re-ran inside both downstream branches
    # (4 event scans in the before-plan)
    med = ev.groupBy("bank").agg(
        F.expr("percentile(value, 0.5)").alias("_med")) \
        .localCheckpoint(eager=True)
    dev = ev.join(F.broadcast(med), "bank").withColumn(
        "_ad", F.round(F.abs(F.col("value") - F.col("_med")), 6))
    stats = dev.groupBy("bank").agg(
        F.round(F.expr("percentile(_ad, 0.5)"), 6).alias("_mad")) \
        .localCheckpoint(eager=True)
    flagged = dev.join(F.broadcast(stats), "bank").withColumn(
        "_out", (F.col("_ad") > 3 * F.col("_mad")).cast("long"))
    return flagged.groupBy("bank").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_out").cast("long").alias("n_outliers"),
        F.round(F.max("_med"), 4).alias("median_value"),
        F.max("_mad").alias("mad"),
    )


XCORR_MAX_LAG = 6


def q_lagged_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead/lag cross-correlation between the click and error hourly
    count series at lags -6..+6 (operators/timeslice.lagged_correlation):
    exact BIGINT sums folded into one double Pearson expression, so the
    rounded correlations match the SQL replay exactly."""
    return timeslice.lagged_correlation(
        _events(spark, sf_dir), INTERVAL, "click", "error",
        max_lag=XCORR_MAX_LAG,
    )


HOLT_ALPHA, HOLT_BETA = 0.25, 0.5  # both binary-exact


def q_timeslice_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast of the per-bank hourly mean value
    (operators/smoothing.holt): level/trend double recurrence seeded
    level=x0, trend=x1-x0, one-step-ahead forecast = level + trend.
    Binary-exact alpha/beta keep the float64 recurrence bit-identical
    to the oracle's recursive-CTE replay — unrounded doubles match."""
    from nexus_processor_spark.operators import smoothing

    ev = _events(spark, sf_dir)
    hourly = (
        ev.filter(F.col("absolute_time").isNotNull()
                  & F.col("value").isNotNull())
        .groupBy(
            "bank",
            F.floor(F.col("absolute_time") / F.lit(INTERVAL))
            .cast("long").alias("interval"),
        )
        .agg(F.round(F.avg("value"), 6).alias("v"))
    )
    return smoothing.holt(
        hourly, ["bank"], "interval", "v", HOLT_ALPHA, HOLT_BETA
    )


SEASONAL_PERIODS = 24  # hour-of-day seasonality at hourly buckets


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted volume anomalies: each (bank, hour) count
    z-scored against the same hour-of-day across all other days via the
    algebraic leave-one-out baseline — group sums only, no window in the
    whole plan."""
    return timeslice.seasonal_anomaly(
        _events(spark, sf_dir), INTERVAL, periods=SEASONAL_PERIODS
    )


HIST_LO, HIST_HI, HIST_NB = 0.0, 500.0, 50


def q_rollup_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p95 of value per hourly interval served from the mergeable
    histogram rollup — deterministic interpolation over bucket counts,
    never a raw-value scan at query time."""
    from nexus_processor_spark.operators import rollup as ru

    hist = ru.build_value_histogram_rollup(
        _events(spark, sf_dir), INTERVAL, HIST_LO, HIST_HI, HIST_NB,
    )
    return ru.serve_percentile(hist, 0.95, HIST_LO, HIST_HI, HIST_NB)


LTTB_BUCKETS = 20


def q_timeslice_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bank LTTB visual downsampling to <= 20 points (parallel
    envelope-anchor variant; endpoints always kept)."""
    return timeslice.downsample_lttb(
        _events(spark, sf_dir), LTTB_BUCKETS,
        series_cols=("bank",), time_col="absolute_time", value_col="value",
    )


CUSUM_K = 0.25
CUSUM_H = 3.0


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM drift flags on hourly per-bank volumes (closed-form
    cumsum-minus-running-min — no sequential recursion)."""
    return timeslice.cusum_changepoints(
        _events(spark, sf_dir), INTERVAL, slack_k=CUSUM_K, h_threshold=CUSUM_H
    )


QUERIES = {
    "cusum_changepoints": q_cusum_changepoints,
    "timeslice_lttb": q_timeslice_lttb,
    "time_bounds": q_time_bounds,
    "timeslice_locf": q_timeslice_locf,
    "time_weighted_avg": q_time_weighted_avg,
    "counter_rate": q_counter_rate,
    "anomaly_zscore": q_anomaly_zscore,
    "seasonal_anomaly": q_seasonal_anomaly,
    "timeslice_ema": q_timeslice_ema,
    "timeslice_holt": q_timeslice_holt,
    "lagged_correlation": q_lagged_correlation,
    "mad_outliers": q_mad_outliers,
    "rollup_percentile": q_rollup_percentile,
    "timeslice_gapfill": q_timeslice_gapfill,
    "interval_totals": q_interval_totals,
    "attribute_maps": q_attribute_maps,
    "rollup_served_interval": q_rollup_served_interval,
    "asof_last_signup": q_asof_last_signup,
    "sessionize_users": q_sessionize_users,
    "event_summary_recompute": q_event_summary_recompute,
    "per_bank_truncate": q_per_bank_truncate,
    "timeslice_interval": q_timeslice_interval,
    "timeslice_range": q_timeslice_range,
    "timeslice_bank_interval": q_timeslice_bank_interval,
    "pulse_index_window": q_pulse_index_window,
    "enrich_broadcast_join": q_enrich_broadcast_join,
    "events_snapshot_prune": q_events_snapshot_prune,
    "replay_summary": q_replay_summary,
}

from nexus_processor_spark.sources.tables import ts_epoch_sql  # noqa: E402

_TS = ts_epoch_sql()  # encoding-aware: epoch(ts) or long-ns arithmetic
_E = (f"SELECT event_id, {_TS} AS t, event_type AS bank, "
      "user_id AS pulse_index, value FROM events")

ORACLE = {
    # CUSUM closed form: S_i = C_i - min(0, C_1..C_{i-1}); rounded before
    # the threshold cut (running sums may tree-accumulate differently).
    "cusum_changepoints": f"""
        WITH e AS (SELECT event_type AS bank, {_TS} AS t FROM events),
        c AS (
            SELECT bank, CAST(floor(t / {INTERVAL}) AS BIGINT) AS interval,
                   count(*) AS n
            FROM e WHERE t IS NOT NULL GROUP BY 1, 2
        ),
        s AS (
            SELECT bank, avg(n) AS mu, stddev_samp(n) AS sd
            FROM c GROUP BY bank
        ),
        d AS (
            SELECT c.bank, interval, n, (n - mu) / sd - {CUSUM_K} AS d
            FROM c JOIN s USING (bank) WHERE sd > 0
        ),
        cs AS (
            SELECT bank, interval, n,
                   sum(d) OVER (PARTITION BY bank ORDER BY interval
                                ROWS UNBOUNDED PRECEDING) AS cs
            FROM d
        ),
        fin AS (
            SELECT bank, interval, n,
                   round(cs - least(coalesce(
                       min(cs) OVER (PARTITION BY bank ORDER BY interval
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0.0), 0.0), 6) AS cusum
            FROM cs
        )
        SELECT bank, interval, CAST(n AS BIGINT) AS n, cusum
        FROM fin WHERE cusum > {CUSUM_H}
    """,
    # Parallel LTTB: identical IEEE expression trees on both sides (min/
    # max-derived anchors, fixed parenthesization) — no rounding needed.
    "timeslice_lttb": f"""
        WITH e AS (SELECT event_type AS bank, {_TS} AS t, value AS v FROM events),
        span AS (SELECT bank, min(t) AS ts0, max(t) AS ts1 FROM e GROUP BY bank),
        eb AS (
            SELECT e.bank, t, v, ts0, ts1,
                   CAST(CASE WHEN ts1 = ts0 THEN 0
                        ELSE least(floor(((t - ts0) / (ts1 - ts0)) * 20), 19)
                   END AS BIGINT) AS bucket
            FROM e JOIN span USING (bank)
        ),
        env AS (
            SELECT bank, bucket,
                   (min(t) + max(t)) / 2 AS at_, (min(v) + max(v)) / 2 AS av
            FROM eb GROUP BY bank, bucket
        ),
        anch AS (
            SELECT bank, bucket,
                   coalesce(lag(at_) OVER w, at_) AS pt,
                   coalesce(lag(av) OVER w, av) AS pv,
                   coalesce(lead(at_) OVER w, at_) AS nt,
                   coalesce(lead(av) OVER w, av) AS nv
            FROM env WINDOW w AS (PARTITION BY bank ORDER BY bucket)
        ),
        scored AS (
            SELECT eb.bank, eb.bucket, t, v,
                   CASE WHEN t = ts0 OR t = ts1 THEN 'infinity'::DOUBLE
                        ELSE abs((pt - nt) * (v - pv) - (pt - t) * (nv - pv)) / 2
                   END AS ra
            FROM eb JOIN anch ON eb.bank = anch.bank AND eb.bucket = anch.bucket
        ),
        pick AS (
            SELECT bank, bucket, t, v,
                   row_number() OVER (
                     PARTITION BY bank, bucket ORDER BY ra DESC, t ASC, v ASC
                   ) AS rn
            FROM scored
        )
        SELECT bank, bucket, t AS absolute_time, v AS value
        FROM pick WHERE rn = 1
    """,
    # Sorted-entry serialization of the attribute map: keys after prefix-strip
    # are 'k' (from props.$.k) and 'type' (event_type); 'missing' is filtered
    # as null. 'k' < 'type' lexicographically, so the join order is fixed.
    "attribute_maps": """
        SELECT event_id,
               concat_ws(',',
                   CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                        THEN 'k=' || json_extract_string(props, '$.k') END,
                   CASE WHEN event_type IS NOT NULL
                        THEN 'type=' || event_type END
               ) AS attributes
        FROM events
    """,
    "timeslice_locf": f"""
        WITH e AS ({{_E}}),
        obs AS (
            SELECT bank, CAST(floor(t/{{LOCF}}) AS BIGINT) AS interval,
                   last(value ORDER BY t, event_id) AS v
            FROM e WHERE t IS NOT NULL GROUP BY 1, 2
        ),
        b AS (SELECT bank, min(interval) AS lo, max(interval) AS hi
              FROM obs GROUP BY 1),
        spine AS (SELECT bank, unnest(generate_series(lo, hi)) AS interval
                  FROM b)
        SELECT s.bank, s.interval,
               last_value(o.v IGNORE NULLS) OVER (
                   PARTITION BY s.bank ORDER BY s.interval
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_locf,
               CAST(o.v IS NULL AS BIGINT) AS is_gap
        FROM spine s
        LEFT JOIN obs o ON s.bank = o.bank AND s.interval = o.interval
    """.replace("{_E}", _E).replace("{LOCF}", str(LOCF_INTERVAL)),
    "rollup_percentile": f"""
        WITH e AS ({{_E}}),
        h AS (
            SELECT CAST(floor(t/{{IV}}) AS BIGINT) AS interval,
                   CASE WHEN value < {{LO}} THEN 0
                        WHEN value >= {{HI}} THEN {{NB}} + 1
                        ELSE CAST(floor((value - {{LO}}) / {{W}}) AS BIGINT) + 1
                   END AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM e WHERE t IS NOT NULL AND value IS NOT NULL
            GROUP BY 1, 2
        ),
        r AS (
            SELECT interval, bucket, n,
                   CAST(sum(n) OVER (PARTITION BY interval ORDER BY bucket)
                        - n AS BIGINT) AS cum_before,
                   CAST(sum(n) OVER (PARTITION BY interval) AS BIGINT)
                     AS total
            FROM h
        ),
        c AS (SELECT *, CAST(ceil(0.95 * total) AS BIGINT) AS rank FROM r)
        SELECT interval, total AS n,
               round(CASE WHEN bucket <= 0 THEN CAST({{LO}} AS DOUBLE)
                          WHEN bucket > {{NB}} THEN CAST({{HI}} AS DOUBLE)
                          ELSE {{LO}} + (bucket - 1
                               + (rank - cum_before) / CAST(n AS DOUBLE))
                               * {{W}}
                     END, 6) AS p
        FROM c WHERE cum_before < rank AND cum_before + n >= rank
    """.replace("{_E}", _E).replace("{IV}", str(INTERVAL))
       .replace("{LO}", str(HIST_LO)).replace("{HI}", str(HIST_HI))
       .replace("{NB}", str(HIST_NB))
       .replace("{W}", str((HIST_HI - HIST_LO) / HIST_NB)),
    "counter_rate": f"""
        WITH e AS ({{_E}}),
        x AS (
            SELECT bank, t, value, event_id,
                   lag(value) OVER w AS pv, lag(t) OVER w AS pt
            FROM e WHERE t IS NOT NULL AND value IS NOT NULL
            WINDOW w AS (PARTITION BY bank ORDER BY t, event_id)
        )
        SELECT bank, t, value,
               CASE WHEN value >= pv THEN value - pv ELSE value END
                 AS increase,
               CASE WHEN t - pt > 0 THEN
                   (CASE WHEN value >= pv THEN value - pv ELSE value END)
                   / (t - pt) END AS rate_per_s
        FROM x WHERE pv IS NOT NULL
    """.replace("{_E}", _E),
    "anomaly_zscore": f"""
        WITH e AS ({{_E}}),
        c AS (
            SELECT bank, CAST(floor(t/{{IV}}) AS BIGINT) AS interval,
                   CAST(count(*) AS BIGINT) AS n
            FROM e WHERE t IS NOT NULL GROUP BY 1, 2
        ),
        x AS (
            SELECT bank, interval, n,
                   avg(n) OVER w AS mu,
                   stddev_samp(n) OVER w AS sd,
                   count(n) OVER w AS m
            FROM c
            WINDOW w AS (PARTITION BY bank ORDER BY interval
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT bank, interval, n,
               CASE WHEN m >= 3 AND sd > 0
                    THEN round((n - mu) / sd, 6) END AS z,
               COALESCE(CASE
                    WHEN m >= 3 AND sd > 0
                        THEN abs(round((n - mu) / sd, 6)) > 3.0
                    WHEN m >= 3 AND sd = 0 THEN n <> mu
                END, FALSE) AS is_anomaly
        FROM x
    """.replace("{_E}", _E).replace("{IV}", str(INTERVAL)),
    "seasonal_anomaly": """
        WITH e AS ({_E}),
        c AS (
            SELECT bank, CAST(floor(t/{IV}) AS BIGINT) AS interval,
                   CAST(count(*) AS BIGINT) AS n
            FROM e WHERE t IS NOT NULL GROUP BY 1, 2
        ),
        cs AS (
            SELECT bank, interval, n,
                   ((interval % {P}) + {P}) % {P} AS slot
            FROM c
        ),
        st AS (
            SELECT bank, slot,
                   CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(n) AS BIGINT) AS s,
                   CAST(sum(n * n) AS BIGINT) AS s2
            FROM cs GROUP BY 1, 2
        ),
        x AS (
            SELECT cs.bank, cs.interval, cs.slot, cs.n, st.m,
                   (CAST(st.s AS DOUBLE) - CAST(cs.n AS DOUBLE))
                       / CAST(st.m - 1 AS DOUBLE) AS mu,
                   ((CAST(st.s2 AS DOUBLE)
                       - CAST(cs.n AS DOUBLE) * CAST(cs.n AS DOUBLE))
                     - CAST(st.m - 1 AS DOUBLE)
                       * ((CAST(st.s AS DOUBLE) - CAST(cs.n AS DOUBLE))
                          / CAST(st.m - 1 AS DOUBLE))
                       * ((CAST(st.s AS DOUBLE) - CAST(cs.n AS DOUBLE))
                          / CAST(st.m - 1 AS DOUBLE)))
                     / CAST(st.m - 2 AS DOUBLE) AS var
            FROM cs JOIN st ON cs.bank = st.bank AND cs.slot = st.slot
        ),
        y AS (
            SELECT bank, interval, slot, n, m, mu,
                   sqrt(greatest(var, 0.0)) AS sd
            FROM x
        )
        SELECT bank, interval, slot, n,
               round(mu, 6) AS baseline_mu,
               CASE WHEN m >= 4 AND sd > 0
                    THEN round((CAST(n AS DOUBLE) - mu) / sd, 6) END AS z,
               COALESCE(CASE
                    WHEN m >= 4 AND sd > 0
                        THEN abs(round((CAST(n AS DOUBLE) - mu) / sd, 6))
                             > 3.0
                    WHEN m >= 4 AND sd = 0 THEN CAST(n AS DOUBLE) <> mu
                END, FALSE) AS is_anomaly
        FROM y
    """.replace("{_E}", _E).replace("{IV}", str(INTERVAL))
       .replace("{P}", str(SEASONAL_PERIODS)),
    "time_weighted_avg": f"""
        WITH e AS ({_E}),
        h AS (
            SELECT bank, value AS v,
                   lead(t) OVER (PARTITION BY bank ORDER BY t, event_id) - t
                     AS dt
            FROM e WHERE t IS NOT NULL
        )
        SELECT bank,
               round(sum(v * dt), 6) / round(sum(dt), 6)
                 AS time_weighted_avg,
               CAST(count(*) AS BIGINT) AS n_intervals,
               round(sum(dt), 6) AS span_seconds
        FROM h WHERE dt IS NOT NULL GROUP BY 1
    """,
    "timeslice_gapfill": f"""
        WITH e AS ({_E}),
        c AS (
            SELECT CAST(floor(t/{INTERVAL}) AS BIGINT) AS interval,
                   CAST(count(*) AS BIGINT) AS event_count
            FROM e WHERE t IS NOT NULL AND bank = '{GAPFILL_BANK}'
            GROUP BY 1
        ),
        b AS (SELECT min(interval) AS lo, max(interval) AS hi FROM c),
        spine AS (SELECT unnest(generate_series(lo, hi)) AS interval FROM b)
        SELECT s.interval,
               CAST(s.interval * {INTERVAL} AS DOUBLE) AS interval_start,
               CAST((s.interval + 1) * {INTERVAL} AS DOUBLE) AS interval_end,
               CAST(COALESCE(c.event_count, 0) AS BIGINT) AS event_count,
               CAST(c.interval IS NULL AS BIGINT) AS is_gap
        FROM spine s LEFT JOIN c ON s.interval = c.interval
    """,
    "time_bounds": f"""
        WITH e AS ({_E})
        SELECT min(t) AS t_min, max(t) AS t_max,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(t) AS BIGINT) AS n_nonnull_times
        FROM e
    """,
    "interval_totals": f"""
        WITH e AS ({_E}),
        iv AS (
            SELECT CAST(floor(t/{INTERVAL}) AS BIGINT) AS interval,
                   CAST(count(*) AS BIGINT) AS event_count
            FROM e WHERE t IS NOT NULL GROUP BY 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_intervals,
               CAST(sum(event_count) AS BIGINT) AS total_events,
               max(event_count) AS peak_events
        FROM iv
    """,
    "rollup_served_interval": f"""
        WITH e AS ({_E}),
        fine AS (
            SELECT bank, CAST(floor(t/60.0) AS BIGINT) AS f_interval,
                   CAST(count(*) AS BIGINT) AS event_count,
                   min(t) AS min_time, max(t) AS max_time
            FROM e WHERE t IS NOT NULL GROUP BY 1, 2
        ),
        coarse AS (
            SELECT bank, CAST(floor(f_interval / 60) AS BIGINT) AS interval,
                   CAST(sum(event_count) AS BIGINT) AS event_count,
                   min(min_time) AS min_time, max(max_time) AS max_time
            FROM fine GROUP BY 1, 2
        )
        SELECT interval,
               interval * {INTERVAL} AS interval_start,
               (interval + 1) * {INTERVAL} AS interval_end,
               CAST(sum(event_count) AS BIGINT) AS event_count,
               CAST(count(DISTINCT bank) AS BIGINT) AS n_banks,
               min(min_time) AS min_time, max(max_time) AS max_time
        FROM coarse GROUP BY 1
    """,
    "asof_last_signup": f"""
        WITH e AS (SELECT event_id, user_id % 10 AS g, {_TS} AS t,
                          event_type FROM events),
        s AS (SELECT g, t, t AS signup_t FROM e WHERE event_type = 'signup')
        SELECT e.event_id, s.signup_t
        FROM e ASOF LEFT JOIN s ON e.g = s.g AND e.t >= s.t
    """,
    "sessionize_users": f"""
        WITH e AS (SELECT event_id, user_id, {_TS} AS t FROM events),
        x AS (
            SELECT event_id, user_id, t,
                   CASE WHEN lag(t) OVER w IS NULL
                          OR t - lag(t) OVER w > 21600 THEN 1 ELSE 0 END AS nw
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
        )
        SELECT event_id, user_id,
               CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY t
                                  ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
                 AS session_id
        FROM x
    """,
    "event_summary_recompute": f"""
        WITH e AS ({_E})
        SELECT bank, CAST(count(*) AS BIGINT) AS events_extracted,
               max(pulse_index) + 1 AS n_pulses
        FROM e GROUP BY 1
    """,
    "per_bank_truncate": f"""
        WITH e AS ({_E})
        SELECT bank, event_id, rn FROM (
            SELECT bank, event_id,
                   row_number() OVER (PARTITION BY bank
                                      ORDER BY t, event_id) AS rn
            FROM e
        ) WHERE rn <= 100
    """,
    "timeslice_interval": f"""
        WITH e AS ({_E})
        SELECT CAST(floor(t/{INTERVAL}) AS BIGINT) AS interval,
               CAST(floor(t/{INTERVAL}) AS BIGINT) * {INTERVAL} AS interval_start,
               (CAST(floor(t/{INTERVAL}) AS BIGINT) + 1) * {INTERVAL} AS interval_end,
               CAST(count(*) AS BIGINT) AS event_count,
               CAST(count(DISTINCT bank) AS BIGINT) AS n_banks,
               CAST(count(DISTINCT pulse_index) AS BIGINT) AS n_pulses,
               min(t) AS min_time, max(t) AS max_time
        FROM e WHERE t IS NOT NULL GROUP BY 1
    """,
    "timeslice_range": f"""
        WITH e AS ({_E})
        SELECT {RANGE_START} AS start_time, {RANGE_END} AS end_time,
               CAST(count(*) AS BIGINT) AS event_count,
               min(t) AS min_time, max(t) AS max_time,
               CAST(count(DISTINCT bank) AS BIGINT) AS n_banks,
               CAST(count(DISTINCT pulse_index) AS BIGINT) AS n_pulses
        FROM e WHERE t >= {RANGE_START} AND t < {RANGE_END}
    """,
    "timeslice_bank_interval": f"""
        WITH e AS ({_E})
        SELECT CAST(floor(t/{INTERVAL}) AS BIGINT) AS interval, bank,
               CAST(count(*) AS BIGINT) AS event_count,
               min(t) AS min_time, max(t) AS max_time,
               CAST(count(DISTINCT pulse_index) AS BIGINT) AS n_pulses,
               CAST(floor(t/{INTERVAL}) AS BIGINT) * {INTERVAL} AS interval_start,
               (CAST(floor(t/{INTERVAL}) AS BIGINT) + 1) * {INTERVAL} AS interval_end
        FROM e WHERE t IS NOT NULL GROUP BY 1, 2
    """,
    "pulse_index_window": f"""
        WITH e AS ({_E})
        SELECT event_id,
               row_number() OVER (ORDER BY t, event_id) - 1 AS pulse_index,
               t AS pulse_time
        FROM e WHERE bank = 'click' AND t IS NOT NULL
    """,
    "events_snapshot_prune": f"""
        WITH e AS ({_E})
        SELECT bank, CAST(count(*) AS BIGINT) AS n_events,
               min(t) AS min_time, max(t) AS max_time
        FROM e WHERE t >= {RANGE_START} AND t < {RANGE_END}
        GROUP BY bank
    """,
    "enrich_broadcast_join": f"""
        WITH e AS ({_E}),
        hours AS (SELECT DISTINCT CAST(floor(t/{INTERVAL}) AS BIGINT) AS h FROM e),
        dim AS (SELECT h, CAST(h * {INTERVAL} AS DOUBLE) AS pulse_time FROM hours)
        SELECT e.event_id, dim.pulse_time,
               dim.pulse_time + e.value/1e6 AS abs_time
        FROM e LEFT JOIN dim ON CAST(floor(e.t/{INTERVAL}) AS BIGINT) = dim.h
    """,
    "replay_summary": f"""
        WITH e AS ({_E})
        SELECT bank, CAST(count(*) AS BIGINT) AS n_events,
               min(pulse_index) AS min_pulse, max(pulse_index) AS max_pulse
        FROM e GROUP BY 1
    """,
}


# the EWMA recurrence replayed row-by-row with a recursive CTE: each
# iteration advances every bank's series one ordinal; 0.25/0.75 are
# binary-exact so the unrounded doubles match the kernel bit for bit
ORACLE["timeslice_ema"] = f"""
    WITH RECURSIVE e AS (
        SELECT event_type AS bank, {{_TS}} AS t, value FROM events
    ),
    h AS (
        SELECT bank, CAST(floor(t / {{IV}}) AS BIGINT) AS interval,
               round(avg(value), 6) AS v
        FROM e WHERE t IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2
    ),
    r AS (
        SELECT bank, interval, v, row_number() OVER (
            PARTITION BY bank ORDER BY interval) AS rn
        FROM h
    ),
    rec AS (
        SELECT bank, interval, v, rn, v AS ewma FROM r WHERE rn = 1
        UNION ALL
        SELECT r.bank, r.interval, r.v, r.rn,
               {EMA_ALPHA} * r.v + (1 - {EMA_ALPHA}) * rec.ewma
        FROM r JOIN rec ON r.bank = rec.bank AND r.rn = rec.rn + 1
    )
    SELECT bank, interval, v, ewma FROM rec
""".replace("{_TS}", _TS).replace("{IV}", str(INTERVAL))


# Holt replayed with a recursive CTE; the new level expression repeats
# inside the trend update (same double both times), binary-exact
# alpha/beta, unrounded doubles
_HOLT_NL = (f"CASE WHEN rec.holt_trend IS NULL THEN r.v "
            f"ELSE {HOLT_ALPHA} * r.v + (1 - {HOLT_ALPHA}) "
            f"* (rec.holt_level + rec.holt_trend) END")
ORACLE["timeslice_holt"] = f"""
    WITH RECURSIVE e AS (
        SELECT event_type AS bank, {{_TS}} AS t, value FROM events
    ),
    h AS (
        SELECT bank, CAST(floor(t / {{IV}}) AS BIGINT) AS interval,
               round(avg(value), 6) AS v
        FROM e WHERE t IS NOT NULL AND value IS NOT NULL
        GROUP BY 1, 2
    ),
    r AS (
        SELECT bank, interval, v, row_number() OVER (
            PARTITION BY bank ORDER BY interval) AS rn
        FROM h
    ),
    rec AS (
        SELECT bank, interval, v, rn, v AS holt_level,
               CAST(NULL AS DOUBLE) AS holt_trend
        FROM r WHERE rn = 1
        UNION ALL
        SELECT r.bank, r.interval, r.v, r.rn,
               {_HOLT_NL},
               CASE WHEN rec.holt_trend IS NULL
                    THEN r.v - rec.holt_level
                    ELSE {HOLT_BETA} * (({_HOLT_NL}) - rec.holt_level)
                         + (1 - {HOLT_BETA}) * rec.holt_trend END
        FROM r JOIN rec ON r.bank = rec.bank AND r.rn = rec.rn + 1
    )
    SELECT bank, interval, v, holt_level, holt_trend,
           CASE WHEN holt_trend IS NULL THEN NULL
                ELSE holt_level + 1 * holt_trend END AS holt_forecast
    FROM rec
""".replace("{_TS}", _TS).replace("{IV}", str(INTERVAL))


# exact BIGINT sums per lag, one double Pearson expression at the end —
# identical values cross-engine up to the final rounded division
ORACLE["lagged_correlation"] = f"""
    WITH e AS (
        SELECT event_type AS bank, {{_TS}} AS t FROM events
    ),
    c AS (
        SELECT bank, CAST(floor(t / {{IV}}) AS BIGINT) AS iv,
               CAST(count(*) AS BIGINT) AS n
        FROM e WHERE t IS NOT NULL AND bank IN ('click', 'error')
        GROUP BY 1, 2
    ),
    a AS (SELECT iv, n AS x FROM c WHERE bank = 'click'),
    b AS (SELECT iv, n AS y FROM c WHERE bank = 'error'),
    lg AS (SELECT CAST(unnest(range(-{XCORR_MAX_LAG},
                                    {XCORR_MAX_LAG} + 1)) AS BIGINT)
               AS lag),
    j AS (
        SELECT lg.lag, a.x, b.y
        FROM a, lg
        JOIN b ON b.iv = a.iv + lg.lag
    ),
    s AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sx2,
               CAST(sum(y * y) AS BIGINT) AS sy2
        FROM j GROUP BY 1
    )
    SELECT lag, n_points,
           CASE WHEN n_points >= 3
                 AND CAST(n_points AS DOUBLE) * sx2
                     - CAST(sx AS DOUBLE) * sx > 0
                 AND CAST(n_points AS DOUBLE) * sy2
                     - CAST(sy AS DOUBLE) * sy > 0
                THEN round((CAST(n_points AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / sqrt((CAST(n_points AS DOUBLE) * sx2
                                   - CAST(sx AS DOUBLE) * sx)
                                  * (CAST(n_points AS DOUBLE) * sy2
                                     - CAST(sy AS DOUBLE) * sy)), 6)
           END AS corr
    FROM s
""".replace("{_TS}", _TS).replace("{IV}", str(INTERVAL))


# same rounded-before-compare MAD gate; 3 * mad is the identical double
# in both engines because mad itself is a round-6 value
ORACLE["mad_outliers"] = """
    WITH e AS (
        SELECT event_type AS bank, value FROM events
        WHERE value IS NOT NULL
    ),
    m AS (
        SELECT bank, quantile_cont(value, 0.5) AS med FROM e GROUP BY 1
    ),
    d AS (
        SELECT e.bank, round(abs(e.value - m.med), 6) AS ad, m.med
        FROM e JOIN m USING (bank)
    ),
    s AS (
        SELECT bank, round(quantile_cont(ad, 0.5), 6) AS mad
        FROM d GROUP BY 1
    )
    SELECT d.bank, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d.ad > 3 * s.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           round(max(d.med), 4) AS median_value,
           max(s.mad) AS mad
    FROM d JOIN s USING (bank)
    GROUP BY 1
"""
