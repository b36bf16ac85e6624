"""The flagship analytic: time-slicing an event stream into interval counts.

Re-expresses the reference's ``spark_events_by_time(_parquet).py`` pipeline
(SURVEY.md §3.2) as a lazy, composable library:

    pulse_times -> with_absolute_time -> count_by_interval /
    count_in_time_range / count_by_bank_and_interval

The four interval counts (``count_by_interval[_ns]``,
``count_by_bank_and_interval[_ns]``) are one private kernel,
``_slice_counts``; each entry point names its bucket rule (double seconds
or long nanoseconds) and grain. ``count_in_time_range`` is the global grain.

Differences from the reference, on purpose (SURVEY.md §7.3):

* The pulse-ordinal window is **partitioned by run** — the reference's
  unpartitioned ``Window.orderBy`` (spark_events_by_time_parquet.py:121-125)
  collapses to a single task and cannot scale; per-run partitioning gives
  identical ordinals per run and distributes.
* The log-name fallback loop (spark_events_by_time.py:82-113 retries
  candidate names with eager ``count()`` per attempt) becomes one lazy plan:
  rank candidate logs by priority and keep the best available per run.
* No eager ``count()`` progress actions; callers trigger exactly one job.

At 100 TB: events are partitioned by ``(instrument_id, run_number)`` so the
run filter prunes partitions before the scan; the pulse side is a few
million rows per run at most — always broadcast; the interval aggregation
is a map-side-combinable hash aggregate on a derived long key, so the only
shuffle is the final partial->final agg exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nexus_processor_spark.functions.core import (
    event_seconds, interval_bounds, interval_floor,
)

# Reference fallback order: scripts/spark_events_by_time.py:84.
PULSE_LOG_CANDIDATES: tuple[str, ...] = (
    "proton_charge", "SampleProtonCharge", "pcharge", "ProtonCharge",
)

MICROSECONDS = 1e6


def pulse_times(
    daslogs: DataFrame,
    candidates: Sequence[str] = PULSE_LOG_CANDIDATES,
    *,
    run_col: str = "run_id",
    log_name_col: str = "log_name",
    time_col: str = "time",
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Pulse ordinal sequence per run: ``(run_id, pulse_index, pulse_time)``.

    The reference tries each candidate log name until one has rows
    (spark_events_by_time.py:82-113). Lazy equivalent: keep only candidate
    logs, rank them by priority *per run*, keep each run's best, then
    ``row_number() - 1`` over time order = 0-based ``pulse_index``
    (W1, SURVEY.md §2.5).

    Pulses sharing a timestamp get an arbitrary-but-run-stable order;
    pass ``tiebreak_cols`` (any unique column) when ordinals must be
    deterministic across engines/re-runs — the alignment contract
    ``with_absolute_time``'s join to stored pulse_index relies on.
    """
    priority = F.array_position(
        F.array(*[F.lit(c) for c in candidates]), F.col(log_name_col)
    )
    best = Window.partitionBy(run_col)
    order = Window.partitionBy(run_col).orderBy(time_col, *tiebreak_cols)
    return (
        daslogs
        .filter(F.col(log_name_col).isin(list(candidates)))
        .filter(F.col(time_col).isNotNull())
        .withColumn("_prio", priority)
        .withColumn("_best", F.min("_prio").over(best))
        .filter(F.col("_prio") == F.col("_best"))
        .select(
            F.col(run_col),
            (F.row_number().over(order) - F.lit(1)).alias("pulse_index"),
            F.col(time_col).alias("pulse_time"),
        )
    )


def with_absolute_time(
    events: DataFrame,
    pulses: DataFrame | None = None,
    *,
    run_col: str = "run_id",
    pulse_index_col: str = "pulse_index",
    pulse_time_col: str = "pulse_time",
    time_offset_col: str = "time_offset",
) -> DataFrame:
    """``absolute_time = pulse_time + time_offset/1e6`` (µs -> s).

    Formula from the reference README "Event Time Extraction" and
    spark_events_by_time.py:187-190. When ``pulses`` is given, events are
    enriched by a **broadcast** left equi-join (J1 — the pulse side is tiny
    relative to events); when None, the denormalized ``pulse_time`` already
    embedded at ETL time is used (J4 join elimination — the preferred path).
    Events with no matching pulse keep a null ``absolute_time`` (left join,
    null propagation pinned by tests).
    """
    df = events
    if pulses is not None:
        df = df.drop(pulse_time_col).join(
            F.broadcast(pulses), on=[run_col, pulse_index_col], how="left"
        )
    return df.withColumn(
        "absolute_time",
        F.col(pulse_time_col) + F.col(time_offset_col) / F.lit(MICROSECONDS),
    )


def _ns_bucket(ts_col: str, interval_ns: int) -> F.Column:
    """Exact integer FLOOR-division bucket for a long-ns column: all
    integer ops (sub/pmod/div), so it never routes through a double
    (ns magnitudes exceed 2^53), handles pre-epoch (negative) stamps
    with floor semantics matching ``interval_floor`` (SQL ``div`` alone
    truncates toward zero and would shift them one bucket up), and
    backtick-quotes the column name."""
    q = f"`{ts_col}`"
    return F.expr(
        f"({q} - pmod({q}, {interval_ns})) div {interval_ns}"
    )


def _validate_interval_ns(interval_seconds: float) -> int:
    interval_ns = round(float(interval_seconds) * 1e9)
    if interval_ns / 1e9 != float(interval_seconds) or interval_ns <= 0:
        raise ValueError("interval must be a positive whole-nanosecond width")
    return interval_ns


def bitmap_distinct(
    df: DataFrame, group_cols: list[str], value_col: str, out_name: str,
    *, assume_clustered: bool = False,
) -> DataFrame:
    """Exact per-group COUNT(DISTINCT long) via packed 64-bit word bitmaps.

    A plain ``count_distinct`` next to other aggregates plans as an Expand
    (input × n_distinct_aggs) and shuffles roughly one row per distinct
    (group, value) pair — at 100 TB the exact-distinct shuffle IS the
    query cost. This path instead (1) repartitions the skinny
    (group, value) projection so every word of the value-domain bitmap
    lands on exactly one task, then (2) ORs values into 64-bit words with
    ``bit_or(1 << (v % 64))`` grouped by ``(group, v >> 6)`` and (3) sums
    ``bit_count`` per group — all three steps stay inside whole-stage
    codegen (plain long aggregates), where Spark's own
    ``bitmap_construct_agg`` is a TypedImperativeAggregate that forces the
    row-at-a-time ObjectHashAggregate path (measured 1.8x slower at 100M
    rows: 10.5s object-agg vs 5.9s this plan).

    The partition key adds a spread bucket (``v >> 16``, 1 Ki words) so
    parallelism never collapses to the group-key cardinality — a global
    distinct (``group_cols=[]``) still fans out across the cluster. The
    spread bucket is also a grouping key, so the word aggregation runs
    in-stage on the repartition output with no second shuffle of the fact
    rows (the only full-width exchange is the skinny repartition itself).
    Exact for any long domain — arithmetic ``shiftright`` keeps negative
    values in distinct words and ``pmod`` keeps bit positions in [0, 64);
    verified against count_distinct for negatives, nulls, and word
    boundaries.

    ``assume_clustered=True`` selects the MAP-COMBINE form for inputs
    whose rows are already clustered by the group key (a time-sorted or
    time-partitioned store and a time-bucket group — the reference's
    event tables are written time-ordered, so this is their natural
    layout): a straight ``groupBy(group, word)`` lets the partial
    aggregate OR most of a word's bits within its map task, so the
    exchange carries ~|group x occupied words| mask rows instead of one
    row per fact (measured at 100M rows / 1M-value domain: 2.2 s vs
    3.6 s on the sorted layout — and 13.6 s vs 5.9 s on an UNCLUSTERED
    layout, where per-task combine hash state ~rows thrashes; pick by
    layout, the default is safe everywhere).
    """
    v = F.col(value_col)
    if assume_clustered:
        packed = (
            df.select(*group_cols, v.alias("_v"))
            .groupBy(*group_cols, F.shiftright(F.col("_v"), 6).alias("_w"))
            .agg(F.bit_or(F.expr("shiftleft(1L, cast(pmod(_v, 64) as int))"))
                 .alias("_m"))
        )
    else:
        packed = (
            df.select(*group_cols, v.alias("_v"),
                      F.shiftright(v, 16).alias("_sp"))
            .repartition(*group_cols, "_sp")
            .groupBy(*group_cols, "_sp",
                     F.shiftright(F.col("_v"), 6).alias("_w"))
            .agg(F.bit_or(F.expr("shiftleft(1L, cast(pmod(_v, 64) as int))"))
                 .alias("_m"))
        )
    return (
        packed.groupBy(*group_cols)
        .agg(F.coalesce(F.sum(F.bit_count("_m")), F.lit(0))
             .cast("long").alias(out_name))
    )


def _slice_counts(
    events: DataFrame,
    interval_seconds: float,
    *,
    time_col: str,
    bank_col: str,
    pulse_col: str,
    ns: bool,
    by_bank: bool,
    assume_clustered: bool = False,
) -> DataFrame:
    """The interval-count kernel behind the four public entry points.

    ``ns`` is the bucket rule, named by the caller and never inferred
    from the column type (a long column of epoch SECONDS is valid
    ``count_by_interval`` input): the exact integer :func:`_ns_bucket`
    with min/max converted to seconds once per group (monotone, so
    exact), or ``interval_floor`` on double seconds. ``by_bank`` is the
    grain: ``[interval]`` plus ``n_banks``, or ``[interval, bank]``.
    Two aggregates join on the (tiny) bucket keys: the plain one carries
    count/min/max and the small bank distinct; the data-scale pulse
    distinct goes through :func:`bitmap_distinct`, so the shuffle carries
    bucket bitmaps, not one row per (bucket, pulse).
    """
    t = F.col(time_col)
    bucket = (_ns_bucket(time_col, _validate_interval_ns(interval_seconds))
              if ns else interval_floor(t, interval_seconds))
    bank = bank_col if by_bank else "_bank"
    keys = ["interval", bank] if by_bank else ["interval"]
    base = events.filter(t.isNotNull()).select(
        bucket.alias("interval"), t.alias("_ts"),
        F.col(bank_col).alias(bank), F.col(pulse_col).alias("_pulse"))
    aggs = [F.count(F.lit(1)).alias("event_count"),
            F.min("_ts").alias("_mn"), F.max("_ts").alias("_mx")]
    if not by_bank:
        aggs.append(F.count_distinct(F.col(bank)).alias("n_banks"))
    plain = base.groupBy(*keys).agg(*aggs)
    pulses = bitmap_distinct(base, keys, "_pulse", "n_pulses",
                             assume_clustered=assume_clustered)
    df = plain.join(pulses, keys)
    start, end = interval_bounds(F.col("interval"), interval_seconds)
    bounds = [start.alias("interval_start"), end.alias("interval_end")]
    sec = event_seconds if ns else F.col
    times = [sec("_mn").alias("min_time"), sec("_mx").alias("max_time")]
    cols = (["interval", bank, "event_count", *times, "n_pulses", *bounds]
            if by_bank else
            ["interval", *bounds, "event_count", "n_banks", "n_pulses", *times])
    return df.select(*cols).orderBy(*keys)


def count_by_interval(
    events: DataFrame,
    interval_seconds: float,
    *,
    time_col: str = "absolute_time",
    bank_col: str = "bank",
    pulse_col: str = "pulse_index",
) -> DataFrame:
    """Events per tumbling ``interval_seconds`` bucket of a double-seconds
    column (A1, SURVEY.md §2.4).

    Output schema pinned to the reference's (spark_events_by_time.py:222-246):
    interval, interval_start, interval_end, event_count, n_banks, n_pulses,
    min_time, max_time. Buckets are half-open ``[kN, (k+1)N)``; events with
    null time fall out (null bucket dropped, matching the pandas path).
    """
    return _slice_counts(events, interval_seconds, time_col=time_col,
                         bank_col=bank_col, pulse_col=pulse_col,
                         ns=False, by_bank=False)


def count_by_interval_ns(
    events: DataFrame,
    interval_seconds: float,
    *,
    ts_col: str = "ts",
    bank_col: str = "bank",
    pulse_col: str = "pulse_index",
    assume_clustered: bool = False,
) -> DataFrame:
    """``count_by_interval`` over a long-nanosecond column (a
    whole-nanosecond width): same output, less per-row work — one exact
    integer bucket division, min/max converted per group (~7% on the
    100M-row rollup). ``assume_clustered`` passes through to
    :func:`bitmap_distinct`: set it for a time-ordered store (the
    reference's layout), where the map-combine distinct roughly halves
    the rollup. Equivalence to the seconds form is test-pinned."""
    return _slice_counts(events, interval_seconds, time_col=ts_col,
                         bank_col=bank_col, pulse_col=pulse_col, ns=True,
                         by_bank=False, assume_clustered=assume_clustered)


def count_by_bank_and_interval_ns(
    events: DataFrame,
    interval_seconds: float,
    *,
    ts_col: str = "ts",
    bank_col: str = "bank",
    pulse_col: str = "pulse_index",
) -> DataFrame:
    """``count_by_bank_and_interval`` over a long-nanosecond column —
    the same exact integer bucket and per-group time conversion as
    :func:`count_by_interval_ns`, at the (interval, bank) grain."""
    return _slice_counts(events, interval_seconds, time_col=ts_col,
                         bank_col=bank_col, pulse_col=pulse_col,
                         ns=True, by_bank=True)


def push_time_range(
    events: DataFrame,
    start_time: float,
    end_time: float,
    *,
    ts_col: str = "ts",
    unit: str = "ns",
) -> DataFrame:
    """Half-open ``[start, end)`` seconds filter expressed on the STORED
    nanosecond column, so it reaches the parquet scan.

    ``unit`` ("ns" | "us") is the stored unit when ``ts_col`` is a LONG
    column — callers that schema-override a µs-timestamp file to its
    physical int64 pass "us". Ignored for timestamp-typed columns.

    Filtering the derived ``absolute_time`` (= exact ns→s math) can never
    push down — Catalyst won't invert the expression, so every row group
    is read and filtered post-scan. This helper translates integral
    second boundaries to exact integer nanos and filters ``ts_col``
    directly: ``PushedFilters`` shows up in the scan and sorted layouts
    (``catalog.write_table(sort_by=["ts"])``) skip whole row groups on
    min/max stats. Boundaries must be micro-second-representable (every
    reference query boundary is); equivalence to the derived-column
    filter is pinned by tests.
    """
    lo_us = round(float(start_time) * 1e6)
    hi_us = round(float(end_time) * 1e6)
    if lo_us / 1e6 != float(start_time) or hi_us / 1e6 != float(end_time):
        raise ValueError("boundaries must be microsecond-representable")
    if unit not in ("ns", "us"):
        raise ValueError(f"unit must be 'ns' or 'us', got {unit!r}")
    lo, hi = _ts_literals(events.schema[ts_col].dataType, lo_us, hi_us, unit)
    return events.filter((F.col(ts_col) >= lo) & (F.col(ts_col) < hi))


def _ts_literals(ts_type, lo_us: int, hi_us: int, unit: str = "ns") -> tuple[Column, Column]:
    """Boundary literals matching the stored ``ts`` encoding, so the
    comparison stays a bare-attribute predicate (a cast inserted on the
    COLUMN side would block parquet pushdown).

    * long ns (the engine's lake contract): plain long literals;
    * TIMESTAMP_NTZ (µs testdata, naive-as-UTC): ``TIMESTAMP_NTZ`` string
      literals built from UTC wall-clock — timezone-free by construction;
    * TIMESTAMP (LTZ): ``timestamp_micros`` of the epoch-µs value —
      foldable and session-timezone-independent.
    """
    from pyspark.sql.types import TimestampNTZType, TimestampType

    if isinstance(ts_type, TimestampNTZType):
        def wall(us: int) -> Column:
            from datetime import datetime, timedelta
            dt = datetime(1970, 1, 1) + timedelta(microseconds=us)
            return F.expr(f"TIMESTAMP_NTZ '{dt.strftime('%Y-%m-%d %H:%M:%S.%f')}'")
        return wall(lo_us), wall(hi_us)
    if isinstance(ts_type, TimestampType):
        return F.timestamp_micros(F.lit(lo_us)), F.timestamp_micros(F.lit(hi_us))
    scale = 1000 if unit == "ns" else 1
    return F.lit(lo_us * scale), F.lit(hi_us * scale)


def count_in_time_range(
    events: DataFrame,
    start_time: float,
    end_time: float,
    *,
    time_col: str = "absolute_time",
    bank_col: str = "bank",
    pulse_col: str = "pulse_index",
) -> DataFrame:
    """Single-row global aggregate over half-open ``[start, end)``
    (A3 + P4/P12, reference spark_events_by_time.py:267-280)."""
    t = F.col(time_col)
    ranged = events.filter(
        (t >= F.lit(float(start_time))) & (t < F.lit(float(end_time)))
    )
    plain = ranged.agg(
        F.lit(float(start_time)).alias("start_time"),
        F.lit(float(end_time)).alias("end_time"),
        F.count(F.lit(1)).alias("event_count"),
        F.min(t).alias("min_time"),
        F.max(t).alias("max_time"),
        F.count_distinct(F.col(bank_col)).alias("n_banks"),
    )
    pulses = bitmap_distinct(ranged, [], pulse_col, "n_pulses")
    # both sides are one row; the join is a broadcast nested loop of 1x1
    return plain.crossJoin(F.broadcast(pulses)).select(
        "start_time", "end_time", "event_count", "min_time", "max_time",
        "n_banks", "n_pulses",
    )


def count_by_bank_and_interval(
    events: DataFrame,
    interval_seconds: float,
    *,
    time_col: str = "absolute_time",
    bank_col: str = "bank",
    pulse_col: str = "pulse_index",
) -> DataFrame:
    """Per-(interval, bank) slice counts of a double-seconds column (A2,
    reference spark_events_by_time.py:304-318): interval, bank,
    event_count, min_time, max_time, n_pulses, interval_start,
    interval_end."""
    return _slice_counts(events, interval_seconds, time_col=time_col,
                         bank_col=bank_col, pulse_col=pulse_col,
                         ns=False, by_bank=True)


def exclude_error_banks(events: DataFrame, bank_col: str = "bank") -> DataFrame:
    """Drop error/unmapped detector banks (P6; reference does this by
    filename — extract_events_by_time.py:83-88 — we do it on the data,
    which survives any file layout)."""
    return events.filter(~F.col(bank_col).rlike("(?i)(error|unmapped)"))


def gapfill_intervals(
    events: DataFrame,
    interval_seconds: float,
    *,
    time_col: str = "absolute_time",
) -> DataFrame:
    """Zero-filled tumbling-interval counts: every bucket between the
    first and last observed interval appears, gaps carried as
    ``event_count = 0`` with an ``is_gap`` flag — the hypertable
    "time_bucket_gapfill" shape a monitoring query needs (a plain groupBy
    silently drops empty buckets; a beamline outage looks like missing
    rows instead of zeros).

    The heavy shuffle is the same per-interval groupBy as
    ``count_by_interval``; the spine is generated from a 1-row min/max
    aggregate (``explode(sequence(lo, hi))`` — interval count ≪ row
    count at any scale) and left-joins the aggregated counts, so the
    gap-fill itself adds no data-scale work.
    """
    t = F.col(time_col)
    counts = (
        events.filter(t.isNotNull())
        .withColumn("interval", interval_floor(t, interval_seconds))
        .groupBy("interval")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    bounds = counts.agg(F.min("interval").alias("lo"), F.max("interval").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("interval")
    )
    start, end = interval_bounds(F.col("interval"), interval_seconds)
    return (
        spine.join(counts, "interval", "left")
        .select(
            "interval",
            start.alias("interval_start"),
            end.alias("interval_end"),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("event_count"),
            F.col("_n").isNull().cast("long").alias("is_gap"),
        )
        .orderBy("interval")
    )


def locf_resample(
    events: DataFrame,
    interval_seconds: float,
    *,
    series_col: str = "bank",
    time_col: str = "absolute_time",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-series resample with last-observation-carried-forward fill —
    the slow-control-log shape: each series emits its most recent reading
    for every interval between its first and last observation, with gaps
    flagged.

    Per bucket the "observation" is the LAST sample by
    ``(time, order_col)`` — the unique-id tiebreak makes the choice
    deterministic under timestamp ties (``max_by`` over a struct key).
    The spine is per-series ``sequence(lo, hi)`` from a tiny bounds
    aggregate; the carry-forward is one ordered window over the
    bucket-level frame (interval count ≪ row count), so the only
    data-scale work is the per-(series, bucket) aggregate.
    """
    t = F.col(time_col)
    obs = (
        events.filter(t.isNotNull())
        .withColumn("interval", interval_floor(t, interval_seconds))
        .groupBy(series_col, "interval")
        .agg(
            F.max_by(
                F.col(value_col), F.struct(t, F.col(order_col))
            ).alias("_v")
        )
    )
    bounds = obs.groupBy(series_col).agg(
        F.min("interval").alias("lo"), F.max("interval").alias("hi")
    )
    spine = bounds.select(
        series_col,
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("interval"),
    )
    carry = (
        Window.partitionBy(series_col)
        .orderBy("interval")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(obs, [series_col, "interval"], "left")
        .select(
            series_col,
            "interval",
            F.last("_v", ignorenulls=True).over(carry).alias("value_locf"),
            F.col("_v").isNull().cast("long").alias("is_gap"),
        )
        .orderBy(series_col, "interval")
    )


def time_weighted_avg(
    events: DataFrame,
    *,
    series_col: str = "bank",
    time_col: str = "absolute_time",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-series time-weighted average: each sample's value is held
    until the next sample, so irregularly-spaced readings weight by their
    holding duration instead of their count (the TSDB ``time_weight``
    aggregate; a plain AVG over-weights bursts).

    One ordered window pass derives each sample's holding time
    ``dt = next_t - t`` (the last sample holds nothing and drops out),
    then one aggregate per series. Sums are rounded to 2 decimals in
    both engines before the final division (accumulation order differs);
    the division itself is then bit-identical.

    Scale contract: the window partitions on ``series_col``, so one
    partition holds one series' full history — correct when series are
    numerous and individually bounded (DAS logs: thousands of process
    variables x modest samples each), degenerate if called with a
    low-cardinality series column over a data-scale table. For huge
    single series, pre-aggregate to LOCF buckets first
    (``locf_resample``) and run this over the bucket frame — bucket
    count, not sample count, then bounds the partition.
    """
    w = Window.partitionBy(series_col).orderBy(time_col, order_col)
    t = F.col(time_col)
    dt = F.lead(t).over(w) - t
    held = (
        events.filter(t.isNotNull())
        .select(
            series_col,
            t.alias("_t"),
            F.col(value_col).alias("_v"),
            dt.alias("_dt"),
        )
        .filter(F.col("_dt").isNotNull())
    )
    # round at 1e-6, not 1e-2: the rounding exists only to absorb
    # cross-engine accumulation ulps, and 2 absolute decimals nulled
    # the average for any series whose total span is under ~5 ms
    # (den rounds to 0.0 -> null division) or zeroed micro-scale sums
    num = F.round(F.sum(F.col("_v") * F.col("_dt")), 6)
    den = F.round(F.sum("_dt"), 6)
    return held.groupBy(series_col).agg(
        (num / den).alias("time_weighted_avg"),
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(F.sum("_dt"), 6).alias("span_seconds"),
    )


def counter_rate(
    events: DataFrame,
    *,
    series_col: str = "bank",
    time_col: str = "absolute_time",
    value_col: str = "value",
    order_col: str = "event_id",
) -> DataFrame:
    """Per-sample increase and rate of a monotone counter, with reset
    handling (the PromQL ``rate()`` contract): a value DROP means the
    counter restarted, so the increase since the previous sample is the
    new value itself, never negative.

    One ordered window pass per series (same scale contract as
    ``time_weighted_avg`` — series must be numerous, or pre-bucket).
    First sample of each series has no predecessor and drops out. All
    outputs are per-row IEEE arithmetic on deterministic operands — no
    accumulation, so no rounding is needed for cross-engine parity.

    Output: ``(series, t, value, increase, rate_per_s)``;
    ``rate_per_s`` null when consecutive samples share a timestamp.
    """
    w = Window.partitionBy(series_col).orderBy(time_col, order_col)
    t = F.col(time_col)
    v = F.col(value_col)
    prev_v = F.lag(v).over(w)
    prev_t = F.lag(t).over(w)
    inc = F.when(v >= prev_v, v - prev_v).otherwise(v)
    dt = t - prev_t
    # null-VALUED samples are excluded before the lag, so the next valid
    # sample's increase computes against the last valid reading —
    # keeping them would null two rows per bad sample (the null row and
    # its successor's lag) and silently drop that span's increase
    return (
        events.filter(t.isNotNull() & v.isNotNull())
        .select(
            series_col,
            t.alias("t"),
            v.alias("value"),
            F.when(prev_v.isNotNull(), inc).alias("increase"),
            F.when(
                prev_v.isNotNull() & (dt > 0), inc / dt
            ).alias("rate_per_s"),
        )
        .filter(F.col("increase").isNotNull())
    )


def anomaly_zscore(
    events: DataFrame,
    interval_seconds: float,
    *,
    series_col: str = "bank",
    time_col: str = "absolute_time",
    trailing: int = 24,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Interval-count anomaly flags: each (series, bucket) count is
    z-scored against the TRAILING ``trailing`` buckets (excluding
    itself — the current value must not contaminate its own baseline),
    flagging |z| > threshold. The monitoring shape: "is this hour's
    event volume abnormal for this detector bank?"

    One bucket aggregate (data-scale) + one window over the bucket frame
    (bucket-scale). z is rounded (1e-6) before the flag compare so the
    cut is cross-engine stable. Buckets with fewer than 3 trailing
    observations emit null z and no flag; a zero-variance baseline emits
    null z but DOES flag any deviating count (a spike over a perfectly
    flat history is the clearest anomaly there is — requiring sd > 0
    would silence exactly that case).

    OBSERVED buckets only: an interval with ZERO events produces no row
    — a total outage is invisible here, and the ROWS-based trailing
    window spans across gaps. To flag dropouts, gap-fill first
    (``gapfill_intervals``) so empty buckets exist as count-0 rows, or
    alert on bucket absence separately; the same caveat applies to
    :func:`seasonal_anomaly`.
    """
    t = F.col(time_col)
    counts = (
        events.filter(t.isNotNull())
        .withColumn("interval", interval_floor(t, interval_seconds))
        .groupBy(series_col, "interval")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        Window.partitionBy(series_col)
        .orderBy("interval")
        .rowsBetween(-trailing, -1)
    )
    mu = F.avg("n").over(w)
    sd = F.stddev_samp("n").over(w)
    m = F.count("n").over(w)
    z = F.round((F.col("n") - mu) / sd, 6)
    enough = m >= 3
    flagged = F.when(
        enough & (sd > 0), F.abs(z) > F.lit(z_threshold)
    ).when(enough & (sd == 0), F.col("n") != mu)
    return counts.select(
        series_col,
        "interval",
        "n",
        F.when(enough & (sd > 0), z).alias("z"),
        F.coalesce(flagged, F.lit(False)).alias("is_anomaly"),
    )


def seasonal_anomaly(
    events: DataFrame,
    interval_seconds: float,
    *,
    periods: int = 24,
    series_col: str = "bank",
    time_col: str = "absolute_time",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Seasonally-adjusted volume anomalies: each (series, bucket) count
    is z-scored against the SAME seasonal slot (``bucket % periods`` —
    hour-of-day at hourly buckets) across all OTHER cycles, so a quiet
    3am hour is judged against 3am history, not the daily average that
    :func:`anomaly_zscore`'s trailing window mixes in.

    The leave-one-out baseline needs no second scan and no window at
    all: per (series, slot) the count ``m``, sum ``S`` and sum of
    squares ``S2`` give every member's excluded-self mean
    ``(S-n)/(m-1)`` and sample variance ``((S2-n²)-(m-1)·mu²)/(m-2)``
    algebraically. Plan: one bucket aggregate (data-scale), one
    slot-level aggregate (bounded by series x periods), broadcast join
    back — shuffles carry buckets, never events, and nothing funnels to
    one task at any scale.

    Same edge semantics as :func:`anomaly_zscore`: fewer than 3 other
    observations in the slot -> null z, no flag; zero-variance baseline
    -> null z but a deviating count still flags. z rounds at 1e-6 before
    the threshold compare (cross-engine-stable cut).
    """
    t = F.col(time_col)
    counts = (
        events.filter(t.isNotNull())
        .withColumn("interval", interval_floor(t, interval_seconds))
        .groupBy(series_col, "interval")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("slot", F.pmod(F.col("interval"), F.lit(periods)))
    )
    stats = counts.groupBy(series_col, "slot").agg(
        F.count(F.lit(1)).cast("long").alias("_m"),
        F.sum("n").cast("long").alias("_s"),
        # decimal accumulator: long n*n sums wrap past ~10 cycles of
        # 1e9-event buckets, and greatest(var, 0) would silently turn
        # the wrapped negative variance into sd=0 (flagging everything);
        # exact in decimal at any scale, value-identical at test scale
        F.sum(F.col("n").cast("decimal(19,0)") * F.col("n")).alias("_s2"),
    )
    j = counts.join(F.broadcast(stats), [series_col, "slot"])
    n = F.col("n").cast("double")
    m, s, s2 = F.col("_m"), F.col("_s").cast("double"), F.col("_s2").cast("double")
    mu = (s - n) / (m - 1).cast("double")
    var = ((s2 - n * n) - (m - 1).cast("double") * mu * mu) \
        / (m - 2).cast("double")
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.round((n - mu) / sd, 6)
    enough = m >= 4  # >= 3 other observations in the slot
    flagged = F.when(
        enough & (sd > 0), F.abs(z) > F.lit(z_threshold)
    ).when(enough & (sd == 0), n != mu)
    return j.select(
        series_col,
        "interval",
        "slot",
        F.col("n"),
        F.round(mu, 6).alias("baseline_mu"),
        F.when(enough & (sd > 0), z).alias("z"),
        F.coalesce(flagged, F.lit(False)).alias("is_anomaly"),
    )


def downsample_lttb(
    events: DataFrame,
    n_buckets: int,
    *,
    series_cols: Sequence[str] = ("bank",),
    time_col: str = "absolute_time",
    value_col: str = "value",
) -> DataFrame:
    """Largest-triangle downsampling for visualization: at most
    ``n_buckets`` points per series that preserve the visual shape of the
    curve (Steinarsson's LTTB, public literature), fully parallel.

    Deviation from the sequential algorithm, for scale: the triangle
    anchors are the neighbor BUCKETS' envelope midpoints
    ``((tmin+tmax)/2, (vmin+vmax)/2)`` instead of the previously selected
    point — selection becomes an independent per-bucket argmax (one
    shuffle on (series, bucket)), not a per-series sequential scan. The
    series' true first and last points are always kept (their in-bucket
    rank is forced above every area).

    Determinism/oracle note: anchors use only min/max (order-independent
    aggregates), and the area expression is a fixed IEEE tree, so results
    are bit-identical across engines with NO rounding. Ties in area break
    on (time, value).

    Shapes: one groupBy per series (bounded by series count, broadcast
    back), one groupBy per (series, bucket) (broadcast back), one
    windowed argmax per (series, bucket) — partitions are single buckets,
    never whole series.
    """
    sc = [F.col(c) for c in series_cols]
    t, v = F.col(time_col), F.col(value_col)

    # per-series span is bounded by the series count and consumed by
    # BOTH event passes below (bucketing for the envelope aggregate,
    # bucketing for the final argmax) — materialize once so its event
    # scan doesn't re-run inside each consumer (4 scans -> the
    # algorithm's 3-pass floor)
    span = events.groupBy(*sc).agg(
        F.min(time_col).alias("_ts0"), F.max(time_col).alias("_ts1")
    ).localCheckpoint(eager=True)
    e = events.join(F.broadcast(span), list(series_cols))
    frac = (t - F.col("_ts0")) / (F.col("_ts1") - F.col("_ts0"))
    bucket = F.when(
        F.col("_ts1") == F.col("_ts0"), F.lit(0)
    ).otherwise(
        F.least(F.floor(frac * F.lit(n_buckets)), F.lit(n_buckets - 1))
    ).cast("long")
    e = e.withColumn("bucket", bucket)

    env = e.groupBy(*sc, F.col("bucket")).agg(
        F.min(time_col).alias("_btmin"), F.max(time_col).alias("_btmax"),
        F.min(value_col).alias("_bvmin"), F.max(value_col).alias("_bvmax"),
    ).select(
        *series_cols, "bucket",
        ((F.col("_btmin") + F.col("_btmax")) / 2).alias("_at"),
        ((F.col("_bvmin") + F.col("_bvmax")) / 2).alias("_av"),
    )
    wseq = Window.partitionBy(*sc).orderBy("bucket")
    anchors = env.select(
        *series_cols, "bucket",
        F.coalesce(F.lag("_at").over(wseq), F.col("_at")).alias("_pt"),
        F.coalesce(F.lag("_av").over(wseq), F.col("_av")).alias("_pv"),
        F.coalesce(F.lead("_at").over(wseq), F.col("_at")).alias("_nt"),
        F.coalesce(F.lead("_av").over(wseq), F.col("_av")).alias("_nv"),
    )
    e = e.join(F.broadcast(anchors), [*series_cols, "bucket"])
    area = F.abs(
        (F.col("_pt") - F.col("_nt")) * (v - F.col("_pv"))
        - (F.col("_pt") - t) * (F.col("_nv") - F.col("_pv"))
    ) / 2
    endpoint = (t == F.col("_ts0")) | (t == F.col("_ts1"))
    rank_area = F.when(endpoint, F.lit(float("inf"))).otherwise(area)
    wpick = Window.partitionBy(*sc, F.col("bucket")).orderBy(
        rank_area.desc(), t.asc(), v.asc()
    )
    return (
        e.withColumn("_rn", F.row_number().over(wpick))
        .filter(F.col("_rn") == 1)
        .select(*series_cols, "bucket", t.alias(time_col), v.alias(value_col))
    )


def cusum_changepoints(
    events: DataFrame,
    interval_seconds: float,
    *,
    series_col: str = "bank",
    time_col: str = "absolute_time",
    slack_k: float = 0.5,
    h_threshold: float = 5.0,
) -> DataFrame:
    """One-sided CUSUM level-shift detection on interval counts (Page's
    cumulative-sum chart, public literature): flags the buckets where a
    series' event volume has drifted UP from its own baseline by more
    than ``h_threshold`` standard deviations of accumulated evidence.

    Closed form instead of the textbook recursion: with
    ``d_i = (n_i - mean)/sd - k``, the recursive
    ``S_i = max(0, S_{i-1} + d_i)`` equals
    ``cumsum_i - running_min(cumsum)`` over the ordered buckets — a
    cumulative window sum plus a running min, no sequential driver loop.

    Shapes: one data-scale bucket aggregate; everything after runs on the
    bucket table (series x buckets — thousands of rows per series, not
    events). Per-series windows partition by series, so width is bounded
    by the bucketed series length, exactly like the interval rollups.
    ``cusum`` is rounded (1e-6) before the threshold compare so the flag
    cut is cross-engine stable (windowed running sums may accumulate in
    engine-specific tree orders).
    """
    t = F.col(time_col)
    counts = (
        events.filter(t.isNotNull())
        .withColumn("interval", interval_floor(t, interval_seconds))
        .groupBy(series_col, "interval")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = counts.groupBy(series_col).agg(
        F.avg("n").alias("_mu"), F.stddev_samp("n").alias("_sd")
    )
    d = (
        counts.join(F.broadcast(stats), series_col)
        .filter(F.col("_sd") > 0)
        .withColumn(
            "_d", (F.col("n") - F.col("_mu")) / F.col("_sd") - F.lit(slack_k)
        )
    )
    wcum = (
        Window.partitionBy(series_col)
        .orderBy("interval")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_cs", F.sum("_d").over(wcum))
    # running min over [start, i-1]; floor at 0 reproduces S_1 = max(0, d_1)
    wprev = (
        Window.partitionBy(series_col)
        .orderBy("interval")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = F.least(F.coalesce(F.min("_cs").over(wprev), F.lit(0.0)), F.lit(0.0))
    cusum = F.round(F.col("_cs") - base, 6)
    return (
        d.withColumn("cusum", cusum)
        .filter(F.col("cusum") > F.lit(h_threshold))
        .select(series_col, "interval", F.col("n").cast("long").alias("n"), "cusum")
    )


def lagged_correlation(
    events: DataFrame,
    interval_seconds: float,
    bank_a: str,
    bank_b: str,
    *,
    max_lag: int = 6,
    bank_col: str = "bank",
    time_col: str = "absolute_time",
) -> DataFrame:
    """Pearson cross-correlation of two banks' interval-count series at
    every lag in [-max_lag, +max_lag] — "do errors follow clicks two
    hours later?", the lead/lag diagnostic run after an anomaly fires.

    Shape: one bucketed count aggregate per side, the a-side exploded
    across the (2·max_lag+1)-element lag literal array (bounded
    constant fanout), one equi-join on the SHIFTED interval, and one
    per-lag aggregate of exact integer sums (n, Σx, Σy, Σxy, Σx², Σy²
    — all BIGINT, so both engines hold identical values) folded into
    the Pearson formula as a single double expression at the very end.
    Only intervals where BOTH series have counts participate (inner
    join); lags with fewer than 3 shared intervals or zero variance
    emit a null correlation.

    Output: lag, n_points, corr (rounded 1e-6).
    """
    _validate_interval_ns(interval_seconds)  # whole-ns width guard
    base = events.filter(F.col(time_col).isNotNull()).select(
        F.col(bank_col).alias("_bank"),
        F.floor(F.col(time_col) / F.lit(float(interval_seconds)))
        .cast("long").alias("_iv"),
    )

    def counts(bank: str, out: str) -> DataFrame:
        return (
            base.filter(F.col("_bank") == bank)
            .groupBy("_iv")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    a = counts(bank_a, "x")
    b = counts(bank_b, "y")
    lags = F.array(*[
        F.lit(l).cast("long") for l in range(-max_lag, max_lag + 1)
    ])
    shifted = (
        a.withColumn("lag", F.explode(lags))
        .withColumn("_jv", F.col("_iv") + F.col("lag"))
        .select("lag", "_jv", "x")
    )
    joined = shifted.join(
        b.withColumnRenamed("_iv", "_jv"), "_jv"
    )
    sums = joined.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("x").cast("long").alias("_sx"),
        F.sum("y").cast("long").alias("_sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("_sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("_sx2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("_sy2"),
    )
    # every sum enters the formula as DOUBLE: long*long products of two
    # data-scale sums overflow int64 long before precision matters here
    n = F.col("n_points").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    cov = n * F.col("_sxy").cast("double") - sx * sy
    vx = n * F.col("_sx2").cast("double") - sx * sx
    vy = n * F.col("_sy2").cast("double") - sy * sy
    corr = F.when(
        (F.col("n_points") >= 3) & (vx > 0) & (vy > 0),
        F.round(cov / F.sqrt(vx * vy), 6),
    )
    return sums.select("lag", "n_points", corr.alias("corr"))
