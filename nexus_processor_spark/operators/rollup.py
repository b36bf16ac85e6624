"""Hypertable-style interval rollups: pre-aggregated continuous aggregates.

The flagship time-slice query scans every event it counts. At 100 TB the
right answer for repeated interval queries is a rollup table maintained at
ingest: per (run, bank, fine-interval) partial aggregates that are
1,000-100,000x smaller than the fact table and *compose* upward:

* count/sum      — re-aggregate exactly at any coarser interval
* min/max        — same
* distinct       — NOT composable exactly; the rollup carries HLL
                   sketches (``hll_sketch_agg``) which union losslessly
                   across buckets and report with bounded error

Query routing: same-or-coarser intervals hit the rollup; finer intervals
fall through to the fact table. Streaming ingest maintains the rollup as
a snapshot table (``sources/snapshots.py``): each micro-batch merges its
own partials into the current version and commits the result pinned to
its batch id (see :func:`maintain_rollup_stream`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nexus_processor_spark.functions.core import interval_bounds, interval_floor


def build_interval_rollup(
    events: DataFrame,
    interval_seconds: float,
    *,
    time_col: str = "absolute_time",
    bank_col: str = "bank",
    pulse_col: str = "pulse_index",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The rollup table: one row per (keys, bank, interval) with exact
    partials and HLL sketches for the distinct measures."""
    t = F.col(time_col)
    return (
        events.filter(t.isNotNull())
        .withColumn("interval", interval_floor(t, interval_seconds))
        .groupBy(*key_cols, bank_col, "interval")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.min(t).alias("min_time"),
            F.max(t).alias("max_time"),
            F.hll_sketch_agg(pulse_col).alias("pulse_sketch"),
        )
    )


def _merge_partials(rollup: DataFrame, *keys: str) -> DataFrame:
    """Re-aggregate rollup partials on ``keys``: counts add, min/max
    fold, HLL sketches union."""
    return rollup.groupBy(*keys).agg(
        F.sum("event_count").alias("event_count"),
        F.min("min_time").alias("min_time"),
        F.max("max_time").alias("max_time"),
        F.hll_union_agg("pulse_sketch").alias("pulse_sketch"),
    )


def rollup_to_coarser(
    rollup: DataFrame,
    fine_seconds: float,
    coarse_seconds: float,
    *,
    bank_col: str = "bank",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Re-aggregate a fine rollup to a coarser interval — exact for
    count/min/max, HLL-union for the distinct sketch. ``coarse_seconds``
    must be a multiple of ``fine_seconds``."""
    factor = int(coarse_seconds / fine_seconds)
    if factor * fine_seconds != coarse_seconds:
        raise ValueError("coarse interval must be a multiple of the fine one")
    coarse = F.floor(F.col("interval") / factor).cast("long")
    return _merge_partials(
        rollup.withColumn("interval", coarse), *key_cols, bank_col, "interval"
    )


def serve_count_by_interval(
    rollup: DataFrame,
    interval_seconds: float,
    *,
    bank_col: str = "bank",
) -> DataFrame:
    """Answer the flagship per-interval query FROM the rollup (no fact
    scan): exact count/min/max, HLL estimate for distinct pulses, exact
    distinct banks (bank is a rollup grouping key)."""
    start, end = interval_bounds(F.col("interval"), interval_seconds)
    return (
        rollup.groupBy("interval")
        .agg(
            F.sum("event_count").alias("event_count"),
            F.count_distinct(bank_col).alias("n_banks"),
            F.hll_sketch_estimate(F.hll_union_agg("pulse_sketch"))
            .alias("n_pulses_approx"),
            F.min("min_time").alias("min_time"),
            F.max("max_time").alias("max_time"),
        )
        .select(
            "interval", start.alias("interval_start"), end.alias("interval_end"),
            "event_count", "n_banks", "n_pulses_approx", "min_time", "max_time",
        )
        .orderBy("interval")
    )


def incremental_update(
    rollup: DataFrame,
    new_events: DataFrame,
    interval_seconds: float,
    *,
    time_col: str = "absolute_time",
    bank_col: str = "bank",
    pulse_col: str = "pulse_index",
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Refresh the continuous aggregate with a new batch of events —
    without re-scanning history.

    Build the batch's own rollup (the only data-scale work, proportional
    to the BATCH), then merge: counts add, min/max fold, HLL sketches
    union. The merge groups on the rollup key whose cardinality is
    bucket-count, not event-count, so nightly/streaming refresh cost is
    O(batch + touched buckets). :func:`maintain_rollup_stream` commits
    the same merge per micro-batch. Equivalence to a full rebuild is
    pinned by tests (exact measures equal, sketch estimates equal — HLL
    union is associative, so incremental == rebuild even on the sketch
    bytes' estimates).
    """
    delta = build_interval_rollup(
        new_events, interval_seconds,
        time_col=time_col, bank_col=bank_col, pulse_col=pulse_col,
        key_cols=key_cols,
    )
    return _merge_partials(
        rollup.unionByName(delta), *key_cols, bank_col, "interval"
    )


def maintain_rollup_stream(
    events_stream: DataFrame,
    rollup_path: str,
    interval_seconds: float,
    *,
    checkpoint_dir: str,
    time_col: str = "absolute_time",
    bank_col: str = "bank",
    pulse_col: str = "pulse_index",
):
    """Maintain the continuous aggregate FROM a stream: each micro-batch
    merges into the rollup state — the wiring for the module
    docstring's "streaming ingest maintains the rollup" path.

    Work per batch is O(batch + touched buckets). The state is a
    snapshot table committed by ``streaming/sketches.py`` with the batch
    id as its version: the merge sums event counts, so a REPLAYED
    micro-batch finds its version published and skips, and a failed
    write publishes nothing (crash-safe). At warehouse scale, swap for
    a MERGE INTO on an Iceberg/Delta rollup table keyed by batch id.

    Returns the started ``StreamingQuery``; read the maintained rollup
    with ``snapshots.read_snapshot``.
    """
    from nexus_processor_spark.streaming.sketches import maintain_sketch_stream

    return maintain_sketch_stream(
        events_stream, rollup_path,
        checkpoint_dir=checkpoint_dir,
        build=lambda b: build_interval_rollup(
            b, interval_seconds,
            time_col=time_col, bank_col=bank_col, pulse_col=pulse_col,
        ),
        merge=lambda cur, delta: _merge_partials(
            cur.unionByName(delta), bank_col, "interval"
        ),
    )


def build_value_histogram_rollup(
    events: DataFrame,
    interval_seconds: float,
    lo: float,
    hi: float,
    num_buckets: int,
    *,
    time_col: str = "absolute_time",
    value_col: str = "value",
) -> DataFrame:
    """Per-interval fixed-width value histogram — the mergeable quantile
    sketch: bucket counts compose EXACTLY under addition (across
    intervals, runs, or incremental batches), unlike a raw percentile.
    ``width_bucket`` semantics (bucket 0 below range, n+1 at/above hi).

    Output: ``(interval, bucket, n)`` — one groupBy, partial-aggregated.
    """
    t = F.col(time_col)
    b = F.width_bucket(
        F.col(value_col).cast("double"), F.lit(float(lo)), F.lit(float(hi)),
        F.lit(num_buckets),
    ).cast("long")
    return (
        events.filter(t.isNotNull() & F.col(value_col).isNotNull())
        .withColumn("interval", interval_floor(t, interval_seconds))
        .groupBy("interval", b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def serve_percentile(
    hist: DataFrame,
    q: float,
    lo: float,
    hi: float,
    num_buckets: int,
) -> DataFrame:
    """Approximate per-interval percentile FROM the histogram rollup —
    deterministic (a pure function of the bucket counts, identical
    cross-engine): rank = ceil(q * total); walk the cumulative counts to
    the covering bucket; linearly interpolate inside it. Error is
    bounded by the bucket width; out-of-range buckets clamp to the range
    edges. One window cumsum over the bucket frame (bucket-scale) + one
    filter — never touches raw values.

    Output: ``(interval, total n, p double)``.
    """
    if not (0.0 < q <= 1.0):
        raise ValueError("q must be in (0, 1]")
    width = (float(hi) - float(lo)) / num_buckets
    w = Window.partitionBy("interval").orderBy("bucket")
    tot = Window.partitionBy("interval")
    ranked = hist.select(
        "interval",
        "bucket",
        "n",
        (F.sum("n").over(w) - F.col("n")).alias("cum_before"),
        F.sum("n").over(tot).alias("total"),
    ).withColumn(
        "rank", F.ceil(F.lit(q) * F.col("total")).cast("long")
    )
    covering = ranked.filter(
        (F.col("cum_before") < F.col("rank"))
        & (F.col("cum_before") + F.col("n") >= F.col("rank"))
    )
    frac = (F.col("rank") - F.col("cum_before")) / F.col("n")
    inside = F.lit(lo) + (F.col("bucket") - 1 + frac) * F.lit(width)
    est = (
        F.when(F.col("bucket") <= 0, F.lit(float(lo)))
        .when(F.col("bucket") > num_buckets, F.lit(float(hi)))
        .otherwise(inside)
    )
    return covering.select(
        "interval",
        F.col("total").alias("n"),
        F.round(est, 6).alias("p"),
    )
