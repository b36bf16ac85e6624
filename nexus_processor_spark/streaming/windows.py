"""Streaming tumbling-window aggregation (T6 — the new capability).

The reference's only "window" is batch ``floor(t/N)`` bucketing
(spark_events_by_time.py:216-219); its streaming path has no stateful ops.
This module is the streaming twin, with semantics anchored to the batch
operator: tumbling windows of ``interval_seconds`` aligned at epoch 0 are
exactly the ``floor(t/N)`` buckets, so a drained stream reproduces
``operators.timeslice.count_by_interval`` (pinned by tests).

Watermarking is conservative-documented: events later than ``watermark``
behind the max observed time are dropped from their window (there is no
reference behavior to match — SURVEY.md §7.3)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _whole_seconds(seconds: float, what: str) -> int:
    """Validated integral second count for the interval-id arithmetic,
    which divides whole-second epochs — fractional widths are rejected
    loudly instead of silently truncated."""
    n = int(seconds)
    if n != seconds or n <= 0:
        raise ValueError(
            f"{what} must be a positive whole number of seconds for the "
            f"interval-id arithmetic, got {seconds}"
        )
    return n


def windowed_counts(
    events: DataFrame,
    interval_seconds: float,
    *,
    time_col: str = "event_time",
    bank_col: str = "bank",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-(window, bank) event counts over an unbounded stream.

    ``time_col`` must be TimestampType (use functions.core.event_timestamp
    for long-nanos inputs). Output mirrors the batch schema: interval id =
    floor(epoch/N), plus window bounds and the count.
    """
    n = _whole_seconds(interval_seconds, "interval_seconds")
    win = F.window(F.col(time_col), f"{n} seconds")
    return (
        events.withWatermark(time_col, watermark)
        .groupBy(win.alias("w"), F.col(bank_col))
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            (F.unix_timestamp("w.start") / n).cast("long").alias("interval"),
            F.col("w.start").alias("interval_start"),
            F.col("w.end").alias("interval_end"),
            bank_col,
            "event_count",
        )
    )
