"""Distributed prefix sums — running totals without a global-sort window.

``sum(v) OVER (ORDER BY t)`` with no PARTITION BY collapses onto one
task in Spark; at 100 TB that window IS the job. The textbook fix is
the two-phase scan this module implements natively:

1. bucket rows by a coarse grid on the order column;
2. aggregate per-bucket sums (one partial-agg shuffle), prefix-sum the
   BUCKET table (a window over |buckets| rows, not |rows|) into
   per-bucket offsets, broadcast them back;
3. run the within-bucket running sum under
   ``PARTITION BY bucket`` — bounded partitions — and add the offset.

Total: one shuffle of the data on the bucket key + one tiny group-level
window + one broadcast join. Exact integer/decimal sums are
order-independent, so the result equals the single-partition window
bit-for-bit (pinned by tests).

On top of it: ``interval_concurrency`` — the sweep-line "how many
intervals are active at time t" aggregate (sessions in flight, beds
occupied, connections open) as endpoint deltas + distributed scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_NULL_BUCKET = -(2**63)  # sorts before every real floor(order/grid) bucket


def _bucket(order_col: str, grid: float) -> Column:
    """Coarse-grid bucket id; NULL order keys land in a dedicated first
    bucket so they are ranked (NULLS FIRST, matching the single-task
    ``OVER (ORDER BY ...)`` window these operators replace) instead of
    silently dropped by the bucket equi-join. An all-null column would
    make that one bucket the whole dataset — callers with meaningfully
    many null keys should filter them explicitly."""
    return F.when(
        F.col(order_col).isNull(), F.lit(_NULL_BUCKET)
    ).otherwise(F.floor(F.col(order_col) / F.lit(grid))).cast("long")


def distributed_running_sum(
    df: DataFrame,
    *,
    order_col: str,
    value_col: str,
    grid: float,
    tiebreak_cols: tuple[str, ...] = (),
    out_col: str = "running_total",
) -> DataFrame:
    """Running sum of ``value_col`` in ``(order_col, *tiebreak_cols)``
    order, inclusive of the current row. Rows with equal full sort keys
    receive order-dependent intermediate totals only within that exact
    tie — give a unique tiebreak for full determinism. NULL order keys
    rank first (see :func:`_bucket`)."""
    order_keys = [order_col, *tiebreak_cols]
    rows = df.withColumn("_b", _bucket(order_col, grid))
    bucket_sums = rows.groupBy("_b").agg(F.sum(value_col).alias("_bs"))
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_sums.select(
        "_b", F.coalesce(F.sum("_bs").over(w_b), F.lit(0)).alias("_off")
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rows.join(F.broadcast(offsets), "_b")
        .withColumn(out_col, (F.col("_off") + F.sum(value_col).over(w_in)))
        .drop("_b", "_off")
    )


def distributed_row_number(
    df: DataFrame,
    *,
    order_col: str,
    tiebreak_cols: tuple[str, ...] = (),
    grid: float,
    out_col: str = "row_index",
) -> DataFrame:
    """Zero-based global row ordinal in ``(order_col, *tiebreak_cols)``
    order via the same two-phase scan as :func:`distributed_running_sum`:
    per-bucket ``row_number`` under ``PARTITION BY bucket`` (bounded
    partitions) plus broadcast cumulative bucket counts, instead of the
    single-task ``row_number() OVER (ORDER BY ...)`` global window. Equal
    full sort keys get an arbitrary-but-stable order within the tie; pass
    a unique tiebreak for full determinism. NULL order keys rank first
    (see :func:`_bucket`)."""
    order_keys = [order_col, *tiebreak_cols]
    rows = df.withColumn("_b", _bucket(order_col, grid))
    bucket_counts = rows.groupBy("_b").agg(F.count(F.lit(1)).alias("_bn"))
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_counts.select(
        "_b", F.coalesce(F.sum("_bn").over(w_b), F.lit(0)).alias("_off")
    )
    w_in = Window.partitionBy("_b").orderBy(*order_keys)
    return (
        rows.join(F.broadcast(offsets), "_b")
        .withColumn(
            out_col,
            (F.col("_off") + F.row_number().over(w_in) - 1).cast("long"),
        )
        .drop("_b", "_off")
    )


def interval_concurrency(
    intervals: DataFrame,
    *,
    start_col: str,
    end_col: str,
    grid: float,
    id_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Sweep-line concurrency: one ``(t, delta, concurrent)`` row per
    interval endpoint, where ``concurrent`` counts intervals active at
    ``t`` under CLOSED-interval semantics — at a shared instant, starts
    are applied before ends, so a session beginning exactly when another
    finishes sees both alive. ``id_cols`` flow through as tiebreaks for
    fully deterministic running values."""
    # One explode pass emits both endpoints (a starts∪ends union would
    # duplicate the upstream subtree — for the session-concurrency
    # query that is the whole gap-sessionize window pipeline), and the
    # endpoint stream is materialized once: the two-phase running sum
    # below consumes it twice (bucket sums + the probe join), which
    # without the lineage cut would re-run the upstream again. Endpoint
    # rows are narrow (t, delta, ids) — 2 per interval. Before-plan: 4
    # scans of the event table; after: 1.
    ends = F.array(
        F.struct(F.col(start_col).alias("t"), F.lit(1).alias("delta"),
                 *[F.col(c) for c in id_cols]),
        F.struct(F.col(end_col).alias("t"), F.lit(-1).alias("delta"),
                 *[F.col(c) for c in id_cols]),
    )
    deltas = (
        intervals.select(F.explode(ends).alias("_e"))
        .select("_e.*")
        .filter(F.col("t").isNotNull())
        .localCheckpoint(eager=True)
    )
    # +1 sorts before -1 at equal t via negated delta in the tiebreak
    out = distributed_running_sum(
        deltas.withColumn("_nd", -F.col("delta")),
        order_col="t",
        value_col="delta",
        grid=grid,
        tiebreak_cols=("_nd", *id_cols),
        out_col="concurrent",
    )
    return out.drop("_nd").withColumn(
        "concurrent", F.col("concurrent").cast("long")
    )
