"""Table-level profiling / reconciliation utilities.

The health checks every lakehouse pipeline runs between stages: column
profiles (null rates, cardinalities, ranges), snapshot diffs (what
changed between two versions of a keyed table), and value histograms.
All are single-plan DataFrame compositions — profiles aggregate once
over the table (one pass, every column in the same HashAggregate);
diffs are one full-outer join on the key; histograms one groupBy on a
``width_bucket`` derivation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
) -> DataFrame:
    """Long-format column profile: per column its null count, exact
    distinct count, and min/max rendered as strings (uniform schema
    across types).

    One aggregate row computes every column's stats in a single pass
    (count_distinct per column shares the scan; at 100 TB swap
    ``approx_count_distinct`` in — exact is kept here for oracle
    comparability), then a literal-stack unpivot emits one row per
    column. Output: ``col_name, n_rows, n_nulls, n_distinct, min_value,
    max_value``.
    """
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
            # min/max on the NATIVE type, cast after — casting first
            # would compare lexicographically ("10" < "9")
            F.min(F.col(c)).cast("string").alias(f"_mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_mx_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").cast("long").alias("n_rows"),
            F.col(f"_nn_{c}").cast("long").alias("n_nulls"),
            F.col(f"_nd_{c}").cast("long").alias("n_distinct"),
            F.col(f"_mn_{c}").alias("min_value"),
            F.col(f"_mx_{c}").alias("max_value"),
        )
        for c in cols
    ])
    return (
        one.select(F.explode(rows).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str] | str,
    *,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot reconciliation: one row per key present in either
    version, tagged ``added`` / ``removed`` / ``changed`` / ``same``.

    One full-outer join on the key; change detection compares the
    null-safe struct of ``compare_cols`` (default: all non-key columns
    common to both sides). The CDC shape a MERGE planner or an audit
    report consumes. Output: key columns + ``diff_status``.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [c for c in old.columns
                        if c in new.columns and c not in keys]
    o = old.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("_ov"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(k) for k in keys],
        F.struct(*[F.col(c) for c in compare_cols]).alias("_nv"),
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, keys, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_ov").eqNullSafe(F.col("_nv")), F.lit("same"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, status.alias("diff_status"))


def histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    num_buckets: int,
) -> DataFrame:
    """Equal-width histogram over ``[lo, hi)``: ``width_bucket``
    derivation + one groupBy — the single-shuffle profile of a numeric
    column's distribution. Bucket 0 = below range, ``num_buckets + 1`` =
    at/above ``hi`` (width_bucket semantics, identical in DuckDB).

    Output: ``bucket, bucket_lo, bucket_hi, n`` (empty buckets absent —
    gap-fill with a spine join if a dense axis is needed).
    """
    b = F.width_bucket(
        F.col(value_col).cast("double"), F.lit(float(lo)), F.lit(float(hi)),
        F.lit(num_buckets),
    ).cast("long")
    width = (float(hi) - float(lo)) / num_buckets
    out = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    lo_c = (F.lit(float(lo)) + (F.col("bucket") - 1) * F.lit(width))
    return out.select(
        "bucket",
        F.round(lo_c, 6).alias("bucket_lo"),
        F.round(lo_c + F.lit(width), 6).alias("bucket_hi"),
        "n",
    ).orderBy("bucket")


def quantile_histogram(
    df: DataFrame,
    value_col: str,
    num_buckets: int,
) -> DataFrame:
    """Equi-depth histogram: bucket boundaries at the exact interpolated
    quantiles, then one pass assigning each row by counting the cut
    points below it — the distribution profile that stays informative on
    skewed columns where equal-width buckets collapse into one bar.

    Shape: one 1-row quantile aggregate (exact ``percentile`` here for
    oracle parity — swap ``approx_percentile`` at warehouse scale), a
    1-row broadcast back onto the table, and one groupBy on the derived
    bucket. Cut points are rounded (1e-6) BEFORE assignment in both
    engines, so bucket membership of boundary-straddling values is
    identical. Ties at a cut go to the lower bucket; heavy ties make
    depths uneven (deterministically) — that is inherent to equi-depth.

    Output: ``bucket (1..n), bucket_lo, bucket_hi, n`` — lo of bucket 1
    and hi of bucket n are null (open tails).
    """
    if num_buckets < 2:
        raise ValueError("need at least 2 buckets")
    qs = ", ".join(str(i / num_buckets) for i in range(1, num_buckets))
    cuts = df.filter(F.col(value_col).isNotNull()).agg(
        F.transform(
            F.expr(f"percentile({value_col}, array({qs}))"),
            lambda c: F.round(c, 6),
        ).alias("_cuts")
    )
    x = F.col(value_col).cast("double")
    bucket = (
        F.lit(1)
        + F.aggregate(
            F.col("_cuts"),
            F.lit(0),
            lambda acc, c: acc + F.when(x > c, 1).otherwise(0),
        )
    ).cast("long")
    counted = (
        df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(cuts))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.first("_cuts").alias("_c"))
    )
    return counted.select(
        "bucket",
        F.when(
            F.col("bucket") > 1,
            F.element_at("_c", (F.col("bucket") - 1).cast("int")),
        ).alias("bucket_lo"),
        F.when(
            F.col("bucket") < num_buckets,
            F.element_at("_c", F.col("bucket").cast("int")),
        ).alias("bucket_hi"),
        "n",
    )
