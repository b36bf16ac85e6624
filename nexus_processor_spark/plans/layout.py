"""Physical-layout helpers.

``spread`` exists because compute-heavy per-row operators (md5 shingling,
vector math) inherit their parallelism from the *scan*: a corpus stored as
a few small files arrives as a few partitions, and a 32-core executor then
grinds the whole operator on one task. At warehouse scale input splits
provide parallelism naturally; ``spread`` guarantees it regardless of file
layout for a trivial shuffle of the narrow input projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism (or
    ``parallelism``) when the current layout has fewer partitions."""
    sc = df.sparkSession.sparkContext
    target = parallelism or sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def zorder_address(bucket_cols: list, bits: int = 8) -> F.Column:
    """Z-address (Morton code) from per-column bucket ids in
    ``[0, 2^bits)``: bit i of column j lands at position ``i*n + j``.
    All shifts/masks — pure codegen, no UDF. Bits are disjoint, so the
    interleave reduces with ``+``."""
    n = len(bucket_cols)
    terms = []
    for j, c in enumerate(bucket_cols):
        lc = c.cast("long")
        for b in range(bits):
            bit = F.shiftright(lc, b).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, b * n + j))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 8,
    num_files: int = 32,
    compression: str = "zstd",
) -> None:
    """Write parquet Z-ORDERED on ``cols``: every file/row-group gets a
    tight min/max envelope on ALL the z-columns simultaneously, so range
    predicates on any of them prune — the multi-column generalization of
    the sorted layout (``sort_by`` one column gives perfect pruning on it
    and none on the others).

    Each column linearly bucketizes to ``2^bits`` levels between its
    observed min/max (one tiny driver-side agg — a write-time utility is
    already an action boundary), the bucket bits interleave into a
    Morton address, and a range-repartition + in-partition sort on that
    address clusters z-neighbors into the same files. No UDFs, no
    external index — just layout.
    """
    bounds = df.agg(*[f(c).alias(f"{t}_{c}")
                      for c in cols
                      for t, f in (("mn", F.min), ("mx", F.max))]).first()
    levels = (1 << bits) - 1
    buckets = []
    for c in cols:
        lo, hi = float(bounds[f"mn_{c}"]), float(bounds[f"mx_{c}"])
        span = (hi - lo) or 1.0
        b = F.least(
            F.lit(levels),
            F.floor((F.col(c).cast("double") - F.lit(lo))
                    / F.lit(span) * F.lit(levels + 1)).cast("long"),
        )
        buckets.append(F.greatest(F.lit(0), b))
    z = df.withColumn("__z", zorder_address(buckets, bits))
    (z.repartitionByRange(num_files, "__z")
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").option("compression", compression)
      .parquet(path))
