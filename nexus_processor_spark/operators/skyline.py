"""2-D Pareto frontier (skyline) — non-dominated rows at corpus scale.

A row is *dominated* when some other row is at least as good on both
axes and strictly better on one. The classic single-node answer is an
O(n log n) sweep; the naive distributed answer is an O(n^2) self-join.
Neither is the Spark-first shape. This module reduces the problem to
group-level aggregates:

for minimize axis ``m`` / maximize axis ``M``, row b is non-dominated iff

* ``b.M == max(M | m = b.m)``  (nothing at the same cost is strictly
  better), and
* ``b.M  > max(M | m < b.m)``  (nothing strictly cheaper is at least
  as good).

Both terms live on the *distinct-m* group table: one ``groupBy(m)``
(partial-agg, one shuffle over ~|distinct m| rows) + one prefix-max
window over the group table + one broadcast join back. The n^2 pair
space is never touched; the only full-data pass is the map-side
partial aggregate. The group-level window is single-partition by
construction, but it runs over ``|distinct m|`` rows, not ``n`` —
document-scale inputs collapse by orders of magnitude before it.

Ties on both axes are kept (neither duplicate dominates the other),
matching the standard skyline definition and the SQL ``NOT EXISTS``
dominance oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pareto_frontier_2d(
    df: DataFrame,
    *,
    minimize: str,
    maximize: str,
) -> DataFrame:
    """Rows of ``df`` not dominated under (minimize ``minimize``,
    maximize ``maximize``). Null measures are excluded (SQL three-valued
    dominance never selects them deterministically). The group-level
    frontier table joins back broadcast: it has one row per distinct
    minimized value, which every realistic cardinality keeps small.
    """
    base = df.filter(F.col(minimize).isNotNull() & F.col(maximize).isNotNull())
    groups = base.groupBy(minimize).agg(F.max(maximize).alias("_gmax"))
    w = Window.orderBy(minimize).rowsBetween(Window.unboundedPreceding, -1)
    frontier_groups = (
        groups.select(minimize, "_gmax", F.max("_gmax").over(w).alias("_prev"))
        # strictly-cheaper rows must all be strictly worse on the max axis
        .filter(F.col("_prev").isNull() | (F.col("_gmax") > F.col("_prev")))
    )
    return (
        base.join(F.broadcast(frontier_groups), on=minimize, how="inner")
        # same-cost rows: only the group's best survive (ties all kept)
        .filter(F.col(maximize) == F.col("_gmax"))
        .drop("_gmax", "_prev")
    )
