"""Plan inspection helpers — the engine's ".explain and iterate" tooling.

Used by tests to pin the physical properties the 100 TB design relies on:
filters reaching the parquet scan, small dims broadcast, partition pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True when ``fragment`` appears in the scan's PushedFilters list."""
    plan = executed_plan(df)
    return any("PushedFilters" in line and fragment in line
               for line in plan.splitlines())


def broadcast_join_count(df: DataFrame) -> int:
    return executed_plan(df).count("BroadcastHashJoin")


def scan_columns(df: DataFrame) -> list[str]:
    """Union of columns actually read across every parquet scan
    (ReadSchema) — proves column pruning for narrow projections. Plans
    with several scan branches (e.g. a plain agg joined to a bitmap
    distinct agg) contribute each branch's read set."""
    plan = executed_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1: schema.rfind(">")]
            for p in inner.split(","):
                if ":" in p:
                    name = p.split(":")[0]
                    if name not in cols:
                        cols.append(name)
    return cols
