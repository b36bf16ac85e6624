"""Lakehouse layer: partitioned-parquet tables, routing ingest, DDL.

Spark-native re-expression of the reference's Iceberg scripts
(lakehouse_scripts/init_neutron_data.py, ingest_neutron_data.py):

* Tables are directories of ZSTD parquet partitioned by the run key —
  Hive-style layout gives the same partition pruning the reference gets
  from Iceberg specs (init_neutron_data.py:129,156,179,201). With an
  Iceberg catalog configured, ``write_table(..., fmt="iceberg")`` creates
  the table from the reference's DDL and appends via the v2 writer;
  nothing else changes (a config change, not a code change, in prod).
* File routing (S19): the reference embeds an ``iceberg_table`` key in
  parquet footer metadata and falls back to filename patterns
  (ingest_neutron_data.py:34-93). Spark can't write custom footer keys, so
  the engine's convention is path-based: ``<root>/<table>/...``; routing
  of foreign files keeps the filename-pattern fallback.
* File sizing (S7): ``maxRecordsPerFile`` replaces the reference's manual
  part-file chunking loop (parquet.py:736-750); 10M events ≈ 200MB
  (cli.py:46-48).
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from nexus_processor_spark.schemas import TABLES, table_ddl  # noqa: F401 (re-export)

MAX_EVENTS_PER_FILE = 10_000_000

# Filename-pattern routing fallback (reference FILE_TABLE_MAPPING,
# ingest_neutron_data.py:34-39). Order matters: first match wins.
FILE_TABLE_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"event_summary", "event_summary"),
    (r"events", "events"),
    (r"daslogs", "daslogs"),
    (r"metadata", "experiment_runs"),  # metadata rows fold into experiment_runs
    (r"experiment_runs", "experiment_runs"),
    (r"sample", "sample"),
    (r"instrument", "instrument"),
    (r"software", "software"),
    (r"users", "users"),
)


def route_files(paths: Iterable[str]) -> dict[str, list[str]]:
    """{table: [paths]} by directory convention, then filename patterns."""
    out: dict[str, list[str]] = {}
    for p in paths:
        parts = p.split("/")
        table = next((seg for seg in reversed(parts[:-1]) if seg in TABLES), None)
        if table is None:
            name = parts[-1].lower()
            table = next((t for pat, t in FILE_TABLE_PATTERNS
                          if re.search(pat, name)), None)
        if table:
            out.setdefault(table, []).append(p)
    return out


def require_iceberg_catalog(spark: SparkSession, qualifier: str) -> str:
    """Validate that the Iceberg catalog named by ``qualifier``
    (``catalog`` or ``catalog.namespace``) is configured on the session;
    returns the catalog name. The jars + catalog config are deploy-time
    concerns (spark.sql.catalog.<name>=org.apache.iceberg...SparkCatalog);
    this check turns the missing-config case into a clear error instead of
    an opaque analysis failure."""
    cat = qualifier.split(".", 1)[0]
    if spark.conf.get(f"spark.sql.catalog.{cat}", None) is None:
        raise RuntimeError(
            f"Iceberg catalog {cat!r} is not configured: set "
            f"spark.sql.catalog.{cat} (and the iceberg-spark-runtime jar) "
            "on the session, or use fmt='parquet'."
        )
    return cat


def write_table(
    df: DataFrame,
    root: str,
    table: str,
    *,
    mode: str = "append",
    max_records_per_file: int | None = None,
    fmt: str = "parquet",
    sort_by: list[str] | None = None,
) -> str:
    """Write a run table with its declared partitioning; returns the path
    (parquet) or table identifier (iceberg).

    ``fmt="iceberg"`` mirrors the reference's lakehouse writes
    (ingest_neutron_data.py:209-211): ``root`` is then a
    ``catalog.namespace`` qualifier, the table is created from
    ``schemas.table_ddl(..., fmt="iceberg")`` with the reference's
    partition spec if absent, and rows append via the v2 writer. Only the
    catalog config differs from production — the codepath is identical.

    ``sort_by`` range-clusters and sorts rows before writing so parquet
    row-group min/max stats become selective on those columns — a pushed
    time predicate then *skips* row groups instead of scanning them
    (BASELINE.md row 12's premise; the reference assumes ~128 MB row
    groups with stats on pulse_time). Same rows, different layout; the
    skipping only pays off for predicates on the leading sort column.
    """
    _, parts = TABLES[table]
    if sort_by:
        df = df.repartitionByRange(*sort_by).sortWithinPartitions(*sort_by)
    if fmt == "iceberg":
        spark = df.sparkSession
        require_iceberg_catalog(spark, root)
        ident = f"{root}.{table}"
        spark.sql(table_ddl(table, fmt="iceberg", qualifier=root))
        if mode == "overwrite":
            df.writeTo(ident).overwritePartitions()
        else:
            df.writeTo(ident).append()
        return ident
    if fmt == "snapshot":
        # Executed lakehouse semantics without the (absent) Iceberg jars:
        # atomic manifest commits, snapshot isolation, time travel —
        # sources/snapshots.py. Partition-directory pruning is traded
        # for the commit protocol, but `sort_by` columns get manifest
        # min/max stats, so `read_snapshot(prune=...)` recovers
        # directory-level skipping on the clustered keys.
        from nexus_processor_spark.sources import snapshots

        path = f"{root}/{table}"
        snapshots.write_snapshot(
            df, path, mode=mode, stats_cols=tuple(sort_by or ()),
        )
        return path
    if max_records_per_file is None and table == "events":
        max_records_per_file = MAX_EVENTS_PER_FILE
    path = f"{root}/{table}"
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(path)
    return path


def read_table(
    spark: SparkSession, root: str, table: str, *, fmt: str = "parquet"
) -> DataFrame:
    """Read back with the declared schema (partition columns come from the
    directory layout; basePath keeps them when globbing subtrees). With
    ``fmt="iceberg"``, ``root`` is a catalog.namespace qualifier and the
    read goes through the catalog (snapshot isolation, hidden-partition
    pruning come from Iceberg itself)."""
    if fmt == "iceberg":
        require_iceberg_catalog(spark, root)
        return spark.read.table(f"{root}.{table}")
    if fmt == "snapshot":
        from nexus_processor_spark.sources import snapshots

        return snapshots.read_snapshot(spark, f"{root}/{table}")
    return spark.read.option("basePath", f"{root}/{table}").parquet(f"{root}/{table}")


def ingest_routed(
    spark: SparkSession,
    paths: Iterable[str],
    root: str,
    *,
    mode: str = "append",
) -> dict[str, str]:
    """S19+S13: route foreign parquet files to tables and append them.

    One ``spark.read.parquet(*paths)`` per table (implicit union of
    identical schemas) — the multi-file read shape of the reference's
    ingest (ingest_neutron_data.py:202).
    """
    routed = route_files(paths)
    written: dict[str, str] = {}
    for table, files in routed.items():
        df = spark.read.parquet(*files)
        written[table] = write_table(df, root, table, mode=mode)
    return written
