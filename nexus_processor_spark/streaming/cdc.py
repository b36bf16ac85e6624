"""Streaming CDC apply: maintain a snapshot table from a change stream.

Each micro-batch of (key, columns...) change rows MERGEs into a
manifest-committed snapshot table (``sources/snapshots.py``) — the
streaming materialized-upsert table (the lakehouse "apply a CDC feed"
flow; reference S13's table-sink surface generalized to keyed updates):

* **Last-write-wins within a batch**: a batch may carry several changes
  for one key; the row with the highest ``seq_col`` survives (ties and
  the no-``seq_col`` case take an arbitrary stable winner), so the
  table always holds one row per key.
* **Deletes** ride the same stream when ``delete_col`` names a boolean
  column: a winning tombstone removes the key — routed through
  ``upsert_snapshot(delete_keys=...)``, i.e. "replace with nothing"
  inside the same single commit.
* **Directory-level CoW**: changed keys probe the manifest's
  per-directory key ranges; only directories containing a changed key
  rewrite — a trickle of changes against a huge table touches a few
  files per batch, never the table.
* **Exactly-once**: the snapshot commit is pinned to the batch id
  (put-if-absent manifest). A replayed batch finds its manifest and
  skips — the same idempotency contract as ``streaming/curate.py``.
  Batch ids restart with a fresh checkpoint: bind one table directory
  to one checkpoint directory.
* **Compaction**: every ``compact_every`` commits, the batch's commit
  also folds the accumulated directories into one (``mode='upsert'``
  keeps appending a directory per batch otherwise); expiry trims old
  manifests so time travel stays bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nexus_processor_spark.sources import snapshots
from nexus_processor_spark.streaming import replay

COMPACT_EVERY = 16


def _compaction_due(table_path: str, compact_every: int) -> bool:
    """Whether the next commit folds the table into one directory: it
    would otherwise leave ``compact_every`` or more data directories."""
    cur = snapshots.current_version(table_path)
    return cur is not None and len(
        snapshots._read_manifest(table_path, cur)["data_dirs"]
    ) + 1 >= compact_every


def apply_cdc_batch(
    spark: SparkSession,
    table_path: str,
    changes: DataFrame,
    key_col: str,
    *,
    seq_col: str | None = None,
    delete_col: str | None = None,
    stats_cols: tuple[str, ...] = (),
    version: int | None = None,
    compact: bool = False,
) -> int | None:
    """Apply one batch of change rows; returns the committed version
    (None = replayed pinned version, skipped). Cold start (no committed
    snapshot) commits the batch's surviving upserts as the base —
    tombstones for never-seen keys are no-ops.

    ``compact=True`` folds the whole table into one directory WITHIN
    the batch's single commit (full-table merge + overwrite manifest at
    the same pinned version) — compaction must never be a separate
    commit here, because an extra version number would collide with the
    next batch's pinned id and silently swallow that batch as a
    replay."""
    w = Window.partitionBy(key_col).orderBy(
        *([F.col(seq_col).desc()] if seq_col else [F.lit(1)])
    )
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    deletes = None
    if delete_col is not None:
        deletes = latest.filter(
            F.coalesce(F.col(delete_col), F.lit(False))
        ).select(key_col)
        latest = latest.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    if seq_col is not None:
        latest = latest.drop(seq_col)
    keyed_stats = tuple(dict.fromkeys((key_col, *stats_cols)))

    if snapshots.current_version(table_path) is None:
        return snapshots.write_snapshot(
            latest, table_path, mode="overwrite",
            stats_cols=keyed_stats, version=version,
        )
    if compact:
        touched = latest.select(key_col)
        if deletes is not None:
            touched = touched.unionByName(deletes)
        merged = snapshots.read_snapshot(spark, table_path).join(
            touched.distinct(), key_col, "left_anti"
        ).unionByName(latest, allowMissingColumns=True)
        return snapshots.write_snapshot(
            merged, table_path, mode="overwrite",
            stats_cols=keyed_stats, version=version,
        )
    return snapshots.upsert_snapshot(
        spark, table_path, latest, key_col,
        stats_cols=stats_cols, version=version, delete_keys=deletes,
    )


def apply_cdc_stream(
    stream: DataFrame,
    table_path: str,
    key_col: str,
    *,
    checkpoint_dir: str,
    seq_col: str | None = None,
    delete_col: str | None = None,
    stats_cols: tuple[str, ...] = (),
    compact_every: int = COMPACT_EVERY,
):
    """Start the CDC-apply stream; returns the ``StreamingQuery``. Read
    the maintained table with ``snapshots.read_snapshot`` (any time, any
    retained version)."""
    spark = stream.sparkSession

    def _step(batch: DataFrame, batch_id: int) -> None:
        v = apply_cdc_batch(
            spark, table_path, batch, key_col,
            seq_col=seq_col, delete_col=delete_col, stats_cols=stats_cols,
            version=batch_id,
            compact=_compaction_due(table_path, compact_every),
        )
        if v is None:
            return  # replayed batch: table + expiry already settled
        snapshots.expire_snapshots(table_path, keep_last=2)

    return replay.stream_foreach_batch(
        stream, _step, checkpoint=checkpoint_dir)


def maintain_agg_batch(
    spark: SparkSession,
    table_path: str,
    agg_path: str,
    changes: DataFrame,
    key_col: str,
    group_col: str,
    measures: list,
    *,
    seq_col: str | None = None,
    delete_col: str | None = None,
    stats_cols: tuple[str, ...] = (),
    version: int | None = None,
    compact: bool = False,
) -> int | None:
    """Incremental view maintenance: keep a grouped-aggregate snapshot
    table in lockstep with the CDC-maintained base table, recomputing
    ONLY the groups a batch touches (the affected-group strategy —
    exact for every aggregate, including the MIN/MAX/DISTINCT family
    that delta-rule IVM cannot maintain under deletes).

    Per batch: (1) the batch's group values plus the PRE-image groups of
    every changed key (an update can migrate a row between groups, a
    tombstone names no group — both sides must refresh) form the touched
    set, a batch-bounded relation that BROADCASTS; (2) the base batch
    applies through :func:`apply_cdc_batch`; (3) the post-image rows of
    the touched groups — a semi-join the snapshot layout prunes, never a
    full-table aggregate — recompute through ``measures``, MERGE into
    the aggregate table keyed by ``group_col``, and groups left with
    zero rows delete, all in one pinned commit. At 100 TB a trickle of
    changes refreshes a handful of groups; the view never rebuilds.

    Exactly-once across the TWO commits: both pin ``version``. A replay
    that finds both manifests skips; a crash between the commits leaves
    base-committed/agg-missing, and the recovery path rebuilds the agg
    with a FULL recompute at the pinned version (the pre-image needed to
    re-derive the touched set may already be expired — full recompute is
    always correct, and the window is one batch wide).

    ``measures`` are aggregate Columns evaluated under
    ``groupBy(group_col)``; every alias must be stable (they become the
    agg table's schema). NULL group values are not maintained (the
    merge key cannot be null) — map them to a sentinel upstream if the
    domain has them. Returns the committed agg version (None =
    fully-replayed batch).
    """
    cold_base = snapshots.current_version(table_path) is None
    changed_keys = changes.select(key_col).distinct()
    if not cold_base:
        pre_groups = (
            snapshots.read_snapshot(spark, table_path)
            .join(F.broadcast(changed_keys), key_col)
            .select(group_col)
            .distinct()
            .localCheckpoint(eager=True)  # pin the pre-image NOW
        )
    else:
        pre_groups = None

    base_v = apply_cdc_batch(
        spark, table_path, changes, key_col,
        seq_col=seq_col, delete_col=delete_col,
        stats_cols=stats_cols, version=version, compact=compact,
    )
    if base_v is None and snapshots.has_version(agg_path, version):
        return None  # fully replayed batch
    post = snapshots.read_snapshot(spark, table_path)

    agg_cold = snapshots.current_version(agg_path) is None
    if agg_cold or base_v is None:
        # cold start, or crash-recovery (base landed, agg didn't):
        # full recompute is the always-correct form of "touched".
        # NULL groups are excluded here too — the incremental path
        # cannot maintain them (null merge key), so the cold build must
        # not create a row that would silently go stale.
        full = (
            post.filter(F.col(group_col).isNotNull())
            .groupBy(group_col).agg(*measures)
        )
        return snapshots.write_snapshot(
            full, agg_path, mode="overwrite",
            stats_cols=(group_col,), version=version,
        )

    new_groups = changes.select(group_col).distinct()
    touched = (
        new_groups.unionByName(pre_groups).distinct()
        .filter(F.col(group_col).isNotNull())
    )
    recomputed = (
        post.join(F.broadcast(touched), group_col, "semi")
        .groupBy(group_col)
        .agg(*measures)
    )
    vanished = touched.join(recomputed, group_col, "left_anti")
    return snapshots.upsert_snapshot(
        spark, agg_path, recomputed, group_col,
        version=version, delete_keys=vanished,
    )


def maintain_agg_stream(
    stream: DataFrame,
    table_path: str,
    agg_path: str,
    key_col: str,
    group_col: str,
    measures: list,
    *,
    checkpoint_dir: str,
    seq_col: str | None = None,
    delete_col: str | None = None,
    stats_cols: tuple[str, ...] = (),
    compact_every: int = COMPACT_EVERY,
):
    """Streaming IVM: every micro-batch of changes flows through
    :func:`maintain_agg_batch` (base apply + touched-group refresh, both
    commits pinned to the batch id). Read the live aggregate any time
    with ``snapshots.read_snapshot(spark, agg_path)``."""
    spark = stream.sparkSession

    def _step(batch: DataFrame, batch_id: int) -> None:
        v = maintain_agg_batch(
            spark, table_path, agg_path, batch, key_col, group_col,
            measures, seq_col=seq_col, delete_col=delete_col,
            stats_cols=stats_cols, version=batch_id,
            compact=_compaction_due(table_path, compact_every),
        )
        if v is None:
            return
        snapshots.expire_snapshots(table_path, keep_last=2)
        snapshots.expire_snapshots(agg_path, keep_last=2)

    return replay.stream_foreach_batch(
        stream, _step, checkpoint=checkpoint_dir)


def extract_changes(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    *,
    compare_cols: list[str] | None = None,
    delete_col: str = "deleted",
) -> DataFrame:
    """CDC extraction — the inverse of :func:`apply_cdc_batch`: the
    minimal change batch that transforms snapshot ``old`` into ``new``
    (``apply_cdc_batch(table_at_old, extract_changes(old, new, k)) ==
    new``, round-trip test-pinned). How a backfill replays a table that
    never had a change feed, or two divergent replicas reconcile.

    One full-outer join on the key: keys only in ``new`` or with any
    null-safe-unequal compared column emit an upsert row carrying the
    new values; keys only in ``old`` emit a tombstone (values null,
    ``delete_col`` true); identical keys emit NOTHING — the batch is
    proportional to the drift, not the table.
    """
    cols = compare_cols if compare_cols is not None else [
        c for c in old.columns if c in new.columns and c != key_col
    ]
    o = old.select(
        key_col,
        F.struct(*[F.col(c) for c in cols]).alias("_ov"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        key_col,
        F.struct(*[F.col(c) for c in cols]).alias("_nv"),
        F.lit(True).alias("_in_new"),
    )
    # The upsert and tombstone conditions are mutually exclusive, so
    # ONE filter + conditional projection emits both row kinds from a
    # single pass over the join — the former upserts/deletes union
    # consumed the full-outer join twice, re-scanning and re-joining
    # BOTH snapshots per branch (4 scans in the declared
    # orders_cdc_extract query's before-plan; 2 after).
    j = o.join(n, key_col, "full_outer")
    in_new = F.col("_in_new").isNotNull()
    changed = F.col("_in_old").isNull() | ~F.col("_ov").eqNullSafe(
        F.col("_nv"))
    new_types = dict(new.dtypes)
    return j.filter((in_new & changed) | ~in_new).select(
        key_col,
        *[F.when(in_new, F.col(f"_nv.{c}"))
          .otherwise(F.lit(None).cast(new_types[c])).alias(c)
          for c in cols],
        (~in_new).alias(delete_col),
    )
