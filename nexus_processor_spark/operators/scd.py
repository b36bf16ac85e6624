"""Slowly-changing-dimension (Type 2) history tables.

The warehouse pattern the reference's run-metadata tables imply but
never materialize (a run's sample/instrument attributes change between
re-processings; src/nexus_processor/parquet.py keeps only the latest):
every attribute change appends a VERSIONED row with a validity
interval, so any past state is queryable with
``valid_from <= t < valid_to``.

Design for scale: both builders are pure DataFrame plans — one window
partitioned by the dimension key (never unpartitioned), one shuffle.
Consecutive versions with identical attributes collapse (a re-emitted
unchanged record is not a new version), per-attribute null-safe
comparison against the previous version.

``scd2_history`` builds the dimension from a complete change log;
``scd2_apply`` advances an existing history with one change batch and
is test-pinned to agree with ``scd2_history`` over the concatenated
log (stream/batch parity), so a micro-batch pipeline and a backfill
produce the same table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _attr_cols(df: DataFrame, key_col: str, seq_col: str,
               attr_cols: list[str] | None) -> list[str]:
    if attr_cols is not None:
        return list(attr_cols)
    return [c for c in df.columns if c not in (key_col, seq_col)]


def scd2_history(
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    *,
    attr_cols: list[str] | None = None,
) -> DataFrame:
    """Build the full Type-2 dimension from a change log.

    Per key, versions order by ``seq_col``; a row whose attributes are
    null-safe-equal to its predecessor is dropped (no new version);
    surviving rows get ``valid_from = seq``, ``valid_to`` = the NEXT
    surviving version's seq (null for the current one), ``is_current``.
    Ties on (key, seq) are broken arbitrarily upstream — feed a
    deduplicated log.

    Output: ``key_col``, attrs..., valid_from, valid_to, is_current.
    """
    attrs = _attr_cols(changes, key_col, seq_col, attr_cols)
    w = Window.partitionBy(key_col).orderBy(seq_col)
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    kept = (
        changes.withColumn(
            "_keep",
            F.lag(seq_col).over(w).isNull() | changed,
        )
        .filter(F.col("_keep"))
        .drop("_keep")
    )
    w2 = Window.partitionBy(key_col).orderBy(seq_col)
    return kept.select(
        key_col,
        *attrs,
        F.col(seq_col).cast("long").alias("valid_from"),
        F.lead(F.col(seq_col).cast("long")).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


def scd2_apply(
    history: DataFrame | None,
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    *,
    attr_cols: list[str] | None = None,
) -> DataFrame:
    """Advance a Type-2 history with one change batch.

    The open (``is_current``) rows re-enter the builder as pseudo-log
    entries at their own ``valid_from`` alongside the batch, so
    "batch's first version equals the open version" collapses by the
    SAME rule as any consecutive duplicate — by construction this
    agrees with :func:`scd2_history` over the concatenated log
    (test-pinned parity). Closed rows pass through untouched. Batch
    seqs must be strictly greater than every open row's ``valid_from``
    (monotonic CDC feed).

    100 TB shape: closed history never rewrites or shuffles — only the
    open slice (one row per live key) and the batch enter the window.
    """
    attrs = _attr_cols(changes, key_col, seq_col, attr_cols)
    if history is None:
        return scd2_history(
            changes, key_col, seq_col, attr_cols=attrs
        )
    closed = history.filter(~F.col("is_current"))
    open_as_log = history.filter(F.col("is_current")).select(
        key_col, *attrs, F.col("valid_from").alias(seq_col)
    )
    log = open_as_log.unionByName(
        changes.select(key_col, *attrs, seq_col)
    )
    return closed.unionByName(
        scd2_history(log, key_col, seq_col, attr_cols=attrs)
    )


def scd2_as_of(
    history: DataFrame,
    at_seq: int,
) -> DataFrame:
    """The dimension as of sequence point ``at_seq``: rows with
    ``valid_from <= at_seq < valid_to`` (open-ended current rows
    included). A filter, not a join — partition pruning applies when
    the history is stored partitioned/sorted by validity."""
    return history.filter(
        (F.col("valid_from") <= F.lit(at_seq))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(at_seq)))
    ).drop("is_current")


def scd2_apply_batch(
    spark,
    hist_path: str,
    changes: DataFrame,
    key_col: str,
    seq_col: str,
    *,
    attr_cols: list[str] | None = None,
    version: int | None = None,
) -> int | None:
    """Advance an SCD2 history persisted as a manifest-committed
    snapshot table (sources/snapshots.py) by one change batch.

    Only the TOUCHED keys' history rows rewrite: the batch's keys
    broadcast into a semi-join against the stored history, that slice
    re-runs :func:`scd2_apply` with the batch, and the rebuilt per-key
    histories MERGE back via ``upsert_snapshot`` (multi-row-per-key
    updates replace the key's whole — small — version chain; untouched
    keys carry over by directory reference). Per-batch I/O is
    O(touched keys' versions), never O(history): the 100 TB dimension
    never rewrites.

    ``version`` pins the commit for exactly-once streaming replay
    (same contract as cdc.apply_cdc_batch). Returns the committed
    version, or None for a replayed batch.
    """
    from pyspark.sql import functions as F

    from nexus_processor_spark.sources import snapshots

    if version is not None and snapshots.has_version(hist_path, version):
        return None
    attrs = _attr_cols(changes, key_col, seq_col, attr_cols)
    if snapshots.current_version(hist_path) is None:
        return snapshots.write_snapshot(
            scd2_history(changes, key_col, seq_col, attr_cols=attrs),
            hist_path, mode="overwrite", stats_cols=(key_col,),
            version=version,
        )
    keys = changes.select(key_col).distinct()
    touched_hist = snapshots.read_snapshot(spark, hist_path).join(
        F.broadcast(keys), key_col, "semi"
    )
    rebuilt = scd2_apply(
        touched_hist, changes, key_col, seq_col, attr_cols=attrs
    )
    return snapshots.upsert_snapshot(
        spark, hist_path, rebuilt, key_col, version=version,
    )


def scd2_stream(
    stream: DataFrame,
    hist_path: str,
    key_col: str,
    seq_col: str,
    *,
    checkpoint_dir: str,
    attr_cols: list[str] | None = None,
):
    """Streaming SCD2: every micro-batch of change rows advances the
    history table through :func:`scd2_apply_batch` (commit pinned to
    the batch id — replays skip). Read the dimension any time with
    ``snapshots.read_snapshot``; point-in-time via :func:`scd2_as_of`."""
    from nexus_processor_spark.sources import snapshots
    from nexus_processor_spark.streaming import replay

    spark = stream.sparkSession

    def _step(batch: DataFrame, batch_id: int) -> None:
        v = scd2_apply_batch(
            spark, hist_path, batch, key_col, seq_col,
            attr_cols=attr_cols, version=batch_id,
        )
        if v is None:
            return
        snapshots.expire_snapshots(hist_path, keep_last=2)

    return replay.stream_foreach_batch(
        stream, _step, checkpoint=checkpoint_dir)


def temporal_join(
    facts: DataFrame,
    history: DataFrame,
    key_col: str,
    at_col: str,
    *,
    how: str = "inner",
) -> DataFrame:
    """Join facts to the dimension version in effect at each fact's
    time: ``valid_from <= at < valid_to`` (open current rows match
    everything from their valid_from on) — the query an SCD2 table
    exists to answer ("price the order at the terms THEN in force").

    Plan shape: an EQUI join on ``key_col`` carries the shuffle; the
    validity-range predicate rides on top as a post-join filter inside
    the same hash join (never a cross or theta join). Each fact matches
    at most ONE version (validity intervals partition the timeline per
    key by construction), so the join never fans out.
    """
    dim = history.withColumnRenamed(key_col, f"_{key_col}_dim")
    cond = (
        (facts[at_col] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (facts[at_col] < dim["valid_to"]))
    )
    return facts.join(
        dim, (facts[key_col] == dim[f"_{key_col}_dim"]) & cond, how
    ).drop(f"_{key_col}_dim", "is_current")
