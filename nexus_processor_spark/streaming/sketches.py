"""Streaming maintenance of mergeable state (HLL / CMS / KMV / rollups).

The sketch operators (operators/sketch.py) are algebraic: build on a
batch, merge with the stored state, publish. Streams keep bounded-size
distinct/frequency state with per-batch cost O(batch + sketch size) —
no growing keyed state store, no watermark tuning: the sketch IS the
state, bounded by construction.

## State is a snapshot table (exactly-once for non-idempotent merges)

The state at ``state_path`` is a manifest-committed snapshot table
(``sources/snapshots.py``), so it is local-filesystem only, like every
snapshot table. Each micro-batch writes ``merge(current, delta)`` as an
overwrite commit PINNED to the foreachBatch batch id: the data lands in
a fresh directory and becomes visible only when ``manifest.<batch_id>``
is published put-if-absent. That makes every failure mode safe:

* crash mid-write: no manifest is published, readers and the retry
  both see the intact previous version, and the half-written directory
  stays invisible;
* crash after the commit but before the checkpoint commits: the
  replayed batch finds its version already published and skips the
  merge — so sum-merges (CMS, rollup counts) apply exactly once, not
  just at-least-once (a naive overwrite sink would double them);
* readers only ever see a committed version.

Read the state with ``snapshots.read_snapshot(spark, state_path)``;
``version=`` time-travels to a retained batch id. The state directory
is bound to its checkpoint (batch ids restart with a fresh checkpoint —
point a new checkpoint at a new state dir, same rule as any stateful
sink). Each commit expires all but the last two versions, so a
concurrent reader of the previous version never loses its files
mid-scan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from nexus_processor_spark.operators import sketch as sk
from nexus_processor_spark.sources import snapshots
from nexus_processor_spark.streaming import replay


def apply_state_batch(
    spark: SparkSession,
    state_path: str,
    batch_id: int,
    delta: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> bool:
    """Apply one batch's delta to the state as the snapshot version
    ``batch_id``. Returns False when that version is already committed
    (a replayed batch): the merge is SKIPPED, which is what makes
    non-idempotent merges (sums) exactly-once under foreachBatch's
    at-least-once redelivery."""
    merged = (
        merge(snapshots.read_snapshot(spark, state_path), delta)
        if snapshots.current_version(state_path) is not None else delta
    )
    if snapshots.write_snapshot(
        merged, state_path, mode="overwrite", version=batch_id
    ) is None:
        return False
    snapshots.expire_snapshots(state_path, keep_last=2)
    return True


def maintain_sketch_stream(
    stream: DataFrame,
    state_path: str,
    *,
    checkpoint_dir: str,
    build: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
):
    """Generic mergeable-state maintenance: per micro-batch, ``build``
    the batch's state delta, ``merge`` with the current version, commit
    as version ``batch_id`` (see the module docstring for the
    exactly-once argument). Returns the started ``StreamingQuery``;
    read results with ``snapshots.read_snapshot``."""
    spark = stream.sparkSession

    def _step(batch: DataFrame, batch_id: int) -> None:
        apply_state_batch(
            spark, state_path, batch_id, build(batch), merge
        )

    return replay.stream_foreach_batch(
        stream, _step, checkpoint=checkpoint_dir)


def maintain_hll_stream(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    *,
    checkpoint_dir: str,
    by: str | None = None,
):
    """Streaming distinct-count state: HLL registers maintained by
    register-wise max. Drained state == batch registers over all data."""
    return maintain_sketch_stream(
        stream, state_path,
        checkpoint_dir=checkpoint_dir,
        build=lambda b: sk.hll_registers(b, key_col, by=by),
        merge=lambda cur, new: sk.hll_merge(cur, new),
    )


def maintain_cms_stream(
    stream: DataFrame,
    key_col: str,
    state_path: str,
    *,
    checkpoint_dir: str,
    width: int = 8192,
    depth: int = 4,
):
    """Streaming frequency state: CMS bucket counts maintained by sum —
    the non-idempotent merge the pinned commit exists for (a replayed
    batch must NOT re-add its counts; the version check guarantees it)."""
    return maintain_sketch_stream(
        stream, state_path,
        checkpoint_dir=checkpoint_dir,
        build=lambda b: sk.cms_build(b, key_col, width=width, depth=depth),
        merge=lambda cur, new: sk.cms_merge(cur, new),
    )
