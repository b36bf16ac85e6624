"""Streaming sketch maintenance: drained state == batch-built sketch."""

from __future__ import annotations

import json

from nexus_processor_spark.operators import sketch as sk
from nexus_processor_spark.sources import catalog, nexus
from nexus_processor_spark.sources.snapshots import read_snapshot as read_state
from nexus_processor_spark.streaming import replay
from nexus_processor_spark.streaming.sketches import (
    apply_state_batch,
    maintain_cms_stream,
    maintain_hll_stream,
)
from tests.test_nexus_ingest import fixture_tree


def _lake(spark, tmp_path) -> str:
    p = tmp_path / "run.json"
    p.write_text(json.dumps(fixture_tree()))
    df = nexus.ingest_table(spark, [str(p)], "events")
    root = str(tmp_path / "lake")
    catalog.write_table(df, root, "events")
    return root


def test_hll_stream_state_equals_batch_registers(spark, tmp_path):
    root = _lake(spark, tmp_path)
    stream = replay.read_events_stream(spark, root, max_files_per_trigger=1)
    state = str(tmp_path / "hll_state")
    q = maintain_hll_stream(
        stream, "event_id", state,
        checkpoint_dir=str(tmp_path / "ckpt"), by="bank",
    )
    q.awaitTermination(60)
    got = sorted(map(tuple, read_state(spark, state).collect()))
    batch = catalog.read_table(spark, root, "events")
    want = sorted(map(tuple, sk.hll_registers(batch, "event_id", by="bank").collect()))
    assert got == want

    # restart on the same checkpoint: no new data, state unchanged
    q2 = maintain_hll_stream(
        replay.read_events_stream(spark, root, max_files_per_trigger=1),
        "event_id", state, checkpoint_dir=str(tmp_path / "ckpt"), by="bank",
    )
    q2.awaitTermination(60)
    assert sorted(map(tuple, read_state(spark, state).collect())) == want


def test_cms_stream_state_equals_batch_build(spark, tmp_path):
    root = _lake(spark, tmp_path)
    stream = replay.read_events_stream(spark, root, max_files_per_trigger=1)
    state = str(tmp_path / "cms_state")
    q = maintain_cms_stream(
        stream, "bank", state,
        checkpoint_dir=str(tmp_path / "ckpt2"), width=64, depth=2,
    )
    q.awaitTermination(60)
    got = sorted(map(tuple, read_state(spark, state).collect()))
    batch = catalog.read_table(spark, root, "events")
    want = sorted(map(tuple, sk.cms_build(batch, "bank", width=64, depth=2).collect()))
    assert got == want


def test_replayed_batch_is_skipped_not_double_merged(spark, tmp_path):
    """The versioned store makes sum-merges exactly-once: re-applying
    the SAME batch id is a no-op; a new id merges."""
    from nexus_processor_spark.operators.sketch import cms_build, cms_merge

    state = str(tmp_path / "state")
    items = spark.createDataFrame([("a",), ("a",), ("b",)], "key string")
    delta = cms_build(items, "key", width=16, depth=2)
    assert apply_state_batch(spark, state, 0, delta, cms_merge) is True
    v0 = sorted(map(tuple, read_state(spark, state).collect()))
    # at-least-once redelivery of batch 0: counts must NOT double
    assert apply_state_batch(spark, state, 0, delta, cms_merge) is False
    assert sorted(map(tuple, read_state(spark, state).collect())) == v0
    # a genuinely new batch merges (sums add)
    assert apply_state_batch(spark, state, 1, delta, cms_merge) is True
    doubled = sorted(map(tuple, read_state(spark, state).collect()))
    assert doubled == sorted((d, b, 2 * n) for d, b, n in v0)


def test_old_versions_pruned_but_previous_kept(spark, tmp_path):
    from nexus_processor_spark.operators.sketch import cms_build, cms_merge
    from nexus_processor_spark.sources.snapshots import _versions

    state = str(tmp_path / "state")
    items = spark.createDataFrame([("x",)], "key string")
    delta = cms_build(items, "key", width=8, depth=1)
    for bid in range(4):
        apply_state_batch(spark, state, bid, delta, cms_merge)
    assert _versions(state) == [2, 3]  # last two kept


def test_read_state_time_travel(spark, tmp_path):
    import pytest

    from nexus_processor_spark.operators.sketch import cms_build, cms_merge

    state = str(tmp_path / "state")
    items = spark.createDataFrame([("x",)], "key string")
    delta = cms_build(items, "key", width=8, depth=1)
    for bid in range(3):
        apply_state_batch(spark, state, bid, delta, cms_merge)
    [(d, b, n2)] = read_state(spark, state, version=1).collect()
    [(_, _, n3)] = read_state(spark, state, version=2).collect()
    assert (n2, n3) == (2, 3)
    with pytest.raises(FileNotFoundError):
        read_state(spark, state, version=0)  # pruned


def test_failed_merge_keeps_previous_version_and_retry_applies_once(
        spark, tmp_path):
    """Crash safety: a merge that fails mid-write publishes nothing —
    readers keep the previous version — and the retried batch adds its
    counts exactly once (the failed attempt's files stay invisible)."""
    import pytest
    from pyspark.sql import functions as F

    from nexus_processor_spark.operators.sketch import cms_build, cms_merge

    state = str(tmp_path / "state")
    items = spark.createDataFrame([("a",), ("a",), ("b",)], "key string")
    delta = cms_build(items, "key", width=16, depth=2)
    assert apply_state_batch(spark, state, 0, delta, cms_merge) is True
    v0 = sorted(map(tuple, read_state(spark, state).collect()))

    def failing_merge(cur, new):
        merged = cms_merge(cur, new)
        return merged.withColumn("n", F.when(
            F.col("d") == 1, F.raise_error(F.lit("injected merge fault"))
        ).otherwise(F.col("n")))

    with pytest.raises(Exception, match="injected merge fault"):
        apply_state_batch(spark, state, 1, delta, failing_merge)
    assert sorted(map(tuple, read_state(spark, state).collect())) == v0

    assert apply_state_batch(spark, state, 1, delta, cms_merge) is True
    doubled = sorted(map(tuple, read_state(spark, state).collect()))
    assert doubled == sorted((d, b, 2 * n) for d, b, n in v0)
