from __future__ import annotations

import io
import json

from pyspark.sql import functions as F

from nexus_processor_spark.plans.layout import spread
from nexus_processor_spark.sources import catalog, nexus
from nexus_processor_spark.streaming import replay

from tests.test_nexus_ingest import fixture_tree


def test_spread_raises_partition_count(spark):
    df = spark.range(1000).coalesce(1)
    assert spread(df).rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # already-wide inputs pass through untouched
    wide = spark.range(1000).repartition(16)
    assert spread(wide, parallelism=8) is wide


def test_event_micros_negative_nanos_consistent(spark):
    """String and Column input paths must agree on pre-1970 nanos: both
    floor toward -inf (-1 ns -> -1 us, not 0)."""
    from nexus_processor_spark.functions.core import event_micros

    df = spark.createDataFrame(
        [(-1,), (-1999,), (1999,), (0,)], "ns long"
    )
    via_str = [r[0] for r in df.select(event_micros("ns")).collect()]
    via_col = [r[0] for r in df.select(event_micros(F.col("ns"))).collect()]
    assert via_str == via_col == [-1, -2, 1, 0]


def test_replay_to_jsonl(spark, tmp_path):
    p = tmp_path / "run.json"
    p.write_text(json.dumps(fixture_tree()))
    df = nexus.ingest_table(spark, [str(p)], "events")
    root = str(tmp_path / "lake")
    catalog.write_table(df, root, "events")
    buf = io.StringIO()
    n = replay.replay_to_jsonl(catalog.read_table(spark, root, "events"), buf)
    lines = [json.loads(x) for x in buf.getvalue().splitlines()]
    assert n == 4 and len(lines) == 4
    assert lines[0]["run_id"] == "REF_L:12345"
    offs = [x["time_offset"] for x in lines]
    assert offs == sorted(offs)  # deterministic replay order
