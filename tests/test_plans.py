"""Physical-plan hygiene: the properties the 100 TB design depends on.

These pin what ``.explain`` shows, not what the rows say: filters reach
the parquet scan, narrow projections prune the read schema, small dims
broadcast, and compute-heavy operators get real parallelism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from nexus_processor_spark.operators import timeslice
from nexus_processor_spark.plans import explain
from nexus_processor_spark.queries import relational_q, timeslice_q

SF = "/root/testdata/sf0.001"


def test_filter_reaches_parquet_scan(spark):
    df = relational_q.q_filter_project(spark, SF)
    assert explain.has_pushed_filter(df, "l_quantity")
    assert explain.has_pushed_filter(df, "l_shipdate")


def test_narrow_projection_prunes_columns(spark):
    df = timeslice_q.q_timeslice_interval(spark, SF)
    cols = explain.scan_columns(df)
    # 3 of 6 event columns needed; props/value/event_id must not be read
    assert set(cols) == {"ts", "event_type", "user_id"}


def test_small_dims_broadcast(spark):
    assert explain.broadcast_join_count(relational_q.q_segment_totals(spark, SF)) >= 1
    assert explain.broadcast_join_count(relational_q.q_region_revenue(spark, SF)) >= 2


def test_semi_anti_stay_joins_not_subquery_loops(spark):
    plan = explain.executed_plan(relational_q.q_semi_join(spark, SF))
    assert "LeftSemi" in plan
    plan = explain.executed_plan(relational_q.q_anti_join(spark, SF))
    assert "LeftAnti" in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval n-gram set must broadcast: the corpus side (the 100 TB
    side) joins map-side and never shuffles on gram — only the per-doc hit
    counts exchange. A shuffled gram join here would be the scale killer."""
    from nexus_processor_spark.queries import pipeline_q

    plan = explain.executed_plan(pipeline_q.q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_quantile_threshold_broadcasts_back(spark):
    """The 1-row quantile aggregate re-joins the corpus as a broadcast
    nested-loop (1-row cross), not a shuffled cartesian."""
    from nexus_processor_spark.queries import pipeline_q

    plan = explain.executed_plan(pipeline_q.q_quality_quantile(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_antijoin_on_hashes(spark):
    """The corpus reduces to distinct hashes before the anti-join, so the
    exchange carries 32-char hashes, not documents."""
    from nexus_processor_spark.queries import pipeline_q

    plan = explain.executed_plan(pipeline_q.q_dedup_incremental(spark, SF))
    assert "LeftAnti" in plan
    assert "HashAggregate" in plan  # the distinct() on the corpus side


def test_simhash_pairs_has_no_cross_join(spark):
    """Banded simhash candidates are an equi-join on (band, bitfield);
    nothing in the plan may degenerate to the n² pair space."""
    from nexus_processor_spark.queries import dedup_q

    plan = explain.executed_plan(dedup_q.q_dedup_simhash_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_wide_pairs_has_no_cross_join(spark):
    """The 60-bit banded path must stay an equi-join like the 16-bit one,
    and its signature aggregate must partial-combine map-side (explode
    rows never cross the exchange raw)."""
    from nexus_processor_spark.queries import dedup_q

    plan = explain.executed_plan(dedup_q.q_dedup_simhash_wide_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    plan_sig = explain.executed_plan(dedup_q.q_dedup_simhash_wide(spark, SF))
    assert "partial_sum" in plan_sig


def test_ngram_jaccard_block_fanout_bounded(spark):
    """The (lang, source) self-join only sees blocks below the cap: the
    window count filter precedes the join, so a quasi-global block at
    corpus scale is dropped, not exploded."""
    from nexus_processor_spark.queries import dedup_q

    plan = explain.executed_plan(dedup_q.q_dedup_ngram_jaccard(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the bounding window count over the block key is in the plan
    assert plan.count("windowspecdefinition") >= 1 or "Window" in plan


def test_interval_distincts_use_bitmaps_not_expand(spark):
    """The data-scale pulse distinct must go through packed-word bitmap
    aggregates (codegen ``bit_or`` over 64-bit words) — a multi-distinct
    Expand plan (input x 3 rows through the shuffle) is the 100 TB killer
    this replaced, and Spark's bitmap_construct_agg is the object-agg
    slow path this replaced in turn (1.8x at 100M rows)."""
    df = timeslice_q.q_timeslice_interval(spark, SF)
    plan = explain.executed_plan(df)
    assert "bit_or" in plan
    assert "bit_count" in plan
    assert "Expand" not in plan
    # whole plan stays codegen: no ObjectHashAggregate anywhere
    assert "ObjectHashAggregate" not in plan


def test_bitmap_distinct_word_agg_runs_in_stage(spark):
    """The word aggregation must consume the repartition exchange
    directly: exactly one full-width exchange (the skinny repartition),
    with the (group, spread, word) groupBy satisfied in-stage by it.
    A second exchange of fact-grain rows would double the shuffle."""
    from nexus_processor_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events")
    out = timeslice.bitmap_distinct(
        ev.select(F.col("user_id").alias("pulse_index")), [],
        "pulse_index", "n")
    plan = explain.executed_plan(out)
    # exchanges: 1 repartition (hashpartitioning on _sp) + 1 tiny final
    # single-partition exchange for the global sum — nothing fact-grain
    # beyond the repartition itself.
    assert plan.count("Exchange hashpartitioning") == 1


def test_push_time_range_reaches_parquet_scan(spark):
    """The RANGE predicate itself must appear in PushedFilters (not just
    the IsNotNull Spark derives from it) — the derived-seconds filter
    never pushes down, which at 100 TB is the difference between skipping
    and scanning row groups. Exercised on the raw stored encoding, since
    a filter over the normalized (projected) column can only be a
    DataFilter."""
    from nexus_processor_spark.operators import timeslice
    from nexus_processor_spark.sources.tables import load_table

    ev = load_table(spark, SF, "events", normalize_time=False)
    pushed = timeslice.push_time_range(ev, 1704844800.0, 1705708800.0)
    assert explain.has_pushed_filter(pushed, "GreaterThanOrEqual(ts")
    assert explain.has_pushed_filter(pushed, "LessThan(ts")


def test_load_events_time_range_pushes_and_normalizes(spark):
    """The composed range loader keeps the pushed predicate AND delivers
    the long-ns contract, whatever the file's ts encoding."""
    from pyspark.sql.types import LongType

    from nexus_processor_spark.sources.tables import load_events_time_range

    df = load_events_time_range(spark, SF, 1704844800.0, 1705708800.0)
    assert isinstance(df.schema["ts"].dataType, LongType)
    assert explain.has_pushed_filter(df, "GreaterThanOrEqual(ts")


def test_bitmap_rollup_object_agg_stays_hash_based(spark):
    """The bitmap-distinct branch groups at (interval, bucket) grain —
    thousands of groups. ObjectHashAggregateExec silently falls back to
    SORT-based aggregation at 128 distinct groups per task (then sorts
    the whole fact input); the session default raises the threshold so
    bitmap rollups aggregate by hash (measured 15% on the 100M rollup)."""
    assert int(spark.conf.get(
        "spark.sql.execution.objectHashAggregate.sortBased.fallbackThreshold"
    )) >= 262144


def test_volume_shipping_broadcasts_dims_and_supplier(spark):
    """Q7 shape: both nation roles and the supplier side broadcast; the
    only exchanges are the lineitem->orders->customer key chain."""
    df = relational_q.q_volume_shipping(spark, SF)
    assert explain.broadcast_join_count(df) >= 3
    assert "CartesianProduct" not in explain.executed_plan(df)


def test_top_supplier_scans_lineitem_once(spark):
    """Q15's scalar max subquery is decorrelated into rank()=1 over the
    per-supplier aggregate — lineitem must be scanned once (not once per
    side of a self-join or scalar branch), and the rank filter must plan
    a PARTIAL WindowGroupLimit so the final unpartitioned window sees
    only per-task top rows, not the whole supplier dimension."""
    plan = explain.executed_plan(relational_q.q_top_supplier(spark, SF))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert "Partial" in plan and "WindowGroupLimit" in plan


def test_waiting_suppliers_stays_in_equi_joins(spark):
    """Q21's EXISTS/NOT EXISTS pair decorrelates to one per-order
    aggregate + equi-joins; nothing may degenerate to a nested-loop."""
    plan = explain.executed_plan(relational_q.q_waiting_suppliers(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_sales_scalar_and_anti_join(spark):
    """Q22: the 1-row threshold joins as a broadcast nested loop (fine —
    one row), the NOT EXISTS as a LeftAnti equi-join (never a loop)."""
    plan = explain.executed_plan(relational_q.q_global_sales(spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_range_frame_is_range_not_rows(spark):
    """The trailing-30-day window must compile to a RangeFrame; a RowFrame
    here would be tie-order-dependent and semantically wrong."""
    plan = explain.executed_plan(relational_q.q_range_frame_rolling(spark, SF))
    assert "RangeFrame" in plan


def test_agg_is_partial_then_final_hash(spark):
    """One shuffle total: map-side partial aggregation combines before the
    exchange, the final hash agg after — the plan that holds at 100 TB.
    (WholeStageCodegen spans only appear in executed AQE plans, so assert
    the structure, not the codegen markers.)"""
    plan = explain.executed_plan(relational_q.q_pricing_summary(spark, SF))
    assert "partial_sum" in plan and "HashAggregate" in plan
    assert plan.count("Exchange") == 1


def test_knn_graph_and_semantic_dedup_avoid_cartesian(spark):
    """Cell blocking must reach the physical plan: the pair stages join
    on the cell key — a cartesian/nested-loop fallback would mean the n²
    scale-killer the blocking exists to prevent."""
    from nexus_processor_spark.queries.similarity_q import (
        q_knn_graph,
        q_semantic_dedup,
    )

    plan = explain.executed_plan(q_knn_graph(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = explain.executed_plan(q_semantic_dedup(spark, SF))
    assert "CartesianProduct" not in plan
    # the registry serves the Arrow kernel: per-cluster gram matrices run
    # as an applyInPandas stage grouped on the centroid assignment — the
    # pair space never appears as a join at all
    assert "FlatMapGroupsInPandas" in plan


def test_sim_int8_topk_scores_in_the_arrow_kernel(spark):
    """The int8 scan scores through the packed-code candidate kernel:
    no broadcast nested-loop (query x corpus) join and no interpreted
    ``zip_with`` lambda dot anywhere in the plan."""
    from nexus_processor_spark.queries.similarity_q import q_sim_int8_topk

    plan = explain.executed_plan(q_sim_int8_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "zip_with" not in plan and "lambdafunction" not in plan
    assert "MapInPandas" in plan


def test_disjunctive_revenue_stays_hash_join(spark):
    """Q19's OR-of-ANDs predicate: Catalyst must extract the common
    ``l_partkey = p_partkey`` conjunct as the equi-join key and keep the
    disjunction as a filter — a nested-loop fallback over the fact table
    would be the 100 TB scale-killer."""
    plan = explain.executed_plan(relational_q.q_disjunctive_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_important_parts_threshold_broadcasts_back(spark):
    """Q11's decorrelated scalar subquery: the 1-row global-threshold
    aggregate joins back as a 1-row broadcast, never a shuffled join on
    the per-part aggregate (the data-scale side)."""
    plan = explain.executed_plan(relational_q.q_important_parts(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_dominant_suppliers_semi_join_and_broadcast_totals(spark):
    """Q20 decorrelated: per-part totals broadcast onto the per-pair
    aggregate; the supplier gate is a semi-join, not an IN-loop."""
    plan = explain.executed_plan(relational_q.q_dominant_suppliers(spark, SF))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_driver_side_dimension_reads_accept_directory_layout(tmp_path):
    """``_region_nations``/``_all_nations`` read region and nation with
    pyarrow on the driver. A Spark-written table is a DIRECTORY (part
    files plus ``_SUCCESS``), not a single file: both helpers must
    return exactly what the single-file layout returns. A URI
    ``sf_dir`` is not a local path and must raise, never read a
    literal local directory. JVM-free."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    for name in ("region", "nation"):
        t = pq.read_table(f"{SF}/{name}.parquet")
        d = tmp_path / f"{name}.parquet"
        d.mkdir()
        half = t.num_rows // 2
        pq.write_table(t.slice(0, half), d / "part-00000.parquet")
        pq.write_table(t.slice(half), d / "part-00001.parquet")
        (d / "_SUCCESS").touch()
    as_dir = str(tmp_path)
    for region in ("ASIA", "EUROPE", "AMERICA"):
        want = relational_q._region_nations(SF, region)
        assert want  # every TPC-H region has nations
        assert sorted(relational_q._region_nations(as_dir, region)) == \
            sorted(want)
    want = relational_q._all_nations(SF)
    assert len(want) == 25
    assert sorted(relational_q._all_nations(as_dir)) == sorted(want)
    with pytest.raises(pa.ArrowInvalid, match="URI"):
        relational_q._region_nations("s3a://bucket/sf", "ASIA")
    with pytest.raises(pa.ArrowInvalid, match="URI"):
        relational_q._all_nations("s3a://bucket/sf")
