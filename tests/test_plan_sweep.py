"""Whole-registry physical-plan hygiene sweep.

Every registered query's executed plan is checked for the three
scale-killers: CartesianProduct (unbounded pair space),
BatchEvalPython (row-at-a-time Python UDF on a hot path), and
unexpected BroadcastNestedLoopJoin. BNLJ is allowed only for the
queries that deliberately attach a BOUNDED broadcast relation — a
1-row scalar (corpus totals, quantile thresholds, time bounds), a
k-row centroid/codebook table, or a fixed band list — where a nested
loop over a handful of build rows is the correct plan.
"""

from __future__ import annotations

import pytest

from nexus_processor_spark import queries as registry

SF = "/root/testdata/sf0.001"

# Each of these broadcasts a bounded relation by construction:
#   1-row scalars: global_sales, mix_temperature, price_quantile_histogram,
#     quality_orders, quality_quantile, source_divergence, tfidf_top_terms,
#     timeslice_range, bm25_search (corpus stats), important_parts (totals)
#   k-row centroids/codebooks: kmeans_assign, kmeans_fit, pq_encode,
#     pq_topk, ivf_pq_topk, semantic_dedup, sim_brute_topk (query side),
#     sim_ivf_recall, text_semantic_topk
#   fixed band list: range_join_bands
#   bounded short-string block: edit_dist_pairs (partners of len <= 2k)
BNLJ_ALLOWED = {
    # one-row broadcast quantile threshold crossJoin (same shape as
    # quality_quantile / quantile_filter): build side is a 1-row agg
    "curate_quality_audit",
    "edit_dist_pairs",
    # hybrid_rrf inherits both legs' bounded broadcasts: bm25's 1-row
    # corpus stats and the single-probe query vector (sim_brute_topk)
    "hybrid_rrf",
    # anchor-side broadcast (vec_id < N_QUERIES, 5 rows) — same shape
    # as sim_brute_topk
    "hard_negatives",
    # benchmark-side broadcast (vec_id < BENCH_N, 20 rows — an eval
    # suite is never data-scale); corpus side streams map-side
    "decontaminate_semantic",
    # candidate fetch is brute_force_topk (query-side broadcast, same
    # shape as sim_brute_topk); the MMR kernel itself is applyInPandas
    "sim_mmr_topk",
    # broadcast centroid relation (k rows) for the query-side probe
    # distance — the corpus side joins on cell with a hash join
    "sim_ivf_multiprobe",
    # same probe-selection crossJoin (queries x 64 centroids) as
    # sim_ivf_multiprobe; the packed candidate scan is map-only and
    # the re-rank joins are broadcast hash joins
    "ivf_int8_rerank_topk",
    # quantized query side broadcast (vec_id < N_QUERIES, 5 rows) —
    # same shape as sim_brute_topk
    "sim_int8_topk",
    "bm25_search", "global_sales", "important_parts", "ivf_pq_topk",
    "kmeans_assign", "kmeans_fit", "kmv_set_ops", "mix_temperature", "pq_encode",
    "pq_topk", "price_quantile_histogram", "quality_orders",
    "quality_quantile", "range_join_bands", "semantic_dedup",
    "sim_brute_topk", "sim_ivf_recall", "source_divergence",
    "text_semantic_topk", "tfidf_top_terms", "timeslice_range",
    # 1-row corpus/target token totals (DSIR smoothing denominators)
    "dsir_weights", "dsir_select", "dsir_weights_hidim",
    # three 1-row count aggregates crossJoined into the metrics row
    "neardup_eval",
    # query-side broadcast on both the truncated and full-dim brute
    # scans — same shape as sim_brute_topk
    "matryoshka_recall",
    # 1-row total-occurrences broadcast onto the k-row head
    "token_coverage",
}

# Unpartitioned WindowExec collapses its input onto ONE task — fatal on a
# fact table at scale (the reference's own W1 hazard). It is acceptable
# ONLY over a relation that is bounded by construction. Every entry here
# was audited against its physical plan:
WINDOW_ALLOWED = {
    # cumulative-offset window of the two-phase distributed scan
    # (operators/prefix.py): runs over the BUCKET table (|grid buckets|
    # rows), never the fact rows
    "pulse_index_window": "prefix bucket offsets (hour grid)",
    "session_concurrency": "prefix bucket offsets (sweep-line grid)",
    "pack_sequences": "prefix bucket offsets (doc-id grid)",
    "bpe_packed": "prefix bucket offsets (doc-id grid, via pack_sequences)",
    # rank over an m-row pre-limited head (TakeOrdered cuts each leg
    # to top_m before the window; rrf_fuse docstring)
    "hybrid_rrf": "leg ranks over pre-limited top-m heads",
    # final k-selection over per-partition-prefiltered candidates
    # (<= numPartitions * k rows, sketch.py _k_smallest)
    "kmv_distinct_tokens": "KMV final k-smallest over bounded candidates",
    "kmv_set_ops": "KMV k-smallest + estimate over <= 2k sketch rows",
    "top_supplier": "rank()=1 with PARTIAL WindowGroupLimit: final window "
                    "sees <= numPartitions rows (plan-pinned in "
                    "test_plans.py)",
    # windows over grouped/grid aggregates bounded by the domain, not
    # data volume
    "moving_avg_revenue": "daily-revenue grid (calendar-bounded)",
    "yearly_revenue_share": "per-year aggregate (calendar-bounded)",
    "source_mix": "per-source aggregate (|sources| rows)",
    "pareto_parts": "skyline flags over distinct (brand,size) groups",
    # window over a pre-limited head
    "tokens_encoded": "vocab rank over .limit(VOCAB_SIZE) head",
    "dsir_select": "rank over the .limit(k) TakeOrdered head",
    "token_coverage": "running sum over the .limit(k) vocab head",
    # token totals derived from the per-bucket counts via a whole-frame
    # sum over the spark.range(dim)-joined table: <= dim (8192 max)
    # rows by construction, replaces two full corpus count passes
    # (pipeline.dsir_logweights in-body comment)
    "dsir_weights": "total-token sums over the dim-row bucket table",
    "dsir_weights_hidim": "total-token sums over the dim-row bucket table",
}


def _collect_unpartitioned_windows(plan) -> list[str]:
    """Walk a physical plan via py4j; return descriptions of WindowExec /
    WindowGroupLimitExec nodes whose partitionSpec is empty."""
    hits: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowGroupLimitExec") and \
                node.partitionSpec().isEmpty():
            hits.append(node.simpleString(200))
        if cls == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
            return
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(plan)
    return hits


def test_no_session_conf_mutation_in_registry_queries():
    """Registry queries must not flip session-wide conf (a query that
    mutates global state surprises co-tenant queries). Session-level
    knobs belong in session.DEFAULT_CONFS."""
    from pathlib import Path

    qdir = Path(__file__).resolve().parent.parent / \
        "nexus_processor_spark" / "queries"
    offenders = [
        f"{p.name}:{i + 1}"
        for p in sorted(qdir.glob("*.py"))
        for i, line in enumerate(p.read_text().splitlines())
        if "conf.set" in line
    ]
    assert not offenders, f"session conf mutation in queries: {offenders}"


def _assert_no_plan_antipatterns(spark, names) -> None:
    qs = registry.queries()
    cartesian, py_udf, bnlj_new, win_new, errors = [], [], [], [], []
    for name in sorted(names):
        try:
            exec_plan = qs[name](spark, SF)._jdf.queryExecution().executedPlan()
            plan = exec_plan.toString()
        except Exception as e:  # a query failing to PLAN is itself a bug
            errors.append((name, str(e)[:120]))
            continue
        if "CartesianProduct" in plan:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            py_udf.append(name)
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            bnlj_new.append(name)
        if name not in WINDOW_ALLOWED:
            hits = _collect_unpartitioned_windows(exec_plan)
            if hits:
                win_new.append((name, hits[0][:120]))
    assert not errors, errors
    assert not cartesian, f"cartesian products: {cartesian}"
    assert not py_udf, f"row-at-a-time Python UDFs: {py_udf}"
    assert not bnlj_new, (
        f"new BroadcastNestedLoopJoin in {bnlj_new}: if the build side is "
        "a bounded scalar/centroid/band relation, add to BNLJ_ALLOWED "
        "with a justification; otherwise fix the join"
    )
    assert not win_new, (
        f"new unpartitioned WindowExec in {win_new}: if the window input "
        "is bounded by construction (bucket/group table, pre-limited "
        "head), add to WINDOW_ALLOWED with a justification; otherwise "
        "use the two-phase pattern in operators/prefix.py"
    )


def test_no_plan_antipatterns_in_headline(spark):
    """The cheap default-gate guard: the bench headline's plans only."""
    import bench

    _assert_no_plan_antipatterns(spark, bench.HEADLINE)


@pytest.mark.slow
def test_no_plan_antipatterns_across_registry(spark):
    _assert_no_plan_antipatterns(spark, registry.queries())
