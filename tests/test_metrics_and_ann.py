from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexus_processor_spark.operators import similarity
from nexus_processor_spark.plans.metrics import with_row_metrics
from nexus_processor_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def test_observe_metrics_single_action(spark):
    ev = load_table(spark, SF, "events")
    df, obs = with_row_metrics(
        ev.filter(F.col("event_type") == "click"),
        "clicks",
        # DISTINCT aggregates are disallowed in observed metrics; the HLL
        # sketch is the observability-grade substitute.
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.min("value").alias("min_value"),
    )
    n = df.count()
    assert obs.get["rows"] == n > 0
    assert 0 < obs.get["approx_users"] <= n
    assert obs.get["min_value"] >= 0


def test_hll_approx_distinct_within_tolerance(spark):
    """approx_count_distinct (HLL++) tracks the exact count within its
    documented rsd — engines implement HLL differently, so this is pinned
    by tolerance against the exact value, not by the oracle."""
    ev = load_table(spark, SF, "events")
    row = ev.agg(
        F.count_distinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).first()
    assert abs(row.approx - row.exact) <= max(3, 0.1 * row.exact)


def test_recall_at_k_counts_overlap_and_keeps_empty_queries(spark):
    from nexus_processor_spark.operators.similarity import recall_at_k

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21), (3, 30), (3, 31)],
        "query_id long, vec_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11),          # perfect
         (2, 20), (2, 99)],         # half right; query 3 absent entirely
        "query_id long, vec_id long",
    )
    got = {r["query_id"]: r["recall"]
           for r in recall_at_k(approx, exact, 2).collect()}
    assert got == {1: 1.0, 2: 0.5, 3: 0.0}


def test_dim_and_subspace_validation(spark):
    """Wrong assumed dimensions fail loudly instead of silently
    degrading: a dim that is not a positive multiple of m raises, and
    PQ encoding never codes a truncated vector — a batch whose dim is
    below m, not a multiple of m, or longer than the codebooks were cut
    for fails."""
    import pytest

    from nexus_processor_spark.operators import similarity, vector_arrow

    def vecs(dim):
        return spark.createDataFrame(
            [(i, [float((i * 7 + j) % 5) for j in range(dim)])
             for i in range(8)],
            "vec_id long, embedding array<double>")

    with pytest.raises(ValueError, match="multiple of m"):
        similarity.pq_codebooks(vecs(4), m=3)
    cb8 = similarity.pq_codebooks(vecs(8), m=8)
    with pytest.raises(Exception, match="vector dim 4 must be a positive "
                                        "multiple of m=8"):
        vector_arrow.pq_encode_arrow(vecs(4), cb8, m=8).collect()
    cb = similarity.pq_codebooks(vecs(8).filter("vec_id < 4"), m=4)
    assert vector_arrow.pq_encode_arrow(vecs(8), cb, 4).count() == 8
    with pytest.raises(Exception, match="vector dim 10 must be a positive "
                                        "multiple of m=4"):
        vector_arrow.pq_encode_arrow(vecs(10), cb, 4).collect()
    with pytest.raises(Exception, match="vector dim 12 does not match"):
        vector_arrow.pq_encode_arrow(vecs(12), cb, 4).collect()


def test_kmeans_parallel_init_string_ids(spark):
    from nexus_processor_spark.operators import similarity

    vecs = spark.createDataFrame(
        [(f"d{i:03d}", [float(i % 5), float(i % 3)]) for i in range(60)],
        "vec_id string, embedding array<double>",
    )
    cents = similarity.kmeans_parallel_init(vecs, 4)
    assert cents.count() == 4


def test_hard_negative_triplets_semantics(spark):
    # 2-dim toy corpus: anchor 0 (label A) has one same-label peer (1),
    # two different-label vectors (2 closer than 3); anchor 10 (label C)
    # has NO same-label peer and must drop; 4/5 share a NULL label and
    # pair null-safely.
    rows = [
        (0, [1.0, 0.0], "A"),
        (1, [0.9, 0.1], "A"),
        (2, [1.0, 0.05], "B"),   # hard negative: nearly parallel to 0
        (3, [0.0, 1.0], "B"),    # easy negative
        (10, [0.5, 0.5], "C"),   # anchor with no positive available
        (4, [0.0, 1.0], None),
        (5, [0.1, 1.0], None),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    out = similarity.hard_negative_triplets(
        emb.filter(F.col("vec_id").isin(0, 10, 4)), emb, neg_k=2
    )
    got = {
        (r.query_id, r.neg_rank): (r.pos_id, r.neg_id)
        for r in out.collect()
    }
    # anchor 0: positive is 1; negatives ranked 2 (cos~0.999) then 10
    # (cos~0.707) — vector 3 is orthogonal and out of the top-2? No:
    # candidates with labels B/C/null are all "different"; order by cos:
    # 2 (0.9988), 10 (0.7071), then 5/3/4. Top-2 = [2, 10].
    assert got[(0, 1)] == (1, 2)
    assert got[(0, 2)] == (1, 10)
    # anchor 10 has no same-label peer: inner join drops it entirely
    assert not any(q == 10 for q, _ in got)
    # anchor 4 (null label): positive is 5 via null-safe equality
    assert got[(4, 1)][0] == 5


def test_semantic_decontaminate_gate_tiebreak_and_zero_norm(spark):
    """Gate at threshold, max-cos with lowest-bench-id tiebreak, and the
    documented zero-norm drop (undefined cosine -> row excluded)."""
    bench = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [(10, [2.0, 0.0]),   # cos 1.0 vs bench 0 AND 1 -> tiebreak id 0
         (11, [1.0, 1.0]),   # cos ~0.7071 vs all three
         (12, [-1.0, -1.0]), # best cos is negative -> clean
         (13, [0.0, 0.0])],  # zero norm -> dropped
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in similarity.semantic_decontaminate(
            corpus, bench, 0.9
        ).collect()
    }
    assert set(out) == {10, 11, 12}  # 13 dropped
    assert out[10].bench_id == 0 and out[10].max_cos == 1.0
    assert out[10].contaminated
    assert abs(out[11].max_cos - 0.707107) < 1e-6
    assert not out[11].contaminated
    assert out[12].max_cos < 0 and not out[12].contaminated


def test_mmr_prefers_diverse_over_redundant(spark):
    """Plain top-2 returns the two near-duplicate high-relevance hits;
    MMR swaps the redundant second hit for the diverse candidate."""
    q = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    corpus = spark.createDataFrame(
        [(1, [0.8, 0.6, 0.0]),    # A1: rel 0.8
         (2, [0.81, 0.59, 0.0]),  # A2: rel ~0.808, pair(A1,A2) ~1.0
         (3, [0.8, -0.6, 0.0])],  # B:  rel 0.8,   pair(A1,B) = 0.28
        "vec_id long, embedding array<double>",
    )
    plain = similarity.brute_force_topk(q, corpus, 2).orderBy("rank")
    assert [r.vec_id for r in plain.collect()] == [2, 1]  # rel order
    mmr = similarity.mmr_topk(q, corpus, 2, fetch_m=3).orderBy("rank")
    rows = mmr.collect()
    assert [r.vec_id for r in rows] == [2, 3]  # diverse B replaces A1
    # rank-1 score is lam*rel with NO penalty term
    assert rows[0].mmr_score_e7 == round(0.7 * rows[0].relevance * 1e7)


def test_ivf_multiprobe_recall_monotone_in_nprobe(spark):
    """The nprobe recall dial (bench annbench's cost model, VERDICT r5
    next #3): widening the probe set can only ADD candidate lists, so
    mean recall@k vs brute force must be non-decreasing in nprobe and
    reach 1.0 when every cell is probed."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    cents = emb.filter(F.col("vec_id") < 6)
    gt = similarity.brute_force_topk(q, emb, 5).select("query_id", "vec_id")
    recalls = []
    for nprobe in (1, 2, 4, 6):
        ap = similarity.ivf_multiprobe_topk(q, emb, cents, 5, nprobe=nprobe)
        r = similarity.recall_at_k(ap, gt, 5).agg(
            F.avg("recall").alias("r")).first()["r"]
        recalls.append(float(r))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == pytest.approx(1.0)


def test_ivf_multiprobe_all_cells_equals_brute_force(spark):
    """Probing every coarse cell IS exact search: with nprobe = k the
    multiprobe result must equal brute_force_topk row for row (the
    recall dial's upper endpoint)."""
    emb = load_table(spark, SF, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    cents = emb.filter(F.col("vec_id") < 4)
    exact = similarity.brute_force_topk(q, emb, 5)
    allprobe = similarity.ivf_multiprobe_topk(q, emb, cents, 5, nprobe=4)
    assert sorted(map(tuple, allprobe.collect()), key=lambda t: (t[0], t[3])) \
        == sorted(map(tuple, exact.collect()), key=lambda t: (t[0], t[3]))
