"""Similarity-search queries over the ``embeddings`` table, with oracles.

The DuckDB twin computes cosine with the same index-order double
accumulation as the Spark ``zip_with``/``aggregate`` expression, so the
rounded (1e-6) scores match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nexus_processor_spark.operators import similarity
from nexus_processor_spark.sources.tables import load_table

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 5
NEAR_DUP_THRESHOLD = 0.3  # synthetic 64-dim corpus: within-label p99 ≈ 0.295


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def q_sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return similarity.brute_force_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, TOP_K
    )


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return similarity.ivf_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, TOP_K
    )


def q_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF cell-pruned index against the brute-force
    ground truth — the eval gate before an approximate index replaces
    exact search. Per query: |ivf ∩ exact| / k."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES)
    return similarity.recall_at_k(
        similarity.ivf_topk(q, emb, TOP_K),
        similarity.brute_force_topk(q, emb, TOP_K),
        TOP_K,
    )


def q_sim_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_near_dup_pairs(
        _emb(spark, sf_dir), NEAR_DUP_THRESHOLD
    )


def q_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization + unit normalization of the embedding column —
    the storage-shrink projections a vector corpus applies before
    indexing. Served from the Arrow numpy kernel (one vectorized pass
    per batch; 24x over the interpreted HOF form on vecbench), which is
    equality-pinned to the native ``functions.vector`` expressions by
    ``tests/test_vector_arrow.py``. Map-only either way."""
    from nexus_processor_spark.operators import vector_arrow

    return vector_arrow.quantize_arrow(_emb(spark, sf_dir))


N_CENTROIDS = 8  # vec_id < 8 seed the coarse quantizer


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd E-step: nearest-centroid assignment of the whole corpus to
    deterministic seed centroids (vec_id < 8) — how an IVF cell map is
    trained before `ivf_topk` serves from it. Served from the Arrow
    kernel (dense centroid matrix in the task closure, one numpy pass per
    batch; 18x over the former interpreted HOF form on vecbench)."""
    from nexus_processor_spark.operators import vector_arrow

    emb = _emb(spark, sf_dir)
    return vector_arrow.kmeans_assign_arrow(
        emb, emb.filter(F.col("vec_id") < N_CENTROIDS)
    )


def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Lloyd training of the IVF coarse quantizer. Two iterations
    unroll into chained SQL CTEs (assign -> per-dim mean, twice), so this
    pins a full hash-checked oracle despite being an iterative operator:
    distances round at 1e-6 with a centroid-id tiebreak (deterministic
    cross-engine), centroid mass rounds at 1e-4."""
    cents = similarity.kmeans_fit(_emb(spark, sf_dir), k=N_CENTROIDS, iters=2)
    return cents.select(
        "centroid_id",
        "n_members",
        F.round(F.aggregate("centroid", F.lit(0.0), lambda a, x: a + x), 4).alias(
            "centroid_mass"
        ),
    )


PQ_M = 4  # subspaces; 64-dim corpus -> 16-dim subvectors


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: every corpus vector becomes PQ_M
    nearest-subspace-centroid codes (codebooks seeded from vec_id <
    N_CENTROIDS for cross-engine determinism). Served from the Arrow
    kernel: map-only, one numpy pass per batch."""
    from nexus_processor_spark.operators import vector_arrow

    emb = _emb(spark, sf_dir)
    cb = similarity.pq_codebooks(
        emb.filter(F.col("vec_id") < N_CENTROIDS), PQ_M
    )
    return vector_arrow.pq_encode_arrow(emb, cb, PQ_M)


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over PQ codes: per-query lookup table against the
    codebooks, corpus scored by m table adds — no raw vectors per pair."""
    emb = _emb(spark, sf_dir)
    cb = similarity.pq_codebooks(
        emb.filter(F.col("vec_id") < N_CENTROIDS), PQ_M
    )
    return similarity.pq_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, cb, TOP_K, PQ_M
    )


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS-style pipeline: coarse-cell (IVF) pruning, then
    ADC scoring over PQ codes — each query pays lookups only inside its
    own inverted list. The PQ encode step — the corpus-wide hot loop —
    runs through the Arrow kernel (``pq_encode_arrow``); the small
    per-list ADC scoring is JVM-side joins."""
    emb = _emb(spark, sf_dir)
    cb = similarity.pq_codebooks(
        emb.filter(F.col("vec_id") < N_CENTROIDS), PQ_M
    )
    return similarity.ivf_pq_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, cb, TOP_K, PQ_M
    )


KNN_K = 5
SEMANTIC_DEDUP_THRESHOLD = 0.3  # same synthetic-corpus p99 basis as near-dup


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide kNN graph (every vector a query), cell-blocked — the
    candidate structure under semantic dedup / diversity sampling.
    Served from the Arrow kernel: one BLAS gram matrix per cell via
    ``applyInPandas`` (34x over the former per-pair interpreted fold on
    vecbench); zero-norm vectors score NULL and rank last."""
    from nexus_processor_spark.operators import vector_arrow

    return vector_arrow.knn_graph_arrow(_emb(spark, sf_dir), KNN_K)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style survivors: cluster to the seeded centroids, drop
    any vector with a lower-id cluster-mate at cosine >= threshold.
    Served from the Arrow kernel: one gram matrix per cluster via
    ``applyInPandas`` (ids-only output)."""
    from nexus_processor_spark.operators import vector_arrow

    emb = _emb(spark, sf_dir)
    return vector_arrow.semantic_dedup_arrow(
        emb, emb.filter(F.col("vec_id") < N_CENTROIDS),
        SEMANTIC_DEDUP_THRESHOLD,
    )


RRF_TOP_M = 50
RRF_K = 60
RRF_N = 20


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 text leg (3-term query over documents) and
    a cosine vector leg (vec_id 0 as the probe over embeddings, the two
    tables sharing the id space) fused by reciprocal rank —
    ``pipeline.rrf_fuse`` cuts each leg to its top-m by distributed
    TakeOrdered before any window ranks it."""
    from nexus_processor_spark.operators import pipeline
    from nexus_processor_spark.queries.pipeline_q import BM25_QUERY

    docs = load_table(spark, sf_dir, "documents")
    emb = _emb(spark, sf_dir)
    text_leg = pipeline.bm25_scores(docs, BM25_QUERY).select(
        "doc_id", F.col("bm25").alias("score")
    )
    vec_leg = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, RRF_TOP_M
    ).select(F.col("vec_id").alias("doc_id"), F.col("cos").alias("score"))
    return pipeline.rrf_fuse(
        [("bm25", text_leg), ("cos", vec_leg)],
        top_m=RRF_TOP_M, k=RRF_K, n=RRF_N,
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining: each anchor paired with its nearest
    same-label positive and its top-k nearest different-label hard
    negatives (one scored pass, one window shuffle — see
    operators.similarity.hard_negative_triplets)."""
    emb = _emb(spark, sf_dir)
    return similarity.hard_negative_triplets(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, TOP_K
    )


BENCH_N = 20  # vec_id < BENCH_N form the eval-benchmark set
DECON_THRESHOLD = 0.3  # same within-label p99 basis as near-dup
MMR_FETCH_M = 20
MMR_LAM = 0.7
NPROBE = 2


def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: every corpus vector scored by
    its best cosine against the benchmark set (vec_id < BENCH_N), with
    the >= threshold gate — the paraphrase-leakage companion to the
    lexical n-gram/Bloom/span decontamination queries. Broadcast bench,
    map-side scoring, one skinny per-id max shuffle."""
    emb = _emb(spark, sf_dir)
    return similarity.semantic_decontaminate(
        emb.filter(F.col("vec_id") >= BENCH_N),
        emb.filter(F.col("vec_id") < BENCH_N),
        DECON_THRESHOLD,
    )


def q_sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-k: exact top-m candidate fetch (distributed,
    corpus-scan bound), then greedy maximal-marginal-relevance selection
    over each query's bounded candidate set — relevance traded against
    similarity to already-picked results. The oracle unrolls the greedy
    loop into k chained SQL steps (same pattern as kmeans_fit)."""
    emb = _emb(spark, sf_dir)
    return similarity.mmr_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, TOP_K,
        fetch_m=MMR_FETCH_M, lam=MMR_LAM,
    )


def q_sim_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-k: corpus assigned to trained coarse cells
    (kmeans_assign_arrow on the seed centroids), each query scanning its
    nprobe=2 nearest cells — the recall dial between single-probe IVF
    and brute force. Broadcast (query x probe) relation, cell equi-join,
    no corpus shuffle beyond the one-time cell assignment."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_multiprobe_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb,
        emb.filter(F.col("vec_id") < N_CENTROIDS), TOP_K, nprobe=NPROBE,
    )


def q_sim_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-scan search: both sides symmetric-int8-quantized, the
    score is the raw INTEGER dot of the code vectors — the 4x-shrunk
    storage scan, with zero float tolerance anywhere (the one rounding
    is the quantization itself, identical cross-engine). Order quality
    vs float cosine is measurable via recall_at_k."""
    emb = _emb(spark, sf_dir)
    return similarity.int8_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, TOP_K
    )


QUERIES = {
    "decontaminate_semantic": q_decontaminate_semantic,
    "sim_int8_topk": q_sim_int8_topk,
    "sim_mmr_topk": q_sim_mmr_topk,
    "sim_ivf_multiprobe": q_sim_ivf_multiprobe,
    "pq_encode": q_pq_encode,
    "hard_negatives": q_hard_negatives,
    "pq_topk": q_pq_topk,
    "ivf_pq_topk": q_ivf_pq_topk,
    "sim_brute_topk": q_sim_brute_topk,
    "sim_ivf_topk": q_sim_ivf_topk,
    "sim_ivf_recall": q_sim_ivf_recall,
    "sim_near_dup_pairs": q_sim_near_dup_pairs,
    "vector_quantize": q_vector_quantize,
    "kmeans_assign": q_kmeans_assign,
    "kmeans_fit": q_kmeans_fit,
    "knn_graph": q_knn_graph,
    "semantic_dedup": q_semantic_dedup,
    "hybrid_rrf": q_hybrid_rrf,
}


def _cos(a: str, b: str) -> str:
    dot = (
        f"list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )
    na = (
        f"sqrt(list_sum(list_transform(generate_series(1, len({a})), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    )
    nb = (
        f"sqrt(list_sum(list_transform(generate_series(1, len({b})), "
        f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    )
    return f"round({dot} / ({na} * {nb}), 6)"


_SCORED = f"""
    SELECT q.query_id, c.vec_id, {_cos('q.qv', 'c.cv')} AS cos
    FROM (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < {N_QUERIES}) q,
         (SELECT vec_id, embedding AS cv FROM embeddings) c
    WHERE c.vec_id <> q.query_id
"""

_SCORED_IVF = f"""
    SELECT q.query_id, c.vec_id, {_cos('q.qv', 'c.cv')} AS cos
    FROM (SELECT vec_id AS query_id, embedding AS qv, label FROM embeddings
          WHERE vec_id < {N_QUERIES}) q
    JOIN (SELECT vec_id, embedding AS cv, label FROM embeddings) c USING (label)
    WHERE c.vec_id <> q.query_id
"""

_TOPK = """
    SELECT query_id, vec_id, cos, rn AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rn
        FROM ({scored})
    ) WHERE rn <= {k}
"""

# --- kmeans_fit oracle: two unrolled Lloyd iterations ----------------------

def _lloyd_assign(cents: str) -> str:
    """Nearest-centroid assignment CTE body against centroid relation
    ``cents`` (centroid_id, cv) — round-6 distance, centroid-id tiebreak,
    mirroring vector_arrow.kmeans_assign_arrow."""
    dist = (
        "round(list_sum(list_transform(generate_series(1, len(e.v)), "
        "i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), 6)"
    )
    return f"""
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {dist}, c.centroid_id) AS rn
            FROM e, {cents} c
        ) WHERE rn = 1
    """


_LLOYD_MEANS = """
    SELECT centroid_id, pos, avg(x) AS m, count(*) AS n FROM (
        SELECT a.centroid_id,
               unnest(generate_series(1, len(e.v))) AS pos,
               unnest(e.v) AS x
        FROM {assign} a JOIN e USING (vec_id)
    ) GROUP BY 1, 2
"""

_KMEANS_FIT_SQL = f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e
           WHERE vec_id < {N_CENTROIDS}),
    a1 AS ({_lloyd_assign('c0')}),
    d1 AS ({_LLOYD_MEANS.format(assign='a1')}),
    c1 AS (SELECT centroid_id, list(m ORDER BY pos) AS cv FROM d1 GROUP BY 1),
    a2 AS ({_lloyd_assign('c1')}),
    d2 AS ({_LLOYD_MEANS.format(assign='a2')})
    SELECT centroid_id,
           CAST(min(n) AS BIGINT) AS n_members,
           round(list_sum(list(m ORDER BY pos)), 4) AS centroid_mass
    FROM d2 GROUP BY 1
"""


# --- product quantization oracles ------------------------------------------

_PQ_BASE = f"""
    p AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               len(embedding) // {PQ_M} AS sl
        FROM embeddings
    ),
    cb AS (
        SELECT b.sub, p.vec_id AS code_id,
               p.v[b.sub * p.sl + 1 : (b.sub + 1) * p.sl] AS centroid
        FROM p, (SELECT unnest(range({PQ_M})) AS sub) b
        WHERE p.vec_id < {N_CENTROIDS}
    )
"""

_PQ_ENCODE_SQL = f"""
    WITH {_PQ_BASE},
    d AS (
        SELECT p.vec_id, cb.sub, cb.code_id,
               round(list_sum(list_transform(generate_series(1, p.sl),
                   i -> (p.v[cb.sub * p.sl + i] - cb.centroid[i])
                      * (p.v[cb.sub * p.sl + i] - cb.centroid[i]))), 6) AS dist
        FROM p, cb
    ),
    best AS (
        SELECT vec_id, sub, code_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                         ORDER BY dist, code_id) AS rn
            FROM d
        ) WHERE rn = 1
    )
    SELECT vec_id, list(CAST(code_id AS INTEGER) ORDER BY sub) AS codes
    FROM best GROUP BY 1
"""

_PQ_TOPK_SQL = f"""
    WITH {_PQ_BASE},
    d AS (
        SELECT p.vec_id, cb.sub, cb.code_id,
               round(list_sum(list_transform(generate_series(1, p.sl),
                   i -> (p.v[cb.sub * p.sl + i] - cb.centroid[i])
                      * (p.v[cb.sub * p.sl + i] - cb.centroid[i]))), 6) AS dist
        FROM p, cb
    ),
    best AS (
        SELECT vec_id, sub, code_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                         ORDER BY dist, code_id) AS rn
            FROM d
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, cb.sub, cb.code_id,
               round(list_sum(list_transform(generate_series(1, q.sl),
                   i -> (q.v[cb.sub * q.sl + i] - cb.centroid[i])
                      * (q.v[cb.sub * q.sl + i] - cb.centroid[i]))), 6) AS d
        FROM (SELECT * FROM p WHERE vec_id < {N_QUERIES}) q, cb
    ),
    scored AS (
        SELECT l.query_id, b.vec_id, round(sum(l.d), 6) AS adist
        FROM best b JOIN lut l ON b.sub = l.sub AND b.code_id = l.code_id
        WHERE b.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adist, rn AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {TOP_K}
"""

# IVF-PQ: the PQ ADC pipeline with the candidate space additionally cut
# to the query's coarse cell (embeddings.label) before any distance adds.
_IVF_PQ_TOPK_SQL = f"""
    WITH {_PQ_BASE},
    d AS (
        SELECT p.vec_id, cb.sub, cb.code_id,
               round(list_sum(list_transform(generate_series(1, p.sl),
                   i -> (p.v[cb.sub * p.sl + i] - cb.centroid[i])
                      * (p.v[cb.sub * p.sl + i] - cb.centroid[i]))), 6) AS dist
        FROM p, cb
    ),
    best AS (
        SELECT vec_id, sub, code_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                         ORDER BY dist, code_id) AS rn
            FROM d
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT q.vec_id AS query_id, cb.sub, cb.code_id,
               round(list_sum(list_transform(generate_series(1, q.sl),
                   i -> (q.v[cb.sub * q.sl + i] - cb.centroid[i])
                      * (q.v[cb.sub * q.sl + i] - cb.centroid[i]))), 6) AS d
        FROM (SELECT * FROM p WHERE vec_id < {N_QUERIES}) q, cb
    ),
    scored AS (
        SELECT l.query_id, b.vec_id, round(sum(l.d), 6) AS adist
        FROM best b
        JOIN lut l ON b.sub = l.sub AND b.code_id = l.code_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        JOIN embeddings eq ON eq.vec_id = l.query_id
        WHERE b.vec_id <> l.query_id AND eb.label = eq.label
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adist, rn AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {TOP_K}
"""



_SCORED_KNN = f"""
    SELECT q.query_id, c.vec_id, {_cos('q.qv', 'c.cv')} AS cos
    FROM (SELECT vec_id AS query_id, embedding AS qv, label FROM embeddings) q
    JOIN (SELECT vec_id, embedding AS cv, label FROM embeddings) c USING (label)
    WHERE c.vec_id <> q.query_id
"""

_SEMANTIC_DEDUP_SQL = f"""
    WITH c AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    p AS (
        SELECT e.vec_id, c.centroid_id,
               round(list_sum(list_transform(
                   generate_series(1, len(e.embedding)),
                   i -> (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(c.cv[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(c.cv[i] AS DOUBLE)))), 6) AS dist
        FROM embeddings e, c
    ),
    a AS (
        SELECT vec_id, centroid_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
            FROM p
        ) WHERE rn = 1
    ),
    m AS (SELECT a.vec_id, a.centroid_id, e.embedding
          FROM a JOIN embeddings e USING (vec_id)),
    dropped AS (
        SELECT DISTINCT hi.vec_id
        FROM m lo JOIN m hi ON lo.centroid_id = hi.centroid_id
                           AND lo.vec_id < hi.vec_id
        WHERE {_cos('lo.embedding', 'hi.embedding')}
              >= {SEMANTIC_DEDUP_THRESHOLD}
    )
    SELECT vec_id, centroid_id FROM m
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""

ORACLE = {
    "pq_encode": _PQ_ENCODE_SQL,
    # same scored relation as sim_brute_topk, split by a null-safe
    # same-label flag and ranked within (query_id, same) — positives
    # are rn=1 of the same side, negatives the top-k of the other
    "hard_negatives": f"""
        WITH scored AS (
            SELECT q.query_id, c.vec_id, {_cos('q.qv', 'c.cv')} AS cos,
                   (c.label IS NOT DISTINCT FROM q.label) AS same
            FROM (SELECT vec_id AS query_id, embedding AS qv, label
                  FROM embeddings WHERE vec_id < {N_QUERIES}) q,
                 (SELECT vec_id, embedding AS cv, label FROM embeddings) c
            WHERE c.vec_id <> q.query_id
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY query_id, same
                                         ORDER BY cos DESC, vec_id) AS rn
            FROM scored
        )
        SELECT p.query_id, p.vec_id AS pos_id, p.cos AS pos_cos,
               n.vec_id AS neg_id, n.cos AS neg_cos, n.rn AS neg_rank
        FROM (SELECT * FROM ranked WHERE same AND rn = 1) p
        JOIN (SELECT * FROM ranked WHERE NOT same AND rn <= {TOP_K}) n
        USING (query_id)
    """,
    "pq_topk": _PQ_TOPK_SQL,
    "ivf_pq_topk": _IVF_PQ_TOPK_SQL,
    "kmeans_fit": _KMEANS_FIT_SQL,
    "knn_graph": _TOPK.format(scored=_SCORED_KNN, k=KNN_K),
    "semantic_dedup": _SEMANTIC_DEDUP_SQL,
    "sim_brute_topk": _TOPK.format(scored=_SCORED, k=TOP_K),
    "sim_ivf_topk": _TOPK.format(scored=_SCORED_IVF, k=TOP_K),
    "sim_ivf_recall": f"""
        WITH ex AS ({_TOPK.format(scored=_SCORED, k=TOP_K)}),
        ap AS ({_TOPK.format(scored=_SCORED_IVF, k=TOP_K)}),
        hits AS (
            SELECT ap.query_id, count(*) AS h
            FROM ap JOIN ex ON ap.query_id = ex.query_id
                           AND ap.vec_id = ex.vec_id
            GROUP BY 1
        )
        SELECT q.query_id, COALESCE(h, 0) / {TOP_K}.0 AS recall
        FROM (SELECT DISTINCT query_id FROM ex) q
        LEFT JOIN hits ON q.query_id = hits.query_id
    """,
    "sim_near_dup_pairs": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_cos('a.embedding', 'b.embedding')} AS cos
        FROM embeddings a JOIN embeddings b USING (label)
        WHERE a.vec_id < b.vec_id
          AND {_cos('a.embedding', 'b.embedding')} >= {NEAR_DUP_THRESHOLD}
    """,
    "vector_quantize": """
        WITH s AS (
            SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                       x -> abs(CAST(x AS DOUBLE)))) AS scale,
                   sqrt(list_sum(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
            FROM embeddings
        )
        SELECT vec_id, scale,
               CASE WHEN scale > 0 THEN
                   list_transform(embedding,
                       x -> CAST(round(CAST(x AS DOUBLE) / scale * 127, 0)
                                 AS BIGINT))
               END AS q8,
               CASE WHEN n > 0 THEN
                   list_transform(embedding,
                       x -> round(CAST(x AS DOUBLE) / n, 6))
               END AS unit
        FROM s
    """,
    "kmeans_assign": f"""
        WITH c AS (
            SELECT vec_id AS centroid_id, embedding AS cv
            FROM embeddings WHERE vec_id < {N_CENTROIDS}
        ),
        p AS (
            SELECT e.vec_id, c.centroid_id,
                   round(list_sum(list_transform(
                       generate_series(1, len(e.embedding)),
                       i -> (CAST(e.embedding[i] AS DOUBLE)
                             - CAST(c.cv[i] AS DOUBLE))
                          * (CAST(e.embedding[i] AS DOUBLE)
                             - CAST(c.cv[i] AS DOUBLE)))), 6) AS dist
            FROM embeddings e, c
        )
        SELECT vec_id, centroid_id, dist FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
            FROM p
        ) WHERE rn = 1
    """,
}

# Hybrid RRF oracle: the BM25 leg replays pipeline_q's bm25_search SQL
# verbatim as a nested CTE; the vector leg scores vec 0 with the shared
# index-order cosine; both legs cut to top-m, ranked, full-outer fused.
from nexus_processor_spark.queries import pipeline_q as _pq  # noqa: E402

ORACLE["hybrid_rrf"] = f"""
    WITH bmt AS MATERIALIZED ({_pq.ORACLE["bm25_search"]}),
    tl AS (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
                   AS rank_bm25
        FROM (SELECT doc_id, bm25 AS score FROM bmt
              ORDER BY score DESC, doc_id LIMIT {RRF_TOP_M})
    ),
    vs AS (
        SELECT c.vec_id AS doc_id, {_cos('q.qv', 'c.cv')} AS score
        FROM (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q,
             (SELECT vec_id, embedding AS cv FROM embeddings
              WHERE vec_id <> 0) c
    ),
    vl AS (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
                   AS rank_cos
        FROM (SELECT * FROM vs ORDER BY score DESC, doc_id LIMIT {RRF_TOP_M})
    ),
    f AS (
        SELECT coalesce(tl.doc_id, vl.doc_id) AS doc_id,
               tl.rank_bm25, vl.rank_cos
        FROM tl FULL OUTER JOIN vl ON tl.doc_id = vl.doc_id
    )
    SELECT doc_id, CAST(rank_bm25 AS BIGINT) AS rank_bm25,
           CAST(rank_cos AS BIGINT) AS rank_cos,
           round(coalesce(1.0 / ({RRF_K} + rank_bm25), 0)
                 + coalesce(1.0 / ({RRF_K} + rank_cos), 0), 9) AS rrf
    FROM f ORDER BY rrf DESC, doc_id LIMIT {RRF_N}
"""


# --- decontaminate_semantic: broadcast-bench max-cos gate -------------------

ORACLE["decontaminate_semantic"] = f"""
    WITH scored AS (
        SELECT c.vec_id, q.bench_id, {_cos('q.qv', 'c.cv')} AS cos
        FROM (SELECT vec_id AS bench_id, embedding AS qv FROM embeddings
              WHERE vec_id < {BENCH_N}) q,
             (SELECT vec_id, embedding AS cv FROM embeddings
              WHERE vec_id >= {BENCH_N}) c
    )
    SELECT vec_id, bench_id, cos AS max_cos,
           cos >= {DECON_THRESHOLD} AS contaminated
    FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, bench_id) AS rn
        FROM scored WHERE cos IS NOT NULL
    ) WHERE rn = 1
"""


# --- sim_mmr_topk: the greedy loop unrolled into k chained steps ------------

def _mmr_sql(k: int, m: int, lam: float) -> str:
    """Unrolled greedy MMR (same pattern as the kmeans_fit oracle): step
    r ranks the not-yet-selected candidates by ``lam*cos - (1-lam)*pen``
    where pen is the max pair-cosine against the selected set so far.
    ``(1 - lam)`` is computed IN SQL so both engines subtract the same
    double instead of parsing different literals."""
    score = f"{lam} * c.cos - (1 - {lam}) * p.pen"
    parts = [f"""
    cand AS (
        SELECT query_id, vec_id, cos FROM (
            {_TOPK.format(scored=_SCORED, k=m)}
        )
    ),
    pr AS (
        SELECT a.query_id, a.vec_id AS i, b.vec_id AS j,
               {_cos('ea.embedding', 'eb.embedding')} AS pc
        FROM cand a
        JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
    ),
    s1 AS (
        SELECT query_id, vec_id, cos, CAST(1 AS BIGINT) AS rank,
               {lam} * cos AS score
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos DESC, vec_id) AS rn
              FROM cand)
        WHERE rn = 1
    ),
    sel1 AS (SELECT query_id, vec_id FROM s1)"""]
    for r in range(2, k + 1):
        parts.append(f"""
    s{r} AS (
        SELECT query_id, vec_id, cos, CAST({r} AS BIGINT) AS rank, score
        FROM (
            SELECT c.query_id, c.vec_id, c.cos, {score} AS score,
                   row_number() OVER (PARTITION BY c.query_id
                                      ORDER BY ({score}) DESC,
                                               c.vec_id) AS rn
            FROM cand c
            JOIN (SELECT pr.query_id, pr.i AS vec_id, max(pr.pc) AS pen
                  FROM pr JOIN sel{r - 1} s
                    ON pr.query_id = s.query_id AND pr.j = s.vec_id
                  GROUP BY 1, 2) p
              ON p.query_id = c.query_id AND p.vec_id = c.vec_id
            WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} s
                              WHERE s.query_id = c.query_id
                                AND s.vec_id = c.vec_id)
        ) WHERE rn = 1
    ),
    sel{r} AS (SELECT * FROM sel{r - 1}
               UNION ALL SELECT query_id, vec_id FROM s{r})""")
    union = "\n        UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, k + 1)
    )
    return f"""
    WITH {','.join(parts)}
    SELECT query_id, rank, vec_id, cos AS relevance,
           CAST(round(score * 10000000) AS BIGINT) AS mmr_score_e7
    FROM ({union})
    """


ORACLE["sim_mmr_topk"] = _mmr_sql(TOP_K, MMR_FETCH_M, MMR_LAM)


# --- sim_ivf_multiprobe: cell assignment + nprobe nearest cells -------------

_MP_DIST = (
    "round(list_sum(list_transform(generate_series(1, len(e.v)), "
    "i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))), 6)"
)

ORACLE["sim_ivf_multiprobe"] = f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e
           WHERE vec_id < {N_CENTROIDS}),
    cells AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_MP_DIST}, c.centroid_id)
                       AS rn
            FROM e, c0 c
        ) WHERE rn = 1
    ),
    qp AS (
        SELECT vec_id AS query_id, centroid_id AS cell FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_MP_DIST}, c.centroid_id)
                       AS rn
            FROM e, c0 c
            WHERE e.vec_id < {N_QUERIES}
        ) WHERE rn <= {NPROBE}
    ),
    scored AS (
        SELECT qp.query_id, cl.vec_id,
               {_cos('qv.embedding', 'cv.embedding')} AS cos
        FROM qp
        JOIN cells cl ON cl.centroid_id = qp.cell
        JOIN embeddings qv ON qv.vec_id = qp.query_id
        JOIN embeddings cv ON cv.vec_id = cl.vec_id
        WHERE cl.vec_id <> qp.query_id
    )
    SELECT query_id, vec_id, cos, rn AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {TOP_K}
"""


# int8 quantization + pure-integer dot scoring: the single rounding
# (round(x/s*127)) is the same double in both engines, everything after
# is exact integer arithmetic
ORACLE["sim_int8_topk"] = f"""
    WITH z AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS s,
               embedding
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) / s * 127)
                             AS BIGINT)) AS q
        FROM z WHERE s > 0
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id,
               CAST(list_sum(list_transform(
                   generate_series(1, len(a.q)),
                   i -> a.q[i] * b.q[i])) AS BIGINT) AS score_q
        FROM qz a, qz b
        WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
    )
    SELECT query_id, vec_id, score_q, rn AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score_q DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {TOP_K}
"""


CBAL_PER_CELL = 25


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced subsample: nearest-cell assignment (the Arrow
    kernel the kmeans_assign query serves) then a
    deterministic per-cell quota in salted-md5 order — the
    diversity-stratified selection step of a pretraining mix."""
    emb = _emb(spark, sf_dir)
    return similarity.cluster_balanced_sample(
        emb, emb.filter(F.col("vec_id") < N_CENTROIDS), CBAL_PER_CELL)


QUERIES["cluster_balanced_sample"] = q_cluster_balanced_sample

# assignment replayed with the kmeans_assign oracle's CTE (rounded
# squared-L2, lowest-centroid tiebreak), then the salted-hash quota
ORACLE["cluster_balanced_sample"] = f"""
    WITH c AS (
        SELECT vec_id AS centroid_id, embedding AS cv
        FROM embeddings WHERE vec_id < {N_CENTROIDS}
    ),
    p AS (
        SELECT e.vec_id, c.centroid_id,
               round(list_sum(list_transform(
                   generate_series(1, len(e.embedding)),
                   i -> (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(c.cv[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(c.cv[i] AS DOUBLE)))), 6) AS dist
        FROM embeddings e, c
    ),
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY dist, centroid_id) AS rn
            FROM p
        ) WHERE rn = 1
    )
    SELECT vec_id, centroid_id, pick_rank FROM (
        SELECT vec_id, centroid_id,
               CAST(row_number() OVER (
                   PARTITION BY centroid_id
                   ORDER BY md5('cbal' || CAST(vec_id AS VARCHAR)),
                            vec_id) AS BIGINT) AS pick_rank
        FROM assigned
    ) WHERE pick_rank <= {CBAL_PER_CELL}
"""


INT8_CAND = 20


def q_int8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized candidate generation + exact float re-rank: the packed
    int8 scan keeps each query's top-C by exact integer dot (float32
    GEMM over the binary-packed codes — exact integers at dim <= 1024),
    then only those C rows are re-scored with the full-precision cosine
    brute force uses. The oracle replays BOTH stages: the integer top-C
    (zero tolerance) and the rounded cosine re-rank."""
    emb = _emb(spark, sf_dir)
    return similarity.int8_rerank_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, TOP_K,
        candidates=INT8_CAND,
    )


QUERIES["int8_rerank_topk"] = q_int8_rerank_topk

# both stages replayed: integer-dot candidate top-C (exact — same
# single quantization rounding as sim_int8_topk), then the cosine
# re-rank over ONLY the candidate rows with brute force's expression
ORACLE["int8_rerank_topk"] = f"""
    WITH z AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS s,
               embedding
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) / s * 127)
                             AS BIGINT)) AS q
        FROM z WHERE s > 0
    ),
    iscored AS (
        SELECT a.vec_id AS query_id, b.vec_id,
               CAST(list_sum(list_transform(
                   generate_series(1, len(a.q)),
                   i -> a.q[i] * b.q[i])) AS BIGINT) AS score_q
        FROM qz a, qz b
        WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score_q DESC, vec_id) AS rn
            FROM iscored
        ) WHERE rn <= {INT8_CAND}
    ),
    scored AS (
        SELECT cand.query_id, cand.vec_id, {_cos('q.qv', 'c.cv')} AS cos
        FROM cand
        JOIN (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              WHERE vec_id < {N_QUERIES}) q USING (query_id)
        JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c
             USING (vec_id)
    )
    SELECT query_id, vec_id, cos, rn AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {TOP_K}
"""


def q_ivf_int8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cells composed with the packed-int8 rerank tier: nprobe
    nearest coarse cells per query (multiprobe's exact semantics), the
    integer-dot candidate top-C scanned over ONLY the probed cells'
    packed codes, then the exact float cosine re-rank. The oracle
    replays all three stages — cell assignment, restricted integer
    top-C, cosine re-rank — with zero tolerance anywhere but the two
    shared roundings (dist 1e-6, cos 1e-6)."""
    emb = _emb(spark, sf_dir)
    return similarity.ivf_int8_rerank_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb,
        emb.filter(F.col("vec_id") < N_CENTROIDS), TOP_K,
        nprobe=NPROBE, candidates=INT8_CAND,
    )


QUERIES["ivf_int8_rerank_topk"] = q_ivf_int8_rerank

# all three stages replayed: multiprobe's cell assignment + probe
# selection CTEs, the integer-dot candidate top-C restricted to each
# query's probed cells, then brute force's cosine over the candidates
ORACLE["ivf_int8_rerank_topk"] = f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM e
           WHERE vec_id < {N_CENTROIDS}),
    cells AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_MP_DIST}, c.centroid_id)
                       AS rn
            FROM e, c0 c
        ) WHERE rn = 1
    ),
    qp AS (
        SELECT vec_id AS query_id, centroid_id AS cell FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {_MP_DIST}, c.centroid_id)
                       AS rn
            FROM e, c0 c
            WHERE e.vec_id < {N_QUERIES}
        ) WHERE rn <= {NPROBE}
    ),
    z AS (
        SELECT vec_id,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) AS s,
               embedding
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) / s * 127)
                             AS BIGINT)) AS q
        FROM z WHERE s > 0
    ),
    iscored AS (
        SELECT qp.query_id, b.vec_id,
               CAST(list_sum(list_transform(
                   generate_series(1, len(a.q)),
                   i -> a.q[i] * b.q[i])) AS BIGINT) AS score_q
        FROM qp
        JOIN cells cl ON cl.centroid_id = qp.cell
        JOIN qz a ON a.vec_id = qp.query_id
        JOIN qz b ON b.vec_id = cl.vec_id
        WHERE b.vec_id <> qp.query_id
    ),
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY score_q DESC, vec_id) AS rn
            FROM iscored
        ) WHERE rn <= {INT8_CAND}
    ),
    scored AS (
        SELECT cand.query_id, cand.vec_id, {_cos('q.qv', 'c.cv')} AS cos
        FROM cand
        JOIN (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              WHERE vec_id < {N_QUERIES}) q USING (query_id)
        JOIN (SELECT vec_id, embedding AS cv FROM embeddings) c
             USING (vec_id)
    )
    SELECT query_id, vec_id, cos, rn AS rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, vec_id) AS rn
        FROM scored
    ) WHERE rn <= {TOP_K}
"""


PCA_ITERS = 5
PCA_QS = 1024
PCA_VS = 1 << 16
PCA_DIM = 64


def q_pca_power_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-direction projection scores via distributed power
    iteration — the exact integer trajectory is replayed, iteration by
    iteration, by the DuckDB oracle."""
    return similarity.pca_power_scores(
        _emb(spark, sf_dir), iterations=PCA_ITERS,
        q_scale=PCA_QS, v_scale=PCA_VS,
    )


QUERIES["pca_power_scores"] = q_pca_power_scores


def _pca_sql(iters: int, dim: int, qs: int, vs: int) -> str:
    """Unrolled power-iteration replay: per iteration, s = Xv and
    t = X's as exact HUGEINT sums cast back to BIGINT, the norm as the
    double sqrt of the exact integer sum of squares, and the
    renormalized integer v — identical to the Spark driver loop."""
    parts = [f"""
        xq AS (
            SELECT vec_id, list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * {qs}, 0) AS BIGINT)
            ) AS xq
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        ex AS (
            SELECT vec_id, j.j, xq[j.j + 1] AS x
            FROM xq, (SELECT unnest(range({dim})) AS j) j
        ),
        v0 AS (SELECT unnest(range({dim})) AS j, CAST({vs} AS BIGINT) AS v)
    """]
    for k in range(1, iters + 1):
        parts.append(f"""
        s{k} AS (
            SELECT e.vec_id, CAST(sum(e.x * v.v) AS BIGINT) AS s
            FROM ex e JOIN v{k - 1} v ON v.j = e.j GROUP BY 1
        ),
        t{k} AS (
            SELECT e.j,
                   CAST(sum(CAST(s.s AS HUGEINT) * e.x) AS BIGINT) AS t
            FROM ex e JOIN s{k} s ON s.vec_id = e.vec_id GROUP BY 1
        ),
        n{k} AS (
            SELECT sqrt(CAST(sum(CAST(t AS HUGEINT) * t) AS DOUBLE)) AS nrm
            FROM t{k}
        ),
        v{k} AS (
            SELECT t.j,
                   CAST(round(CAST(t.t AS DOUBLE) / n.nrm * {vs}, 0)
                        AS BIGINT) AS v
            FROM t{k} t, n{k} n
        )
    """)
    body = ",".join(parts)
    return f"""
        WITH {body}
        SELECT e.vec_id, CAST(sum(e.x * v.v) AS BIGINT) AS score
        FROM ex e JOIN v{iters} v ON v.j = e.j GROUP BY 1
    """


ORACLE["pca_power_scores"] = _pca_sql(PCA_ITERS, PCA_DIM, PCA_QS, PCA_VS)


MATRYOSHKA_DIM = 16


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation eval (Kusupati et al. 2022,
    public literature): recall@k of cosine top-k over the FIRST 16 of 64
    dims vs the full-dim ground truth — the measured quality cost of the
    4x-cheaper scan a prefix-truncatable embedding buys at corpus
    scale (cosine is scale-free, so truncation needs no renormalize)."""
    emb = _emb(spark, sf_dir)
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, MATRYOSHKA_DIM).alias("embedding"))
    approx = similarity.brute_force_topk(
        trunc.filter(F.col("vec_id") < N_QUERIES), trunc, TOP_K)
    exact = similarity.brute_force_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), emb, TOP_K)
    return similarity.recall_at_k(approx, exact, TOP_K)


QUERIES["matryoshka_recall"] = q_matryoshka_recall

_SCORED_TRUNC = f"""
    SELECT q.query_id, c.vec_id,
           {_cos(f'q.qv[1:{MATRYOSHKA_DIM}]', f'c.cv[1:{MATRYOSHKA_DIM}]')}
           AS cos
    FROM (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          WHERE vec_id < {N_QUERIES}) q,
         (SELECT vec_id, embedding AS cv FROM embeddings) c
    WHERE c.vec_id <> q.query_id
"""
ORACLE["matryoshka_recall"] = f"""
    WITH approx AS ({_TOPK.format(scored=_SCORED_TRUNC, k=TOP_K)}),
    exact AS ({_TOPK.format(scored=_SCORED, k=TOP_K)})
    SELECT e.query_id,
           CAST(coalesce((
               SELECT count(*) FROM approx a
               WHERE a.query_id = e.query_id
                 AND a.vec_id IN (SELECT vec_id FROM exact x
                                  WHERE x.query_id = e.query_id)
           ), 0) AS DOUBLE) / {TOP_K} AS recall
    FROM (SELECT DISTINCT query_id FROM exact) e
"""


def q_vector_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end persisted-index path: build the IVF-int8 tier on disk
    (codes parquet PARTITIONED BY coarse cell — the probe union prunes
    partitions, plan-pinned in tests), then search it with the same
    composed semantics as ivf_int8_rerank_topk. Same oracle: the index
    is a layout, never a semantics change."""
    from nexus_processor_spark.operators import vector_index
    from nexus_processor_spark.sources.tables import scratch_dir

    emb = _emb(spark, sf_dir)
    path = scratch_dir("vector_index_q")
    vector_index.build_ivf_int8_index(
        emb, emb.filter(F.col("vec_id") < N_CENTROIDS), path)
    return vector_index.search(
        spark, emb.filter(F.col("vec_id") < N_QUERIES), emb, path,
        TOP_K, nprobe=NPROBE, candidates=INT8_CAND)


QUERIES["vector_index_search"] = q_vector_index_search
# identical semantics to the in-memory composition: same oracle
ORACLE["vector_index_search"] = ORACLE["ivf_int8_rerank_topk"]


def q_vector_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full maintenance lifecycle, oracle-pinned as semantics-free:
    build the IVF-int8 tier on HALF the corpus, append the other half
    (multi-file cells), compact (one sorted file per cell),
    rebuild with the SAME quantizer (versioned codes+centroids pair),
    vacuum the parked tiers — then search. Every step is layout or
    lifecycle only, so the result must still hash-match the plain
    ivf_int8_rerank_topk SQL twin; a maintenance op that perturbed
    ranking (e.g. a rebuild publishing new cells over old codes)
    fails the gate. Twins the reference's table-maintenance story
    (lakehouse_scripts/ingest_neutron_data.py:209-211's
    append+rewrite discipline) on the vector tier."""
    from nexus_processor_spark.operators import vector_index
    from nexus_processor_spark.sources.tables import scratch_dir

    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") < N_CENTROIDS)
    path = scratch_dir("vector_index_lc")
    vector_index.build_ivf_int8_index(
        emb.filter(F.col("vec_id") % 2 == 0), cents, path)
    vector_index.append_to_index(
        emb.filter(F.col("vec_id") % 2 == 1), path)
    vector_index.compact_index(spark, path)
    vector_index.rebuild_index(emb, path, centroids=cents)
    vector_index.vacuum_index(spark, path)
    return vector_index.search(
        spark, emb.filter(F.col("vec_id") < N_QUERIES), emb, path,
        TOP_K, nprobe=NPROBE, candidates=INT8_CAND)


QUERIES["vector_index_lifecycle"] = q_vector_index_lifecycle
# maintenance must never change what a search returns: same oracle
ORACLE["vector_index_lifecycle"] = ORACLE["ivf_int8_rerank_topk"]
