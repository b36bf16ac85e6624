"""Similarity search over embedding columns (``array<float>``).

Two tiers:

* **Brute-force top-k** — broadcast the (small) query set against the
  corpus; cosine via native ``zip_with``/``aggregate``; per-query top-k by
  window. Exact; the baseline every ANN variant is measured against. The
  corpus is never collected; at 100 TB the corpus scan dominates, which is
  the floor for exact search.
* **IVF (coarse-quantized) top-k** — restrict the search to the query's
  cell (here: the precomputed ``label`` column; in production: nearest
  k-means centroid assigned at ingest). Turns the full scan into a
  partition-pruned scan when the corpus is written partitioned by cell.

Norms are computed once per *row* before any pair join — at n² pair
counts that removes two thirds of the vector math versus a naive
cosine-per-pair. ``dot/(norm_a*norm_b)`` is the same IEEE arithmetic as
``functions.vector.cosine``, so scores are bit-identical.

Cosines are rounded (1e-6) before ranking with an id tiebreak so results
are stable across engines and runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nexus_processor_spark.functions.vector import dot, norm
from nexus_processor_spark.operators import vector_arrow
from nexus_processor_spark.plans.layout import spread

def _cos() -> F.Column:
    # Built lazily: Column construction needs an active SparkContext.
    return F.round(
        F.when(
            (F.col("_nq") * F.col("_nc")) > 0,
            dot(F.col("_vq"), F.col("_vc")) / (F.col("_nq") * F.col("_nc")),
        ),
        6,
    )


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def _sides(
    queries: DataFrame, corpus: DataFrame, id_col: str, vec_col: str,
    cell_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    extra = [F.col(cell_col).alias("cell")] if cell_col else []
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_vq"),
        norm(F.col(vec_col)).alias("_nq"),
        *extra,
    )
    c = spread(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_vc"),
        norm(F.col(vec_col)).alias("_nc"),
        *extra,
    )
    return q, c


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (self-matches
    excluded). Output: query_id, vec_id, cos, rank."""
    q, c = _sides(queries, corpus, id_col, vec_col)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cos().alias("cos"))
    )
    return _ranked_topk(scored, k)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Approximate top-k searching only the query's coarse cell.

    With the corpus partitioned by cell on disk, the equi-join on
    ``cell_col`` prunes to the probed partitions — the IVF scale path.
    """
    q, c = _sides(queries, corpus, id_col, vec_col, cell_col)
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cos().alias("cos"))
    )
    return _ranked_topk(scored, k)


def _probe_dim(df: DataFrame, vec_col: str, what: str) -> int | None:
    """Length of the first non-null vector (None on an empty frame) —
    one tiny job, used to fail loudly where a wrong assumed dimension
    would otherwise degrade SILENTLY (null-padded projections, truncated
    subvectors) into plausible-looking garbage."""
    row = (
        df.select(F.size(F.col(vec_col)).alias("_d"))
        .where(F.col("_d").isNotNull())
        .first()
    )
    return None if row is None else int(row["_d"])


def hard_negative_triplets(
    queries: DataFrame,
    corpus: DataFrame,
    neg_k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive-training triplet mining: for each anchor, the single
    nearest SAME-label vector (the positive) paired with the ``neg_k``
    nearest DIFFERENT-label vectors (the hard negatives — the
    highest-similarity wrong answers, which carry most of the gradient
    signal in contrastive/embedding training).

    One scored pass: anchors broadcast against the streamed corpus,
    then a single window ranked within ``(query_id, same_label)`` so
    the positive and the negatives come out of the same shuffle.
    Anchors missing either side (no same-label peer, or no other
    label) drop via the inner join. Null labels compare null-safely:
    two null-label vectors count as same-label.

    At corpus scale the exact pass is the eval/ground-truth path; swap
    the scored stream for :func:`ivf_topk`'s cell-pruned join (probing
    the anchor's own cell for positives and neighboring cells for
    negatives) to mine from an approximate index instead.

    Output: query_id, pos_id, pos_cos, neg_id, neg_cos, neg_rank —
    one row per (anchor, negative), the positive repeated across its
    anchor's rows.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_vq"),
        norm(F.col(vec_col)).alias("_nq"),
        F.col(label_col).alias("_lq"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_vc"),
        norm(F.col(vec_col)).alias("_nc"),
        F.col(label_col).alias("_lc"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            _cos().alias("cos"),
            F.col("_lc").eqNullSafe(F.col("_lq")).alias("_same"),
        )
    )
    w = Window.partitionBy("query_id", "_same").orderBy(
        F.desc("cos"), "vec_id"
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    # Cut to the surviving rows FIRST (1 positive + <= neg_k negatives
    # per anchor), then attach the positive to its anchor's negative
    # rows with a second window over the k-bounded remainder. The
    # former pos/neg branch-and-join form consumed `ranked` twice, and
    # each consumption re-ran the whole scored pass (broadcast GEMM
    # over the corpus + the rank shuffle) — 2x the query's entire cost,
    # visible as doubled embedding scans in the before-plan. The inner
    # join's semantics are preserved: anchors missing a positive drop
    # via the null filter, anchors missing negatives emit no rows.
    kept = ranked.filter(
        (F.col("_same") & (F.col("rn") == 1))
        | (~F.col("_same") & (F.col("rn") <= neg_k))
    )
    wq = Window.partitionBy("query_id")
    pos = F.max(
        F.when(F.col("_same"),
               F.struct(F.col("vec_id"), F.col("cos")))
    ).over(wq)
    return (
        kept.withColumn("_pos", pos)
        .filter(~F.col("_same") & F.col("_pos").isNotNull())
        .select(
            "query_id",
            F.col("_pos.vec_id").alias("pos_id"),
            F.col("_pos.cos").alias("pos_cos"),
            F.col("vec_id").alias("neg_id"),
            F.col("cos").alias("neg_cos"),
            F.col("rn").cast("long").alias("neg_rank"),
        )
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = "label",
) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold.

    Pairs are generated within coarse cells (blocked self-join) — the
    embedding analog of LSH banding; without ``cell_col`` it degrades to
    the full n² cross join (only for small corpora / tests).
    """
    extra = [F.col(cell_col).alias("cell")] if cell_col else []
    corpus = spread(corpus)
    a = corpus.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("_vq"),
        norm(F.col(vec_col)).alias("_nq"), *extra,
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vc"),
        norm(F.col(vec_col)).alias("_nc"), *extra,
    )
    joined = a.join(b, "cell") if cell_col else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos().alias("cos"))
        .filter(F.col("cos") >= F.lit(threshold))
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    init: str = "ids",
) -> DataFrame:
    """Full Lloyd's k-means over an embedding column — trains the coarse
    quantizer that `ivf_topk` serves from.

    Seeds deterministically — ``init="ids"`` takes the k smallest
    ``id_col`` rows (reproducible without a driver RNG; the
    oracle-checked form), ``init="parallel"`` runs the k-means||
    oversampling pass (``kmeans_parallel_init``) for better-spread seeds
    on clustered data — then alternates the map-only assign E-step
    (``vector_arrow.kmeans_assign_arrow``: k centroids in the task
    closure) with a centroid-mean M-step shuffle. The vectors never move
    for the assignment, so iteration cost at 100 TB is k·dim per row of
    map-side math, not a data-scale join.
    The per-iteration ``persist``/``count`` materialization keeps Spark
    from replaying the whole iteration chain each pass (lineage doubles
    otherwise) — the same pattern as `dedup.dup_clusters`.

    Returns the trained centroids: (centroid_id, centroid, n_members).
    Iterative — no single-statement SQL twin; correctness is pinned by
    convergence tests on separable synthetic clusters.

    Centroids that capture zero members in an E-step drop out of the
    mean groupBy and every later iteration, so the trained quantizer can
    end up with fewer than ``k`` cells (likewise when the corpus has fewer
    than ``k`` rows). That shrinkage is surfaced: a RuntimeWarning fires
    and ``kmeans_fit.last_k`` records the actual trained cell count so IVF
    callers can size ``n_probe`` accordingly.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if init not in ("ids", "parallel"):
        raise ValueError(f"init must be ids or parallel, got {init!r}")
    if init == "parallel":
        centroids = kmeans_parallel_init(
            corpus, k, id_col=id_col, vec_col=vec_col
        )
    else:
        centroids = (
            corpus.orderBy(id_col)
            .limit(k)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.transform(
                    F.col(vec_col), lambda x: x.cast("double")
                ).alias("centroid"),
            )
        )
    vecs = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(vec_col),
    )
    vecs.persist()
    last = None
    try:
        for _ in range(iters):
            assigned = vector_arrow.kmeans_assign_arrow(
                vecs,
                centroids.select(
                    F.col("centroid_id").alias(id_col),
                    F.col("centroid").alias(vec_col),
                ),
                id_col=id_col,
                vec_col=vec_col,
                round_digits=round_digits,
            )
            member_vecs = vecs.join(assigned.select(id_col, "centroid_id"), id_col)
            # mean per dimension: posexplode -> (centroid, pos) mean -> regroup
            exploded = member_vecs.select(
                "centroid_id", F.posexplode(vec_col).alias("pos", "x")
            )
            dims = exploded.groupBy("centroid_id", "pos").agg(
                F.avg("x").alias("m"), F.count(F.lit(1)).alias("n")
            )
            new_centroids = (
                dims.groupBy("centroid_id")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "m"))
                    ).alias("pm"),
                    F.first("n").alias("n_members"),
                )
                .select(
                    "centroid_id",
                    F.transform(F.col("pm"), lambda s: s.getField("m")).alias(
                        "centroid"
                    ),
                    "n_members",
                )
            )
            new_centroids.persist()
            n_cells = new_centroids.count()  # materialize: cut lineage growth
            if last is not None:
                last.unpersist()
            last = new_centroids
            centroids = new_centroids.select("centroid_id", "centroid")
        kmeans_fit.last_k = n_cells
        if n_cells < k:
            import warnings

            warnings.warn(
                f"kmeans_fit trained {n_cells} < k={k} centroids (empty "
                "cells or undersized corpus); IVF callers should size "
                "n_probe against kmeans_fit.last_k.",
                RuntimeWarning,
                stacklevel=2,
            )
        return last.select("centroid_id", "centroid", "n_members")
    finally:
        vecs.unpersist()


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's storage/compute path). A vector of dim d
# splits into m contiguous subvectors; each subvector is replaced by the id
# of its nearest per-subspace codebook centroid. Storage drops from 4·d
# bytes to m code bytes; approximate (asymmetric, ADC) distances become m
# table lookups + adds instead of d multiplies. The shapes that matter at
# 100 TB: codebooks are m·k rows (broadcast everywhere), encoding is
# map-side, and the ADC scan carries codes — never raw vectors — through
# the shuffle. (Jégou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 — public literature.)
# ---------------------------------------------------------------------------


def pq_codebooks(
    seeds: DataFrame,
    m: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic per-subspace codebooks from seed rows: codebook of
    subspace ``s`` holds every seed's ``s``-th subvector (code_id = seed
    id). Production trains each subspace with `kmeans_fit` over
    subvectors; seeding keeps the operator reproducible cross-engine.

    Output: (sub, code_id, centroid array<double>), m rows per seed.

    The vector dimension must be divisible by ``m`` (validated): with a
    remainder the integer subvector length silently excludes the
    trailing dimensions from every distance, and dim < m makes all
    subvectors empty — every distance 0, results pure tiebreak noise.
    """
    d = _probe_dim(seeds, vec_col, "pq_codebooks")
    if d is not None and (d < m or d % m != 0):
        raise ValueError(
            f"vector dim {d} must be a positive multiple of m={m}"
        )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sublen = (F.size(v) / F.lit(m)).cast("int")
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.slice(v, F.lit(s) * sublen + 1, sublen).alias("centroid"),
        )
        for s in range(m)
    ])
    return (
        seeds.select(F.col(id_col).alias("code_id"), F.explode(subs).alias("b"))
        .select(F.col("b.sub").alias("sub"), "code_id",
                F.col("b.centroid").alias("centroid"))
    )


def _sq_l2(a: F.Column, b: F.Column, round_digits: int) -> F.Column:
    sq = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.round(F.aggregate(sq, F.lit(0.0), lambda acc, d: acc + d),
                   round_digits)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    m: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query keeps its raw vector,
    the corpus is represented by its PQ codes. Per query, the distance to
    every codebook centroid of every subspace is precomputed (m·k values —
    a lookup table, broadcast); a corpus row's approximate distance is the
    sum of its m looked-up entries. The corpus-side work is a broadcast
    join on (sub, code) + a sum — no vector math per pair, no raw vectors
    in any exchange.

    ``encoded`` supplies the pre-computed ``(id, codes)`` index (same
    contract as :func:`ivf_pq_topk` — encoding is ingest-time work);
    default encodes with ``vector_arrow.pq_encode_arrow``.

    Output: query_id, vec_id, adist, rank (ascending distance).
    """
    enc = encoded
    if enc is None:
        enc = vector_arrow.pq_encode_arrow(
            corpus, codebooks, m, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits)
    qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sublen = (F.size(qv) / F.lit(m)).cast("int")
    lut = (
        queries.select(F.col(id_col).alias("query_id"), qv.alias("_q"),
                       sublen.alias("_sl"))
        .crossJoin(F.broadcast(codebooks))
        .select(
            "query_id", "sub", "code_id",
            _sq_l2(
                F.slice(F.col("_q"), F.col("sub") * F.col("_sl") + 1, F.col("_sl")),
                F.col("centroid"), round_digits,
            ).alias("d"),
        )
    )
    per_sub = (
        enc.select(id_col, F.posexplode("codes").alias("_s", "_c"))
        .join(F.broadcast(lut),
              (F.col("_s") == F.col("sub")) & (F.col("_c") == F.col("code_id")))
        .select(F.col(id_col).alias("vec_id"), "query_id", "d")
    )
    scored = (
        per_sub.filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d"), round_digits).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    m: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    round_digits: int = 6,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ search — the full FAISS-style ANN pipeline: coarse-cell
    pruning (IVF) composed with asymmetric-distance PQ scoring (ADC).

    ``encoded`` supplies a pre-computed ``(id, codes)`` table (e.g. the
    persisted index — encoding is ingest-time work and dominates
    end-to-end cost); default encodes with
    ``vector_arrow.pq_encode_arrow``.

    The corpus side is its PQ codes plus a cell id; the candidate space
    is cut twice before any arithmetic: the (sub, code) broadcast-join of
    :func:`pq_topk` AND an equality on the query's coarse cell, so each
    query pays ADC lookups only inside its own inverted list. With the
    corpus partitioned by cell on disk, the cell equality prunes scanned
    partitions exactly as in :func:`ivf_topk`. No raw corpus vectors in
    any exchange.

    Output: query_id, vec_id, adist, rank (ascending approx distance).
    """
    enc = encoded
    if enc is None:
        enc = vector_arrow.pq_encode_arrow(
            corpus, codebooks, m, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits)
    cells = corpus.select(F.col(id_col), F.col(cell_col).alias("_cell"))
    enc = enc.join(cells, id_col)
    qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sublen = (F.size(qv) / F.lit(m)).cast("int")
    lut = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(cell_col).alias("_qcell"),
            qv.alias("_q"), sublen.alias("_sl"),
        )
        .crossJoin(F.broadcast(codebooks))
        .select(
            "query_id", "_qcell", "sub", "code_id",
            _sq_l2(
                F.slice(F.col("_q"), F.col("sub") * F.col("_sl") + 1, F.col("_sl")),
                F.col("centroid"), round_digits,
            ).alias("d"),
        )
    )
    per_sub = (
        enc.select(id_col, "_cell", F.posexplode("codes").alias("_s", "_c"))
        .join(
            F.broadcast(lut),
            (F.col("_s") == F.col("sub"))
            & (F.col("_c") == F.col("code_id"))
            & (F.col("_cell") == F.col("_qcell")),
        )
        .select(F.col(id_col).alias("vec_id"), "query_id", "d")
    )
    scored = (
        per_sub.filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sum("d"), round_digits).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy("adist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    *,
    query_col: str = "query_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact ground
    truth — the eval every ANN index needs before it replaces the
    brute-force path.

    Both inputs are (query, neighbor) SETS (extra columns ignored; the
    approx side is deduped defensively). Per query: |approx ∩ exact| / k;
    queries with zero approx hits still appear (recall 0.0 — an index
    that silently drops queries must not inflate its average). The join
    is per-query equi (never data-scale).

    Shape: ONE left join from the truth side with a presence marker,
    counting matches per query. The former two-branch form (semi-join
    for hits + ``ex.select(query).distinct()`` for the query universe)
    consumed ``exact`` twice — and the ground-truth side is typically
    the EXPENSIVE brute-force top-k, which really ran twice: the
    semi-join pushes isnotnull into only its copy of the subtree, so
    exchange/stage reuse never dedups the branches (the one-sided-
    constraint breaker OPTIMIZATION_r11.md documents).
    """
    ex = exact.select(query_col, id_col)
    ap = approx.select(query_col, id_col).distinct().withColumn(
        "_a", F.lit(1))
    return (
        ex.join(ap, [query_col, id_col], "left")
        .groupBy(query_col)
        .agg((F.count("_a") / F.lit(float(k))).alias("recall"))
    )


def kmeans_parallel_init(
    corpus: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 3,
    oversample: float = 2.0,
) -> DataFrame:
    """k-means|| initialization (Bahmani et al., VLDB'12) — the scalable,
    quality-aware seeding for ``kmeans_fit``: instead of k arbitrary rows,
    sample ~``oversample * k`` candidates per round with probability
    proportional to their squared distance from the current candidate
    set, then weight the candidates by their basin sizes and recluster
    them to exactly k centers driver-side (the candidate set is
    O(rounds * oversample * k) — dozens of vectors, never data-scale).

    Fully deterministic: the "random" draws are ``xxhash64(id, round)``
    uniforms, so the same corpus always seeds the same centers — the
    engine's reproducibility contract, where MLlib would take a seed and
    still depend on partitioning. Each round is one broadcast-assign
    (map-side k'·dim math) + a 1-row cost aggregate; nothing data-scale
    ever shuffles or collects.

    Returns (centroid_id 0..k-1, centroid array<double>) ready to feed
    ``vector_arrow.kmeans_assign_arrow``.
    """
    import numpy as np

    vecs = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).persist()
    try:
        first = vecs.orderBy(id_col).limit(1).collect()[0]
        cand: dict[int, list[float]] = {first[id_col]: list(first["v"])}
        ell = max(1.0, oversample * k)
        from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

        cand_schema = StructType([
            # honor the corpus' id type — string/int ids crash a
            # hardcoded 'long' schema
            StructField(id_col, corpus.schema[id_col].dataType, True),
            StructField("v", ArrayType(DoubleType()), True),
        ])
        for r in range(rounds):
            cand_df = vecs.sparkSession.createDataFrame(
                [(i, v) for i, v in cand.items()], cand_schema,
            )
            assigned = vector_arrow.kmeans_assign_arrow(
                vecs, cand_df, id_col=id_col, vec_col="v"
            )
            total = assigned.agg(F.sum("dist").alias("s")).collect()[0]["s"]
            if not total or total <= 0:
                break  # every point coincides with a candidate
            # uniform in [0,1) from the id hash, salted by round
            u = (
                F.pmod(F.xxhash64(F.col(id_col), F.lit(r)), F.lit(1_000_000))
                / F.lit(1_000_000.0)
            )
            prob = F.least(F.lit(1.0), F.lit(ell) * F.col("dist") / F.lit(total))
            picked = (
                assigned.join(vecs, id_col)
                .filter(u < prob)
                .select(id_col, "v")
                .collect()
            )
            for row in picked:
                cand[row[id_col]] = list(row["v"])
        # weight candidates by basin size, then recluster driver-side
        cand_df = vecs.sparkSession.createDataFrame(
            [(i, v) for i, v in cand.items()], cand_schema,
        )
        weights = {
            r["centroid_id"]: r["n"]
            for r in vector_arrow.kmeans_assign_arrow(
                vecs, cand_df, id_col=id_col, vec_col="v")
            .groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        ids = sorted(cand)
        pts = np.array([cand[i] for i in ids])
        w = np.array([float(weights.get(i, 0)) for i in ids])
        if len(ids) <= k:
            centers = pts
        else:
            # weighted Lloyd on the candidate set (deterministic seeding:
            # k highest-weight candidates, id tiebreak)
            order = np.lexsort((ids, -w))
            centers = pts[order[:k]].copy()
            for _ in range(20):
                d2 = ((pts[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)
                moved = 0.0
                for j in range(len(centers)):
                    m = a == j
                    if w[m].sum() > 0:
                        nc = (pts[m] * w[m, None]).sum(axis=0) / w[m].sum()
                        moved += float(((nc - centers[j]) ** 2).sum())
                        centers[j] = nc
                if moved < 1e-12:
                    break
        rows = [(int(j), [float(x) for x in centers[j]])
                for j in range(len(centers))]
        return vecs.sparkSession.createDataFrame(
            rows, "centroid_id long, centroid array<double>"
        )
    finally:
        vecs.unpersist()


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus vector whose
    best cosine against ANY benchmark/eval vector reaches ``threshold``.

    Completes the decontamination family (n-gram ``pipeline.decontaminate``,
    Bloom, and span excision catch verbatim overlap; this catches
    PARAPHRASED eval leakage that no lexical gate sees — the reason
    modern training pipelines run both). Reference scope: the gate runs
    where the reference's ETL applies its row-exclusion predicates
    (src/nexus_processor/parquet.py event filtering); the semantics here
    are the embedding analog for training corpora.

    100 TB shape: the benchmark is an eval suite — thousands of rows, not
    data-scale — so it BROADCASTS; scoring is a map-side nested loop over
    the corpus scan and the only exchange is the skinny per-id partial-max
    (map-side combine collapses the |bench| scored rows per corpus vector
    before the shuffle). Nothing corpus-sized is ever joined or windowed.

    Deterministic output per corpus vector: the max rounded cosine with a
    lowest-bench-id tiebreak (``max(struct(cos, -bench_id))``), plus the
    boolean gate. Zero-norm corpus vectors (undefined cosine) are dropped,
    documented and mirrored by the oracle's ``cos IS NOT NULL``.

    Output: ``id_col``, bench_id, max_cos, contaminated.
    """
    q, c = _sides(benchmark, corpus, id_col, vec_col)
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias(id_col),
            F.col("query_id").alias("bench_id"),
            _cos().alias("cos"),
        )
        .filter(F.col("cos").isNotNull())
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("cos").alias("c"),
                    (-F.col("bench_id")).alias("nb"),
                )
            ).alias("_m")
        )
        .select(
            id_col,
            (-F.col("_m.nb")).alias("bench_id"),
            F.col("_m.c").alias("max_cos"),
            (F.col("_m.c") >= F.lit(threshold)).alias("contaminated"),
        )
    )


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    fetch_m: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance top-k: retrieve diverse results, not k
    near-copies of the best hit (Carbonell & Goldstein 1998) — the
    re-ranker RAG retrieval and dedup-aware sampling run after ANN.

    Greedy: pick the most relevant candidate first, then repeatedly the
    candidate maximizing ``lam * cos(q, d) - (1 - lam) * max_{s in
    selected} cos(d, s)`` (no penalty term for the first pick; the max
    is the TRUE max — negative pair cosines earn a diversity bonus;
    ties break on ascending id). Selection is inherently sequential in
    k —
    the distributed phase is the corpus-scale part:

    * Phase 1 (scale): exact top-``fetch_m`` candidate fetch per query
      via :func:`brute_force_topk` — corpus-scan bound, broadcast query
      side, the same 100 TB shape as every other retrieval here.
    * Phase 2 (bounded): one ``applyInPandas`` group per query over its
      ``fetch_m`` candidate rows — a constant-size kernel (m x m gram),
      never corpus-sized, numerically identical to the unrolled-SQL
      oracle: relevance and pair cosines round at ``round_digits``
      before scoring and the score arithmetic is the same IEEE ops both
      engines run (``1 - lam`` is COMPUTED, not a literal, so both sides
      use the identical double).

    Output: query_id, rank (pick order 1..k), ``id_col``, relevance
    (rounded query cosine), mmr_score_e7 (selection score scaled by 1e7
    to an exact integer: the score is a 0.7/0.3 combination of two
    6-decimal values — a 7-decimal decimal — so rounding it at 6 digits
    sits ON the half-up boundary for ~10% of rows, where two engines'
    renderings of the same double legitimately disagree; the scaled
    integer is within 1e-9 of the double both engines compute, so the
    cast is boundary-free and hash-stable).
    """
    cand = brute_force_topk(
        queries, corpus, fetch_m, id_col=id_col, vec_col=vec_col
    )
    cvec = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv")
    )
    grouped = cand.join(cvec, "vec_id").select(
        "query_id", "vec_id", "cos", "_cv"
    )
    schema = (
        f"query_id long, rank long, {id_col} long, "
        "relevance double, mmr_score_e7 long"
    )

    def kernel(g):
        import numpy as np
        import pandas as pd

        from nexus_processor_spark.operators.vector_arrow import (
            _mat, _round_half_up,
        )

        g = g.sort_values("vec_id", ignore_index=True)
        rel = g["cos"].to_numpy(dtype=np.float64)
        ids = g["vec_id"].to_numpy(dtype=np.int64)
        v = _mat(g["_cv"])
        n = np.sqrt((v * v).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            u = v / n[:, None]
        u[n == 0] = 0.0
        pc = _round_half_up(u @ u.T, round_digits)
        m = len(ids)
        kk = min(k, m)
        picked = np.zeros(m, dtype=bool)
        # true running max pair-cosine vs the selected set — starts at
        # -inf, NOT 0: cosines go negative, and clamping the max at 0
        # would silently drop the diversity BONUS an anti-correlated
        # candidate earns (the first pick has no penalty term at all)
        pen = np.full(m, -np.inf)
        out_rank, out_id, out_rel, out_score = [], [], [], []
        for r in range(1, kk + 1):
            if r == 1:
                score = lam * rel
            else:
                score = lam * rel - (1.0 - lam) * pen
            score[picked] = -np.inf
            # argmax with ascending-id tiebreak: ids are sorted, so the
            # first index attaining the max IS the smallest id
            best = int(np.argmax(score))
            picked[best] = True
            np.maximum(pen, pc[:, best], out=pen)
            out_rank.append(r)
            out_id.append(ids[best])
            out_rel.append(rel[best])
            out_score.append(score[best])
        qid = g["query_id"].iloc[0]
        return pd.DataFrame(
            {
                "query_id": np.full(kk, qid, dtype=np.int64),
                "rank": np.array(out_rank, dtype=np.int64),
                id_col: np.array(out_id, dtype=np.int64),
                "relevance": np.array(out_rel),
                "mmr_score_e7": _round_half_up(
                    np.array(out_score) * 1e7
                ).astype(np.int64),
            }
        )

    return (
        grouped.groupBy("query_id")
        .applyInPandas(lambda _, g: kernel(g), schema)
    )


def _nearest_cells(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """Each query's ``nprobe`` nearest coarse cells by rounded squared
    L2 with a centroid-id tiebreak (the assignment's rule, summed by
    Spark's fold so the oracle replays it): ``query_id, cell, _vq``.
    O(n_queries x k_cells) rows, never corpus-scale."""
    qdist = (
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("_vq"))
        .crossJoin(
            F.broadcast(
                centroids.select(
                    F.col(id_col).alias("cell"),
                    F.col(vec_col).alias("_cv"),
                )
            )
        )
        .select(
            "query_id", "cell", "_vq",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("_vq"), F.col("_cv"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ),
                round_digits,
            ).alias("dist"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy("dist", "cell")
    return (
        qdist.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "cell", "_vq")
    )


def ivf_multiprobe_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    *,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    cells: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k probing each query's ``nprobe`` nearest coarse cells —
    the recall dial of a production IVF index (single-probe misses
    neighbors that fell just across a cell boundary; probing 2-4 cells
    recovers most of them for a proportional, still-tiny scan cost).

    ``cells`` supplies a PRE-BUILT ``(id, cell)`` assignment (the
    persisted index — at ingest time in production, so a search never
    pays the corpus assignment; bench annbench measures exactly this
    split). By default the corpus is assigned to the trained centroid
    cells here with ``vector_arrow.kmeans_assign_arrow`` (at ingest time
    in production — partition the store by cell and the probe equi-join
    prunes to nprobe partitions per query).

    Queries rank the SAME rounded squared-L2 with the same
    centroid-id tiebreak, take their ``nprobe`` best cells, and the
    broadcast (query x probe) relation equi-joins the corpus on cell:
    never a corpus shuffle, never a pair space beyond the probed lists.

    Output: query_id, ``id_col``, cos, rank — same shape as
    :func:`ivf_topk`, directly comparable via :func:`recall_at_k`.
    """
    if cells is None:
        cells = vector_arrow.kmeans_assign_arrow(
            corpus, centroids, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits,
        ).select(id_col, F.col("centroid_id").alias("cell"))
    c = (
        spread(corpus)
        .join(cells, id_col)
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("_vc"),
            norm(F.col(vec_col)).alias("_nc"),
            "cell",
        )
    )
    probes = _nearest_cells(
        queries, centroids, nprobe, id_col, vec_col, round_digits
    ).select("query_id", "cell", "_vq", norm(F.col("_vq")).alias("_nq"))
    scored = (
        c.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _cos().alias("cos"))
    )
    return _ranked_topk(scored, k)


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k over symmetric-int8-quantized vectors scored by the raw
    INTEGER dot product of the code vectors — the 4x-shrunk scan a
    100 TB vector corpus runs when full float recall isn't needed.

    The integer score orders by ``x.y / (sx * sy)`` (sx, sy = max-abs
    scales), an approximation of cosine order whose quality is
    measurable with :func:`recall_at_k` against
    :func:`brute_force_topk`; L2-normalize upstream for true cosine
    semantics. All arithmetic is exact integers after the one
    deterministic quantization rounding, so the oracle replays it with
    no float tolerance at all. Null and zero vectors (no scale) are
    excluded on both sides. It is the candidate stage of
    :func:`int8_rerank_topk` with ``candidates = k`` and no re-rank.

    Output: query_id, vec_id, score_q, rank.
    """
    codes = vector_arrow.pack_int8_codes(
        corpus, id_col=id_col, vec_col=vec_col)
    return _int8_candidates(queries, codes, None, k, id_col, vec_col)


def cluster_balanced_sample(
    corpus: DataFrame,
    centroids: DataFrame,
    per_cell: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "cbal",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Diversity-stratified selection: assign every vector to its
    nearest coarse cell, then keep at most ``per_cell`` rows per cell
    in a deterministic salted-hash order — the topic-balanced
    subsample that stops a pretraining mix from collapsing onto its
    dominant embedding clusters (the cluster-then-balance recipe of
    diversity-aware data selection, e.g. D4 / SemDeDup-style pipelines;
    public literature). Hash order (``md5(salt || id)``), not score
    order, makes the within-cell pick unbiased and engine-reproducible
    — the same deterministic-sampling discipline as
    ``pipeline.hash_sample``.

    ``assigned`` optionally supplies a pre-built ``(id, centroid_id)``
    assignment (the persisted IVF cell map — at ingest time in
    production, same contract as ``ivf_multiprobe_topk(cells=...)``).

    Scale shape: one corpus assignment pass (dense centroid matrix in
    the task closure via the Arrow kernel), then one window per cell
    that a partial WindowGroupLimit cuts to ``cells x per_cell`` rows
    before the final shuffle — the corpus never sorts globally.

    Output: ``(id_col, centroid_id, pick_rank)``.
    """
    if assigned is None:
        assigned = vector_arrow.kmeans_assign_arrow(
            corpus, centroids, id_col=id_col, vec_col=vec_col)
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy("centroid_id").orderBy(h, F.col(id_col))
    return (
        assigned.select(id_col, "centroid_id")
        .withColumn("pick_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("pick_rank") <= per_cell)
    )


def int8_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    *,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Production int8 search: quantized CANDIDATE GENERATION + exact
    float re-rank — the shape that makes the 4x/8x-shrunk scan actually
    pay (the pure int8 top-k, :func:`int8_topk`, loses recall to the
    quantization error).

    Stage 1 scans the PACKED int8 corpus (``codes`` — build once at
    ingest with :func:`operators.vector_arrow.pack_int8_codes`; 64
    bytes/vector at dim 64) with one float32 BLAS GEMM per Arrow batch
    — exact integer int8 dots (``vector_arrow.int8_candidates_arrow``)
    — keeping each batch's top-``candidates`` per query by (score DESC,
    id).
    Stage 2 window-selects the global top-``candidates`` (exact — the
    per-partition sets provably contain it) and re-scores ONLY those
    ``candidates x n_queries`` rows with the full-precision cosine
    brute force uses, so recall is capped only by whether a true
    neighbor fell outside the int8 top-C (measured in annbench:
    candidate recall ~1.0 at C=50 where the raw int8 top-10 sits at
    ~0.65).

    At 100 TB: the candidate scan reads the packed tier (4x/8x fewer
    bytes than the float corpus), map-only, no shuffle; the re-rank
    touches ``candidates`` full vectors per query via a broadcast
    semi-join — I/O proportional to queries, not corpus. Output:
    query_id, vec_id, cos, rank — same shape as
    :func:`brute_force_topk`, directly comparable via
    :func:`recall_at_k`.
    """
    if codes is None:
        codes = vector_arrow.pack_int8_codes(
            corpus, id_col=id_col, vec_col=vec_col)
    return _int8_rerank(
        queries, corpus, k, candidates, codes, None, id_col, vec_col)


def ivf_int8_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    *,
    nprobe: int = 2,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    cells: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF cells COMPOSED with the packed-int8 rerank tier (VERDICT r8
    next #6): the quantized candidate scan of :func:`int8_rerank_topk`
    restricted to each query's ``nprobe`` nearest coarse cells, then
    the same exact float re-rank of the global top-``candidates``.

    Why compose: the flat packed scan reads the WHOLE 4x/8x-shrunk
    tier per search; with the packed codes written partitioned by
    coarse cell (ingest-time, like the IVF index itself), the probe
    union is an ``isin`` filter partition pruning turns into reading
    ~nprobe/k_cells of the tier — the two cost dials (cell pruning,
    byte shrink) multiply instead of competing. Recall is capped by
    the probed cells (== :func:`ivf_multiprobe_topk` at the same
    nprobe) since the int8 candidate stage inside a cell set loses
    essentially nothing at realistic C (annbench: candidate recall
    ~1.0 at C=50).

    ``codes`` supplies the PRE-BUILT index: ``(id_col, code, cell)``,
    the persisted packed tier with its partition column. By default it
    is built here, ingest work a search never pays in production: from
    ``cells``, a pre-built ``(id_col, cell)`` assignment, when given,
    else by ``vector_arrow.pack_int8_cell_codes`` on ``centroids``.
    ``cells`` is read only to build ``codes``.

    Probe selection replays :func:`ivf_multiprobe_topk`'s exact
    semantics (rounded squared-L2, centroid-id tiebreak, Spark-side
    fold accumulation) so the DuckDB oracle reproduces the cell set
    bit-for-bit; the candidate stage is exact integer arithmetic; the
    re-rank is brute force's cosine. Output: query_id, vec_id, cos,
    rank — comparable to every other top-k via :func:`recall_at_k`.
    """
    if codes is None:
        codes = (
            vector_arrow.pack_int8_cell_codes(
                corpus, centroids, id_col, vec_col, round_digits)
            if cells is None else
            vector_arrow.pack_int8_codes(
                corpus, id_col=id_col, vec_col=vec_col).join(cells, id_col)
        )
    probes = _nearest_cells(
        queries, centroids, nprobe, id_col, vec_col, round_digits
    ).select("query_id", "cell")
    return _int8_rerank(
        queries, corpus, k, candidates, codes, probes, id_col, vec_col)


def _int8_candidates(
    queries: DataFrame,
    codes: DataFrame,
    probes: DataFrame | None,
    candidates: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Each query's top-``candidates`` corpus rows by exact integer int8
    dot, ranked (score_q DESC, vec_id), self rows excluded: ``query_id,
    vec_id, score_q, rank``. The queries are collected and quantized
    once on the driver; a null or all-zero query has no code and no
    rows, and with no coded query the result is empty. ``codes`` is the
    packed tier ``(id_col, code, ...)``; ``probes`` holds the
    ``(query_id, cell)`` pairs of an IVF search (``codes`` then carries
    ``cell``), or is None for a flat scan of every row."""
    import numpy as np

    rows = queries.where(F.col(vec_col).isNotNull()).select(
        id_col, vec_col).collect()
    q8, scale = vector_arrow.quantize_int8_rows(
        np.array([r[1] for r in rows], dtype=np.float64))
    ok = scale > 0
    qids = np.array([r[0] for r in rows], dtype=np.int64)[ok]
    if not qids.size:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, vec_id long, score_q long, rank long")
    if probes is None:
        codes = codes.select(id_col, "code", F.lit(0).alias("cell"))
        cell_ids = np.zeros(1, dtype=np.int64)
        allowed = np.ones((1, qids.size), dtype=bool)
    else:
        qpos = {q: j for j, q in enumerate(qids.tolist())}
        pairs = [(int(r["cell"]), qpos[r["query_id"]])
                 for r in probes.collect() if r["query_id"] in qpos]
        cell_ids = np.unique(np.array([c for c, _ in pairs], dtype=np.int64))
        allowed = np.zeros((cell_ids.size, qids.size), dtype=bool)
        for c, j in pairs:
            allowed[np.searchsorted(cell_ids, c), j] = True
        # probe-union filter: partition pruning when the packed tier is
        # written partitioned by cell — the scan reads ~nprobe/k_cells
        codes = codes.filter(F.col("cell").isin(cell_ids.tolist()))
    cand = vector_arrow.int8_candidates_arrow(
        codes, qids, q8[ok], cell_ids, allowed, candidates, id_col=id_col)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), "vec_id")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= candidates)
    )


def _int8_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    candidates: int,
    codes: DataFrame,
    probes: DataFrame | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The int8 re-rank tier: :func:`_int8_candidates`' global top-C,
    re-scored with brute force's full-precision cosine — only those
    ``candidates x n_queries`` rows, fetched by a broadcast semi-join
    (I/O proportional to queries, not corpus)."""
    cand = _int8_candidates(
        queries, codes, probes, candidates, id_col, vec_col
    ).select("query_id", "vec_id")
    q, c = _sides(queries, corpus, id_col, vec_col)
    scored = (
        c.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "vec_id", _cos().alias("cos"))
    )
    return _ranked_topk(scored, k)


def pca_power_scores(
    vectors: DataFrame,
    *,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_scale: int = 1024,
    v_scale: int = 1 << 16,
) -> DataFrame:
    """Dominant principal direction of an embedding corpus by
    distributed POWER ITERATION (uncentered PCA / top right-singular
    vector; classic numerical linear algebra — public literature), and
    each vector's projection onto it — the 1-D "spectral score" used to
    rank/bucket a corpus along its main axis of variation (outlier
    sniffing, diversity binning) without any eigensolver library.

    Every cross-engine-visible number is EXACT INTEGER arithmetic:
    vectors quantize once to ``round(x * q_scale)`` longs; the iterate
    ``v`` is an integer vector at scale ``v_scale`` (a power of two, so
    the driver-side renormalization ``round(t / ||t|| * v_scale)``
    multiplies exactly); the two matvecs per iteration are integer
    SUMS — order-free, so the DuckDB oracle replays the whole
    trajectory to the last bit (same discipline as
    ``classifier.logreg_fit``). ``||t||`` is the float sqrt of the
    EXACT integer sum of squares — one deterministic double op.

    Scale shape: per iteration, one map-side-combinable ``groupBy(id)``
    (s = Xv, products bounded by dim * q_scale * v_scale) and one
    64-group ``groupBy(dim)`` (t = X's); the driver sees only the
    dim-length t vector (O(dim) traffic, kmeans/logreg pattern).
    Integer-overflow guard is ANSI mode itself: sum(long) past 2^63
    fails loudly — at default scales that admits ~250k rows per call
    (|t_j| <= rows * dim * q_scale^2 * v_scale); shrink ``v_scale``
    proportionally for bigger corpora.

    Output: ``(id_col, score)`` — score = <xq, v_final>, an exact long.
    """
    import math

    qv = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * F.lit(q_scale), 0).cast("long"),
    )
    xq = vectors.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), qv.alias("_xq"))
    dim = _probe_dim(xq, "_xq", "pca_power_scores")
    if dim is None:
        return vectors.select(
            F.col(id_col), F.lit(None).cast("long").alias("score")
        ).limit(0)
    ex = xq.select(
        F.col(id_col), F.posexplode("_xq").alias("_j", "_x")
    ).persist()
    ex.count()  # prime: scanned 2x per iteration + once for the scores
    try:
        v = [v_scale] * dim

        def s_frame(vcur: list[int]) -> DataFrame:
            vlit = F.array(*[F.lit(int(c)).cast("long") for c in vcur])
            return (
                ex.select(
                    F.col(id_col),
                    (F.col("_x")
                     * F.element_at(vlit, F.col("_j") + 1)).alias("_p"),
                )
                .groupBy(id_col)
                .agg(F.sum("_p").alias("_s"))
            )

        for _ in range(iterations):
            t_rows = (
                ex.join(s_frame(v), id_col)
                .select("_j", (F.col("_s") * F.col("_x")).alias("_p"))
                .groupBy("_j")
                .agg(F.sum("_p").alias("_t"))
                .collect()
            )
            t = [0] * dim
            for r in t_rows:
                t[r["_j"]] = int(r["_t"])
            norm = math.sqrt(float(sum(ti * ti for ti in t)))
            if norm == 0.0:
                break
            # round half AWAY FROM ZERO — the rule DuckDB's round()
            # and Spark's round() share (Python round() is banker's)
            v = [
                int(math.floor(abs(float(ti) / norm * v_scale) + 0.5))
                * (-1 if ti < 0 else 1)
                for ti in t
            ]
        return s_frame(v).select(
            F.col(id_col), F.col("_s").cast("long").alias("score"))
    finally:
        ex.unpersist()
