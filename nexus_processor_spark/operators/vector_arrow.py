"""Arrow-batched numpy kernels for the vector hot paths.

Spark's higher-order array functions (``transform``/``aggregate``/
``zip_with``) evaluate their lambdas *interpreted, per element* — they
never enter whole-stage codegen. At dim 4 that's noise; at dim 64 over
millions of vectors it dominates (measured on the 1M x 64 vecbench:
int8-quantize 34 s native HOF vs ~1-2 s here; nearest-of-32 assignment
18 s vs <1 s). These kernels run the same math as one numpy/BLAS call
per Arrow batch via ``mapInPandas``/``applyInPandas`` — the documented
exception to "UDFs are the slow path": Arrow amortizes the Python
boundary to per-batch, and numpy beats the interpreted JVM loop.

They are the only implementation of nearest-centroid assignment, PQ
encoding, the cell-blocked kNN graph, SemDeDup and the int8 search
tier's numpy steps; the registry's DuckDB oracle SQL is their reference
(``tests/test_vector_arrow.py`` runs both on an edge-case corpus).
Semantics: float64 math, HALF_UP rounding (numpy's ``round`` is
banker's — ``_round_half_up`` mirrors Spark and DuckDB), squared-L2
sums accumulated left to right over the dimensions (``aggregate``'s and
``list_sum``'s order, so rounded distances are exact by construction),
a NULL cosine wherever a vector has zero norm, id tiebreaks.

The int8 tier has one quantizer (``quantize_int8_rows``: every numpy
int8 code in the package), one packed at-rest form
(``pack_int8_codes``, and ``pack_int8_cell_codes`` for the
cell-partitioned IVF tier) and one candidate scan
(``int8_candidates_arrow``). ``quantize_arrow`` keeps a native twin,
``functions.vector``'s column builders, which are the reference side of
curation's ``_sem_tables``; the two are pinned equal.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, IntegerType, LongType, StructField,
    StructType,
)


def _round_half_up(x: np.ndarray, digits: int = 0) -> np.ndarray:
    """Spark/DuckDB ``round`` (HALF_UP, away from zero) — numpy's round
    is HALF_EVEN and would disagree on exact .5 boundaries.

    One allocation, in-place ufunc pipeline: the naive
    ``sign(x)*floor(abs(x)*p+0.5)/p`` spends ~6 array temporaries —
    on the gram-matrix kernels that is hundreds of MB of fresh pages
    per task, and first-touch page faulting (not arithmetic) dominated
    the measured runtime (cold 1.03 s vs warm 0.11 s on a 3125**2
    matrix; this form: 0.07 s)."""
    p = 10.0 ** digits
    out = np.abs(x)
    out *= p
    out += 0.5
    np.floor(out, out=out)
    out /= p
    return np.copysign(out, x, out=out)


def _mat(col: pd.Series) -> np.ndarray:
    return np.array(col.tolist(), dtype=np.float64)


def _nearest(v: np.ndarray, cmat: np.ndarray, digits: int):
    """Index of the nearest row of ``cmat`` for every row of ``v`` and
    its rounded squared-L2 distance. Candidates are scanned in row
    order with strict-less updates, so a rounded tie keeps the lowest
    row — callers order ``cmat`` by id.

    The squares are summed over axis 0 of the transposed (d, n) batch:
    numpy adds the d rows one after another, the order of Spark's
    ``aggregate`` fold and DuckDB's ``list_sum``, so distances are
    bit-equal to the SQL reference before rounding. (``sum(axis=1)``
    on the (n, d) batch sums pairwise instead, and is slower.)"""
    vt = np.ascontiguousarray(v.T)
    best_d = np.full(len(v), np.inf)
    best_j = np.zeros(len(v), dtype=np.int64)
    for j in range(len(cmat)):
        sq = vt - cmat[j][:, None]
        sq *= sq
        d = _round_half_up(sq.sum(axis=0), digits)
        upd = d < best_d
        best_d[upd] = d[upd]
        best_j[upd] = j
    return best_j, best_d


def _unit_rows(v: np.ndarray) -> np.ndarray:
    """Rows scaled to unit norm; a zero-norm row becomes all-NaN, so
    every cosine it takes part in is NaN (emitted as NULL, like the
    SQL reference's division by a zero norm)."""
    n = np.sqrt((v * v).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        return v / n[:, None]


def quantize_int8_rows(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric int8 codes of the rows of ``v``: round-HALF-UP of
    ``x / max|x| * 127``, the rule ``functions.vector.quantize_int8``
    spells as columns. Returns ``(codes, scale)``, codes as float64; an
    all-zero row has scale 0 and no code (its codes are NaN), so
    callers keep ``scale > 0``. An empty input (a collect of no rows
    gives a 1-D one) returns empty arrays."""
    scale = np.abs(v).max(axis=1) if len(v) else np.zeros(0)
    with np.errstate(divide="ignore", invalid="ignore"):
        return _round_half_up(v / scale[:, None] * 127.0), scale


def quantize_arrow(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    digits: int = 6,
) -> DataFrame:
    """Arrow twin of the ``vector_quantize`` projection: per-vector
    ``scale`` (max |x|), int8 codes ``q8``, unit-normalized ``unit``.
    Map-only: no shuffle, one numpy pass per Arrow batch."""
    schema = (
        f"{id_col} long, scale double, q8 array<long>, unit array<double>"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            v = _mat(b[vec_col])
            q8, scale = quantize_int8_rows(v)
            ok = scale > 0
            with np.errstate(divide="ignore", invalid="ignore"):
                n = np.sqrt((v * v).sum(axis=1))
                unit = _round_half_up(v / n[:, None], digits)
            yield pd.DataFrame({
                id_col: b[id_col].to_numpy(),
                "scale": scale,
                "q8": [r.astype(np.int64) if o else None
                       for r, o in zip(q8, ok)],
                "unit": [r if o else None for r, o in zip(unit, ok)],
            })

    return df.select(id_col, vec_col).mapInPandas(kernel, schema)


def _centroid_matrix(
    centroids: DataFrame, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """The (tiny) centroid table collected as (ids, dense k x d matrix),
    rows in id order so a rounded-distance tie keeps the lowest id."""
    rows = sorted(
        centroids.select(id_col, vec_col).collect(), key=lambda r: r[id_col]
    )
    ids = np.array([r[id_col] for r in rows])
    return ids, np.array([list(r[vec_col]) for r in rows], dtype=np.float64)


def kmeans_assign_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """One Lloyd assignment step (the IVF-index training primitive):
    each corpus vector gets its nearest centroid by squared L2, the
    distance rounded to ``round_digits`` with a centroid-id tiebreak, so
    the assignment is deterministic cross-engine.

    The centroid table is tiny by definition (k rows) — it collects to a
    dense k x d matrix shipped in the task closure (the numpy analog of
    a broadcast join), so the corpus pass is map-only. Ids keep their
    types: ``id_col`` takes the corpus's, ``centroid_id`` the
    centroids'.

    Output: ``id_col``, centroid_id, dist.
    """
    ids, cmat = _centroid_matrix(centroids, id_col, vec_col)
    schema = StructType([
        StructField(id_col, corpus.schema[id_col].dataType),
        StructField("centroid_id", centroids.schema[id_col].dataType),
        StructField("dist", DoubleType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            best_j, best_d = _nearest(_mat(b[vec_col]), cmat, round_digits)
            yield pd.DataFrame({
                id_col: b[id_col].to_numpy(),
                "centroid_id": ids[best_j],
                "dist": best_d,
            })

    return corpus.select(id_col, vec_col).mapInPandas(kernel, schema)


def knn_graph_arrow(
    corpus: DataFrame,
    k: int = 5,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """k-nearest-neighbor graph of the WHOLE corpus (every vector is a
    query), blocked by coarse cell — the primitive under semantic dedup,
    graph clustering, and diversity sampling of a training corpus.

    Per-cell all-pairs cosine top-k as ONE BLAS gram matrix per cell
    (``applyInPandas`` over the cell grouping): the pair space is
    sum(|cell|²), never n², and cells must fit in a task. Ranking is by
    rounded cosine descending with a neighbor-id tiebreak; a zero-norm
    vector has a NULL cosine to everyone and ranks after every non-null
    neighbor.

    Output: ``query_id, vec_id, cos, rank`` (neighbors exclude self).
    """
    id_type = corpus.schema[id_col].dataType
    schema = StructType([
        StructField("query_id", id_type),
        StructField("vec_id", id_type),
        StructField("cos", DoubleType()),
        StructField("rank", LongType()),
    ])

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        m = len(g)
        kk = min(k, m - 1)
        if kk <= 0:
            return pd.DataFrame(
                {"query_id": [], "vec_id": [], "cos": [], "rank": []})
        ids = g[id_col].to_numpy()
        u = _unit_rows(_mat(g[vec_col]))
        s = _round_half_up(u @ u.T, round_digits)
        # rank by (self last, NULL last, -cos, vec_id): lexsort is
        # stable and its LAST key is the primary one
        null = np.isnan(s)
        neg = np.where(null, 0.0, -s)
        self_ = np.eye(m, dtype=bool)
        id_rank = np.empty(m, dtype=np.int64)
        id_rank[np.argsort(ids, kind="stable")] = np.arange(m)
        order = np.lexsort(
            (np.broadcast_to(id_rank, (m, m)), neg, null, self_), axis=1)
        top = order[:, :kk]
        rows = np.repeat(np.arange(m), kk)
        cos = s[rows, top.ravel()]
        return pd.DataFrame({
            "query_id": ids[rows],
            "vec_id": ids[top.ravel()],
            "cos": np.where(np.isnan(cos), None, cos),
            "rank": np.tile(np.arange(1, kk + 1, dtype=np.int64), m),
        })

    return (
        corpus.select(id_col, vec_col, cell_col)
        .groupBy(cell_col)
        .applyInPandas(lambda _, g: kernel(g), schema)
    )


def semantic_dedup_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """SemDeDup-style embedding dedup: cluster the corpus to the
    centroids (``kmeans_assign_arrow``), then inside each cluster drop
    every vector that has a LOWER-id cluster-mate at rounded cosine >=
    ``threshold``.

    The keep-lowest-id rule (vs the paper's keep-farthest-from-centroid)
    makes the survivor set a pure function of the pair relation —
    deterministic cross-engine. Each cluster's drop set comes from ONE
    gram matrix (``applyInPandas`` over the cluster grouping): with ids
    sorted, a drop is an upper-triangle any() per column, and the n²
    term is bounded by the largest cluster, never the corpus. A
    zero-norm vector has no cosine, so it neither drops nor is dropped.

    Output: surviving ``id_col, centroid_id`` (one row per kept vector).
    """
    assign = kmeans_assign_arrow(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits,
    )
    tagged = corpus.select(id_col, vec_col).join(
        assign.select(id_col, "centroid_id"), id_col
    )
    schema = StructType(
        [assign.schema[id_col], assign.schema["centroid_id"]])

    def kernel(g: pd.DataFrame) -> pd.DataFrame:
        g = g.sort_values(id_col, ignore_index=True)
        u = _unit_rows(_mat(g[vec_col]))
        # drop j when any i<j (strict upper triangle, ids ascending)
        # sits at rounded cosine >= t. The gram matrix is computed in
        # COLUMN BLOCKS: a full n x n materialization plus rounding
        # temporaries is O(n**2) fresh pages per cell, and with every
        # core running a worker the page-fault churn (not the matmul)
        # dominated and destabilized the wall time (reps swung 10-50 s
        # at 200k vectors; blocked they hold steady). Same per-element
        # arithmetic, same drop set.
        m = len(g)
        dropped = np.zeros(m, dtype=bool)
        block = 1024
        rows = np.arange(m)
        for j0 in range(1, m, block):
            j1 = min(j0 + block, m)
            s = _round_half_up(u @ u[j0:j1].T, round_digits)
            ge = s >= threshold  # NaN (zero norm) compares False
            ge &= rows[:, None] < np.arange(j0, j1)[None, :]
            dropped[j0:j1] = ge.any(axis=0)
        return g.loc[~dropped, [id_col, "centroid_id"]]

    return tagged.groupBy("centroid_id").applyInPandas(
        lambda _, g: kernel(g), schema
    )


def pq_encode_arrow(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """PQ-encode the corpus: each vector becomes ``m`` small integer
    codes, the nearest per-subspace codebook centroid by squared L2
    (rounded, code-id tiebreak — deterministic cross-engine).

    The codebook table (``sub, code_id, centroid``; m·k tiny rows)
    ships dense in the task closure, so encoding is map-only: one
    numpy pass per Arrow batch. A vector whose dim is not a positive
    multiple of ``m``, or whose subvectors are not the codebooks'
    length, fails the batch loudly instead of encoding a truncated
    vector.

    Output: (``id_col``, codes array<int> ordered by subspace).
    """
    rows = codebooks.select("sub", "code_id", "centroid").collect()
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(r["sub"], []).append(r)
    subs = sorted(by_sub)
    if subs != list(range(m)):
        raise ValueError(f"codebooks cover subs {subs}, expected 0..{m - 1}")
    cmats = []
    cids = []
    for s in subs:
        rs = sorted(by_sub[s], key=lambda r: r["code_id"])
        cids.append(np.array([r["code_id"] for r in rs], dtype=np.int64))
        cmats.append(np.array([list(r["centroid"]) for r in rs],
                              dtype=np.float64))
    sublens = {c.shape[1] for c in cmats}
    if len(sublens) != 1:
        raise ValueError(f"codebook subvector lengths differ: {sublens}")
    sl = sublens.pop()
    schema = StructType([
        StructField(id_col, corpus.schema[id_col].dataType),
        StructField("codes", ArrayType(IntegerType())),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            v = _mat(b[vec_col])
            d = v.shape[1] if v.ndim == 2 else 0
            if d < m or d % m:
                raise ValueError(
                    f"vector dim {d} must be a positive multiple of m={m}")
            if d != m * sl:
                raise ValueError(
                    f"vector dim {d} does not match the codebooks' "
                    f"subvector length {sl} x m={m}")
            codes = np.zeros((len(v), m), dtype=np.int32)
            for s in subs:
                best_j, _ = _nearest(
                    v[:, s * sl:(s + 1) * sl], cmats[s], round_digits)
                codes[:, s] = cids[s][best_j]
            yield pd.DataFrame({
                id_col: b[id_col].to_numpy(),
                "codes": list(codes),
            })

    return corpus.select(id_col, vec_col).mapInPandas(kernel, schema)


def pack_int8_codes(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric-int8 codes packed into ONE ``binary`` cell per vector —
    the at-rest form of the 4x/8x-shrunk scan corpus (64 bytes per
    64-dim vector instead of 512 float64 bytes): what a 100 TB vector
    store actually persists for its quantized search tier. Codes come
    from :func:`quantize_int8_rows`; null and all-zero vectors have no
    code and are dropped. Map-only: no shuffle, one numpy pass per
    Arrow batch. Output: ``(id_col, code)``."""
    schema = f"{id_col} long, code binary"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _pack_batch(b, id_col, vec_col)[0]

    return (df.where(F.col(vec_col).isNotNull()).select(id_col, vec_col)
            .mapInPandas(kernel, schema))


def _pack_batch(
    b: pd.DataFrame, id_col: str, vec_col: str
) -> tuple[pd.DataFrame, np.ndarray]:
    """One batch's packed codes ``(id_col, code)`` with all-zero vectors
    dropped, and the float vectors of the rows kept."""
    v = _mat(b[vec_col])
    q8, scale = quantize_int8_rows(v)
    keep = np.flatnonzero(scale > 0)
    return pd.DataFrame({
        id_col: b[id_col].to_numpy(dtype=np.int64)[keep],
        "code": [q8[i].astype(np.int8).tobytes() for i in keep],
    }), v[keep]


def pack_int8_cell_codes(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """The packed tier of an IVF-int8 index in one map-only pass: each
    vector's packed code (as :func:`pack_int8_codes`) and its coarse
    cell, the nearest centroid by :func:`kmeans_assign_arrow`'s rule.
    Output ``(id_col, code, cell)``: the rows of ``pack_int8_codes``
    joined to the assignment on id, so null and all-zero vectors are
    dropped; ``cell`` keeps the centroids' id type."""
    cids, cmat = _centroid_matrix(centroids, id_col, vec_col)
    schema = StructType([
        StructField(id_col, LongType()),
        StructField("code", BinaryType()),
        StructField("cell", centroids.schema[id_col].dataType),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            out, v = _pack_batch(b, id_col, vec_col)
            out["cell"] = cids[_nearest(v, cmat, round_digits)[0]]
            yield out

    return (corpus.where(F.col(vec_col).isNotNull()).select(id_col, vec_col)
            .mapInPandas(kernel, schema))


def int8_candidates_arrow(
    codes: DataFrame,
    query_ids: np.ndarray,
    query_codes: np.ndarray,
    cell_ids: np.ndarray,
    allowed: np.ndarray,
    candidates: int,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-batch top-``candidates`` corpus rows for every query by exact
    INTEGER int8 dot product — the one candidate scan of the int8
    searches in ``operators.similarity``.

    ``codes`` is the packed tier ``(id_col, code, cell)``. A query sees
    only rows whose cell it probes: ``cell_ids`` are the probed cells
    and ``allowed`` is a ``(len(cell_ids), n_queries)`` bool matrix —
    ``allowed[c, j]`` says query ``j`` probes ``cell_ids[c]``. A flat
    scan is the same call with every row in one cell that every query
    probes. Callers pre-filter ``codes`` to ``cell_ids`` (an ``isin``
    that partition pruning eats when the tier is written partitioned by
    cell), so the GEMM only touches probed rows; the mask handles the
    per-query difference within the union.

    The batch unpacks to an (n, d) int8 matrix and scores via ONE
    float32 BLAS GEMM: every int8 product sum is an integer < 2^24 for
    d <= 1024, so float32 accumulation is EXACT integer arithmetic at
    2x the float64 GEMM rate (dims above 1024 fall back to float64,
    exact to 2^53). Selection order is (score DESC, id ASC), through
    the composite ``score * 2^32 - r`` where ``r`` is the id's rank in
    the batch: exact for every long id, so each batch's emission
    contains its true top-C and the downstream window reproduces the
    oracle's candidate set bit for bit. Rows a query may not see (an
    unprobed cell, or the query's own row) are never emitted.

    Emits up to ``candidates`` rows per (batch, query): with P batches
    the downstream global top-C window sees at most P*C rows per query.
    Output: ``query_id, vec_id, score_q`` (all long).
    """
    n_q, dim = query_codes.shape
    if allowed.shape != (cell_ids.size, n_q):
        raise ValueError(
            f"allowed must be (n_cells={cell_ids.size}, n_q={n_q}), "
            f"got {allowed.shape}")
    acc = np.float32 if dim <= 1024 else np.float64
    q_t = np.ascontiguousarray(query_codes.T.astype(acc))
    qid = query_ids.astype(np.int64)
    order = np.argsort(cell_ids.astype(np.int64), kind="stable")
    cells_sorted = cell_ids.astype(np.int64)[order]
    allowed_sorted = np.ascontiguousarray(allowed[order])
    schema = "query_id long, vec_id long, score_q long"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if not len(b):
                continue
            ids = b[id_col].to_numpy(dtype=np.int64)
            row_cells = b["cell"].to_numpy(dtype=np.int64)
            pos = np.minimum(
                np.searchsorted(cells_sorted, row_cells),
                cells_sorted.size - 1)
            # (n, n_q): row i is dead for query j when its cell is not
            # one of j's probes, or when it is j's own row
            dead = ~allowed_sorted[pos]
            dead[cells_sorted[pos] != row_cells] = True
            dead |= ids[:, None] == qid[None, :]
            mat = np.frombuffer(
                b"".join(b["code"].tolist()), dtype=np.int8
            ).reshape(ids.size, -1)
            scores = (mat.astype(acc) @ q_t).astype(np.int64)  # exact
            rank = np.empty(ids.size, dtype=np.int64)
            rank[np.argsort(ids, kind="stable")] = np.arange(ids.size)
            # select the C smallest of -(score * 2^32 - rank); dead rows
            # sit at int64 max, after every live row
            neg = rank[:, None] - scores * np.int64(1 << 32)
            neg[dead] = np.iinfo(np.int64).max
            top = min(candidates, ids.size)
            idx = np.argpartition(neg, top - 1, axis=0)[:top]
            live = ~np.take_along_axis(dead, idx, axis=0)
            qcol = np.broadcast_to(np.arange(n_q), idx.shape)
            yield pd.DataFrame({
                "query_id": qid[qcol[live]],
                "vec_id": ids[idx[live]],
                "score_q": np.take_along_axis(scores, idx, axis=0)[live],
            })

    return codes.select(id_col, "code", "cell").mapInPandas(kernel, schema)
