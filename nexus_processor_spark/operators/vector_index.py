"""Persisted IVF-int8 vector index: the AT-REST form of the composed
search tier (`similarity.ivf_int8_rerank_topk`).

The in-memory composition already multiplies the two cost dials — cell
pruning and byte shrink — but its probe-union ``isin`` only becomes an
I/O win when the packed tier actually LIVES partitioned by coarse cell.
This module makes that real: ``build_ivf_int8_index`` writes the packed
codes as parquet ``partitionBy("cell")`` (plus the trained centroids
and an index manifest), and ``search`` runs the identical composed
pipeline against the on-disk tier — the probe-union filter hits
Spark's partition pruning, so a search READS ~nprobe/k_cells of the
index bytes (plan-pinned: ``PartitionFilters`` carries the ``isin``;
tests assert it). At 100 TB the index is the only thing a search
touches: 64 B/vector packed codes in the probed cells, plus
``candidates`` full vectors per query for the re-rank.

Layout under ``path``:

* ``codes/cell=<c>/*.parquet``   — (id, code binary), partition col cell
* ``centroids/*.parquet``        — (id, embedding)
* ``index.json``                 — dim, k_cells, id/vec column names,
  and ``codes_dir`` (the CURRENT codes directory — compaction writes a
  fresh directory and republishes the manifest atomically, so readers
  never observe a half-rewritten tier)

Lifecycle: ``append_to_index`` adds one file per touched cell per
commit (the frozen-quantizer IVF maintenance contract); accumulated
appends therefore accrete small files and — under distribution drift —
skew cell populations. ``index_stats`` measures both (files/cell, cell
row skew) and maps them onto the drift audit's measured cliffs as a
``recommendation``; ``compact_index`` coalesces each cell back to
sorted, full-size files via the manifest swap, parking the superseded
directory as a STALE tier that ``vacuum_index`` removes later (so a
reader that opened the index before the swap keeps scanning an intact
immutable directory until the operator explicitly vacuums — the same
publish-then-vacuum split snapshot tables use). Re-training the
quantizer is ``rebuild_index``: it refits centroids over the current
corpus and republishes a versioned ``codes-<uuid>`` +
``centroids-<uuid>`` PAIR under the same park-then-vacuum discipline
(pre-swap readers must never see new cells over old cell-partitioned
codes).

Concurrency contract: searches are safe against a concurrent
``compact_index`` (they hold whichever manifest they opened, and both
directories exist until vacuum). MAINTENANCE is single-writer:
``append_to_index``, ``compact_index``, ``rebuild_index`` and
``vacuum_index`` must not run concurrently with each other — an append
racing a compaction can commit its rows into the pre-swap directory,
where the republished manifest never sees them. Serialize maintenance (one writer), and run
``vacuum_index`` only after in-flight readers of the old tier have
drained (a grace period in a long-running service).

Reference scope: the reference has no vector index; this is the brief's
similarity-search scale path (IVF lists + quantized codes, the public
FAISS recipe) expressed as Spark-native storage + plans.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _codes_path(path: str, manifest: dict) -> str:
    """The manifest-current codes directory (``codes`` until the first
    compaction republishes the pointer)."""
    return os.path.join(path, manifest.get("codes_dir", "codes"))


def _centroids_path(path: str, manifest: dict) -> str:
    """The manifest-current centroids directory (``centroids`` until a
    rebuild republishes the pointer — rebuilds version the quantizer the
    same way compactions version the codes tier, so pre-swap readers
    keep a consistent centroids+codes pair)."""
    return os.path.join(path, manifest.get("centroids_dir", "centroids"))


def _publish_manifest(path: str, manifest: dict) -> None:
    """Atomic manifest republication (write-to-temp + ``os.replace`` —
    the same single-file publication point every snapshot commit in
    ``sources/snapshots.py`` relies on)."""
    tmp = os.path.join(path, "index.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, os.path.join(path, "index.json"))


def build_ivf_int8_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> dict:
    """Ingest-time index build: assign every corpus vector to its
    nearest centroid (``vector_arrow.kmeans_assign_arrow`` — the
    oracle-exact rounded-L2 + id tiebreak), pack its int8 code (64 B/vector at
    dim 64), and write the codes parquet PARTITIONED BY CELL so the
    search-time probe union prunes partitions. One corpus pass; the
    shuffle is the ``partitionBy`` write clustering (unavoidable — it
    IS the index). Returns the manifest dict."""
    from nexus_processor_spark.operators import similarity, vector_arrow

    dim = similarity._probe_dim(corpus, vec_col, "build_ivf_int8_index")
    if dim is None:
        raise ValueError("cannot index an empty/all-null corpus")
    cells = vector_arrow.kmeans_assign_arrow(
        corpus, centroids, id_col=id_col, vec_col=vec_col,
        round_digits=round_digits,
    ).select(id_col, F.col("centroid_id").alias("cell"))
    codes = vector_arrow.pack_int8_codes(
        corpus, id_col=id_col, vec_col=vec_col
    ).join(cells, id_col)
    # cluster by cell BEFORE the partitioned write: without it every
    # shuffle partition emits one file into every cell directory
    # (k_cells x shuffle.partitions small files — measured as the
    # disk tier's 35% qps deficit vs the in-memory composed tier in
    # annbench1m r9); repartition("cell") lands each cell wholly in
    # one task, so the tier is ~one full-size file per cell, scanned
    # sorted by id (stable rerank candidate order, better encoding)
    (codes.repartition("cell").sortWithinPartitions(id_col)
     .write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(path, "codes")))
    centroids.select(id_col, vec_col).write.mode("overwrite").parquet(
        os.path.join(path, "centroids"))
    k_cells = centroids.count()
    manifest = {
        "dim": int(dim), "k_cells": int(k_cells),
        "id_col": id_col, "vec_col": vec_col,
        "round_digits": round_digits,
        "codes_dir": "codes",
    }
    _publish_manifest(path, manifest)
    return manifest


def open_index(
    spark: SparkSession, path: str
) -> tuple[dict, DataFrame, DataFrame]:
    """(manifest, centroids, codes) — codes carry the ``cell``
    partition column, so filters on it prune at the source."""
    with open(os.path.join(path, "index.json")) as fh:
        manifest = json.load(fh)
    centroids = spark.read.parquet(_centroids_path(path, manifest))
    codes = spark.read.parquet(_codes_path(path, manifest))
    return manifest, centroids, codes


def search(
    spark: SparkSession,
    queries: DataFrame,
    corpus: DataFrame,
    path: str,
    k: int = 5,
    *,
    nprobe: int = 2,
    candidates: int = 50,
) -> DataFrame:
    """Composed search against the persisted tier: identical semantics
    (and oracle) to ``similarity.ivf_int8_rerank_topk`` with the index's
    cells/codes — the probe-union ``isin`` lands in the parquet scan's
    ``PartitionFilters``, so only the probed cells' files are read.
    ``corpus`` supplies the full-precision vectors for the re-rank
    (I/O proportional to queries x candidates, not corpus)."""
    from nexus_processor_spark.operators import similarity

    manifest, centroids, codes = open_index(spark, path)
    id_col = manifest["id_col"]
    # cells live in the codes frame itself; pass them through so the
    # operator never recomputes the assignment
    cells = codes.select(id_col, "cell")
    return similarity.ivf_int8_rerank_topk(
        queries, corpus, centroids, k,
        nprobe=nprobe, candidates=candidates,
        id_col=id_col, vec_col=manifest["vec_col"],
        round_digits=manifest["round_digits"],
        cells=cells, codes=codes,
    )


def append_to_index(
    new_vectors: DataFrame,
    path: str,
) -> int:
    """Incremental index maintenance: assign NEW vectors to the
    existing centroids (the quantizer is frozen at build time — the
    standard IVF maintenance contract; re-training is a rebuild) and
    append their packed codes into the cell-partitioned tier. Only the
    touched cells' directories receive files; existing files are never
    rewritten. Returns the number of vectors appended. Searches pick
    the new vectors up immediately — same layout, same oracle
    semantics as a from-scratch build over the union (test-pinned)."""
    from nexus_processor_spark.operators import vector_arrow

    spark = new_vectors.sparkSession
    manifest, centroids, _ = open_index(spark, path)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    cells = vector_arrow.kmeans_assign_arrow(
        new_vectors, centroids, id_col=id_col, vec_col=vec_col,
        round_digits=manifest["round_digits"],
    ).select(id_col, F.col("centroid_id").alias("cell"))
    codes = vector_arrow.pack_int8_codes(
        new_vectors, id_col=id_col, vec_col=vec_col
    ).join(cells, id_col)
    # materialize ONCE before counting and writing: with a
    # non-deterministic source, recomputing the plan for the write
    # could append a different row set than the one counted (ADVICE
    # r9); the persisted frame makes count and write see the same rows
    codes = codes.persist()
    try:
        n = codes.count()
        codes.write.mode("append").partitionBy("cell").parquet(
            _codes_path(path, manifest))
    finally:
        codes.unpersist()
    return n


# Maintenance cliffs, measured by the annbench1m drift audit (r10
# committed artifact): appends from a shifted distribution skewed the
# frozen quantizer's cells to max/mean 2.4, costing -0.10 recall@10 at
# nprobe=8 vs a retrained rebuild (equal again at nprobe=48 — wide
# probing hides a stale quantizer); the same appends accreted 129
# files in the hottest cell, costing -40% serving qps vs the compacted
# one-file-per-cell layout (13.1 -> 19.6 qps controlled delta).
# ``index_stats`` recommends the maintenance action once a dial
# crosses its measured cliff; operators running tighter SLOs should
# act earlier (both dials degrade monotonically on the way up).
SKEW_REBUILD_CLIFF = 2.4
FILES_COMPACT_CLIFF = 129


def index_stats(spark: SparkSession, path: str) -> dict:
    """Lifecycle health of the codes tier in one aggregate pass:
    ``files_per_cell_max`` measures append accretion (every
    ``append_to_index`` adds >= 1 file to each touched cell),
    ``cell_skew`` = max cell population over the MEAN ACROSS ALL
    ``k_cells`` quantizer cells (empty cells count — drift that
    abandons cells is skew too) measures frozen-quantizer drift;
    ``cells`` counts populated cells only. ``recommendation`` maps the
    dials onto the drift audit's measured cliffs: ``"rebuild"`` when
    skew crossed :data:`SKEW_REBUILD_CLIFF` (the quantizer itself is
    stale — compaction would not recover the recall), ``"compact"``
    when accretion crossed :data:`FILES_COMPACT_CLIFF`, else
    ``"ok"``. An empty tier returns zeroed stats and ``"empty"``."""
    manifest, _, codes = open_index(spark, path)
    k_cells = int(manifest["k_cells"])
    per_cell = (
        codes.select("cell", F.input_file_name().alias("_file"))
        .groupBy("cell").agg(
            F.count(F.lit(1)).alias("_rows"),
            F.countDistinct("_file").alias("_files"),
        )
        .agg(
            F.sum("_rows").alias("rows"),
            F.count(F.lit(1)).alias("cells"),
            F.min("_rows").alias("rows_min"),
            F.max("_rows").alias("rows_max"),
            F.sum("_files").alias("files"),
            F.max("_files").alias("files_per_cell_max"),
        )
        .first()
    )
    if per_cell["rows"] is None:
        return {
            "rows": 0, "cells": 0, "rows_min": 0, "rows_max": 0,
            "cell_skew": 0.0, "files": 0, "files_per_cell_max": 0,
            "recommendation": "empty",
        }
    rows = int(per_cell["rows"])
    skew = round(per_cell["rows_max"] / (rows / k_cells), 3)
    files_max = int(per_cell["files_per_cell_max"])
    if skew >= SKEW_REBUILD_CLIFF:
        rec = "rebuild"
    elif files_max >= FILES_COMPACT_CLIFF:
        rec = "compact"
    else:
        rec = "ok"
    return {
        "rows": rows,
        "cells": int(per_cell["cells"]),
        "rows_min": int(per_cell["rows_min"]),
        "rows_max": int(per_cell["rows_max"]),
        "cell_skew": skew,
        "files": int(per_cell["files"]),
        "files_per_cell_max": files_max,
        "recommendation": rec,
    }


def compact_index(spark: SparkSession, path: str) -> dict:
    """Coalesce the codes tier back to the build layout (one task per
    cell, files sorted by id) WITHOUT touching the quantizer: reads the
    current tier, writes a fresh ``codes-<uuid>`` directory, atomically
    republishes ``index.json`` to point at it, and PARKS the old
    directory on the manifest's ``stale_dirs`` list instead of deleting
    it — readers that opened the index before the swap keep reading an
    intact immutable directory; new opens see only the compacted tier
    (search results identical, pinned by tests). Disk for the stale
    tier is reclaimed by :func:`vacuum_index` once those readers have
    drained (module docstring's single-writer contract). Returns the
    post-compaction ``index_stats``."""
    manifest, _, codes = open_index(spark, path)
    old_name = manifest.get("codes_dir", "codes")
    new_name = f"codes-{uuid.uuid4().hex}"
    (codes.repartition("cell").sortWithinPartitions(manifest["id_col"])
     .write.mode("overwrite").partitionBy("cell")
     .parquet(os.path.join(path, new_name)))
    manifest = {
        **manifest,
        "codes_dir": new_name,
        "stale_dirs": [*manifest.get("stale_dirs", []), old_name],
    }
    _publish_manifest(path, manifest)
    return index_stats(spark, path)


def rebuild_index(
    corpus: DataFrame,
    path: str,
    *,
    centroids: DataFrame | None = None,
    iters: int = 2,
    init: str = "parallel",
) -> dict:
    """Retrain the quantizer IN PLACE: fit fresh centroids over the
    CURRENT full-precision corpus (``similarity.kmeans_fit``; or take
    caller-supplied ``centroids``), re-assign + re-pack every vector,
    and republish the manifest to the new ``codes-<uuid>`` /
    ``centroids-<uuid>`` pair — the maintenance action for
    frozen-quantizer drift, where compaction cannot recover recall
    because the CELLS themselves are stale (drift audit: skew 2.4 cost
    −0.10 recall@10 at nprobe=8; a retrained rebuild recovered it).

    Both superseded directories are PARKED on ``stale_dirs`` (not
    deleted), so a reader that opened the index pre-swap keeps a
    consistent centroids+codes pair until :func:`vacuum_index` —
    versioning the quantizer exactly like :func:`compact_index`
    versions the codes tier; an unversioned centroids overwrite would
    hand pre-swap readers NEW cells over OLD cell-partitioned codes
    (silently wrong probes, not just missing files). Single-writer like
    all maintenance. Returns the post-rebuild :func:`index_stats`."""
    from nexus_processor_spark.operators import similarity, vector_arrow

    spark = corpus.sparkSession
    with open(os.path.join(path, "index.json")) as fh:
        manifest = json.load(fh)
    id_col, vec_col = manifest["id_col"], manifest["vec_col"]
    if centroids is None:
        trained = similarity.kmeans_fit(
            corpus, k=int(manifest["k_cells"]), iters=iters,
            id_col=id_col, vec_col=vec_col,
            round_digits=manifest["round_digits"], init=init,
        )
        centroids = trained.select(
            F.col("centroid_id").alias(id_col),
            F.col("centroid").alias(vec_col),
        )
    # persist-once: the centroids feed the assign, the write AND the
    # k_cells count — a non-deterministic caller-supplied frame must
    # not train one quantizer and persist another (append_to_index's
    # count/write discipline, ADVICE r9)
    centroids = centroids.select(id_col, vec_col).persist()
    try:
        cells = vector_arrow.kmeans_assign_arrow(
            corpus, centroids, id_col=id_col, vec_col=vec_col,
            round_digits=manifest["round_digits"],
        ).select(id_col, F.col("centroid_id").alias("cell"))
        codes = vector_arrow.pack_int8_codes(
            corpus, id_col=id_col, vec_col=vec_col
        ).join(cells, id_col)
        new_codes = f"codes-{uuid.uuid4().hex}"
        new_cents = f"centroids-{uuid.uuid4().hex}"
        (codes.repartition("cell").sortWithinPartitions(id_col)
         .write.mode("overwrite").partitionBy("cell")
         .parquet(os.path.join(path, new_codes)))
        centroids.write.mode("overwrite").parquet(
            os.path.join(path, new_cents))
        old_codes = manifest.get("codes_dir", "codes")
        old_cents = manifest.get("centroids_dir", "centroids")
        manifest = {
            **manifest,
            # kmeans_fit can shrink k (emptied cells drop out) — the
            # manifest must carry the TRAINED cell count or index_stats'
            # skew denominator and searchers' nprobe sizing go stale
            "k_cells": centroids.count(),
            "codes_dir": new_codes,
            "centroids_dir": new_cents,
            "stale_dirs": [
                *manifest.get("stale_dirs", []), old_codes, old_cents,
            ],
        }
    finally:
        centroids.unpersist()
    _publish_manifest(path, manifest)
    return index_stats(spark, path)


def vacuum_index(spark: SparkSession, path: str) -> list[str]:
    """Remove superseded codes directories parked by earlier
    :func:`compact_index` calls and republish the manifest with an
    empty ``stale_dirs``. Call this only after readers that opened the
    index before the compaction have drained — until then the stale
    tiers are what keeps their scans alive. Returns the directory
    names removed. Single-writer like all maintenance ops."""
    with open(os.path.join(path, "index.json")) as fh:
        manifest = json.load(fh)
    stale = list(manifest.get("stale_dirs", []))
    live = {manifest.get("codes_dir", "codes"),
            manifest.get("centroids_dir", "centroids")}
    removed = []
    for name in stale:
        if name in live:  # never drop a live tier, even on a bad list
            continue
        shutil.rmtree(os.path.join(path, name), ignore_errors=True)
        removed.append(name)
    _publish_manifest(path, {**manifest, "stale_dirs": []})
    return removed
