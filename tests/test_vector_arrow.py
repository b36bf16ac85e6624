"""The Arrow vector kernels against their references: the registry's
DuckDB oracle SQL for the jobs that have one implementation, and the
native column builders for the quantize projection that keeps two —
same math, same rounding (HALF_UP), same id tiebreaks."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from nexus_processor_spark import queries as registry
from nexus_processor_spark.functions import vector
from nexus_processor_spark.operators import similarity, vector_arrow

# deterministic pseudo-random 16-dim floats incl. a negative-heavy and
# an exact-half case (q = x/scale*127 hits .5 for x = scale/254*k), and
# a zero vector (id 200: null q8/unit, null cosines)
_EMB_ROWS = [
    (i, [((i * 31 + j * 17) % 101 - 50) / 50.0 for j in range(16)], i % 7)
    for i in range(200)
] + [(200, [0.0] * 16, 3)]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        _EMB_ROWS, "vec_id long, embedding array<float>, label int"
    )


def _collect_sorted(df, *keys):
    return [tuple(r) for r in df.orderBy(*keys).collect()]


def assert_rows_are_equal(
        got, want, keys, approx=(), abs_tol=0.0):
    """Two results, each ``(columns, rows as dicts)``, have the same
    columns and, ordered by ``keys``, the same non-empty rows: exact on
    every column, except that the float columns in ``approx`` may
    differ by ``abs_tol`` (and are null exactly where the other side is
    null)."""
    (gcols, grows), (wcols, wrows) = got, want
    assert gcols == wcols
    order = lambda r: tuple(r[k] for k in keys)  # noqa: E731
    g, w = sorted(grows, key=order), sorted(wrows, key=order)
    assert len(g) == len(w) > 0
    exact = [c for c in gcols if c not in approx]
    for rg, rw in zip(g, w):
        for c in approx:
            if rw[c] is None:
                assert rg[c] is None, (c, rg, rw)
            else:
                assert rg[c] == pytest.approx(rw[c], abs=abs_tol), (c, rg, rw)
        assert [rg[c] for c in exact] == [rw[c] for c in exact], (rg, rw)


def _spark_rows(df):
    return df.columns, [r.asDict() for r in df.collect()]


# registry query -> (sort keys, approximate columns, their absolute
# tolerance). Ids, ranks and codes are exact.
_ORACLE_CHECKED = {
    "kmeans_assign": (("vec_id",), ("dist",), 1e-9),
    "knn_graph": (("query_id", "rank"), ("cos",), 1e-9),
    "semantic_dedup": (("vec_id",), (), 0.0),
    "pq_encode": (("vec_id",), (), 0.0),
    "pq_topk": (("query_id", "rank"), ("adist",), 1e-9),
    "ivf_pq_topk": (("query_id", "rank"), ("adist",), 1e-9),
    "kmeans_fit": (("centroid_id",), ("centroid_mass",), 1e-9),
    "sim_ivf_multiprobe": (("query_id", "rank"), ("cos",), 1e-9),
}


@pytest.fixture(scope="module")
def emb_dir(tmp_path_factory):
    """The edge-case corpus as the registry's ``embeddings`` table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("emb_sf")
    ids, vecs, labels = zip(*_EMB_ROWS)
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), d / "embeddings.parquet")
    return str(d)


@pytest.mark.parametrize("name", sorted(_ORACLE_CHECKED))
def test_registry_kernels_match_duckdb_oracle(spark, emb_dir, name):
    """Each vector job the Arrow kernels serve, run as its registry
    query on the edge-case corpus — zero vector included — equals the
    registry's DuckDB oracle SQL on the same file."""
    keys, approx, abs_tol = _ORACLE_CHECKED[name]
    got = _spark_rows(registry.queries()[name](spark, emb_dir))
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"'{emb_dir}/embeddings.parquet'")
    cur = con.execute(registry.oracle_sql()[name])
    cols = [c[0] for c in cur.description]
    want = cols, [dict(zip(cols, r)) for r in cur.fetchall()]
    assert_rows_are_equal(got, want, keys, approx=approx, abs_tol=abs_tol)


def test_knn_graph_zero_vector_has_null_cosine_ranked_last(spark):
    """A zero-norm cell-mate has no cosine: it ranks after the real
    neighbor instead of winning rank 1 with a 0.0 score."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [-1.0, 0.1], 0), (3, [0.0, 0.0], 0)],
        "vec_id long, embedding array<double>, label int")
    got = {(r.query_id, r.rank): (r.vec_id, r.cos)
           for r in vector_arrow.knn_graph_arrow(emb, 2).collect()}
    assert got[(1, 1)] == (2, pytest.approx(-0.995037))
    assert got[(1, 2)] == (3, None)
    assert got[(3, 1)] == (1, None) and got[(3, 2)] == (2, None)


def _quantize(emb):
    native = emb.select(
        "vec_id",
        vector.quant_scale(F.col("embedding")).alias("scale"),
        vector.quantize_int8(F.col("embedding")).alias("q8"),
        vector.l2_normalize(F.col("embedding")).alias("unit"),
    )
    return native, vector_arrow.quantize_arrow(emb)


# jobs that keep a native form beside the Arrow kernel -> (builder of
# (native, arrow), sort keys, approximate columns, their absolute
# tolerance). The quantize column builders are the reference side of
# curation's ``_sem_tables``; every int8 search quantizes through
# ``vector_arrow.quantize_int8_rows``. Scale and int8 codes are exact.
_TWINS = {
    "quantize": (_quantize, ("vec_id",), ("unit",), 1e-12),
}


@pytest.mark.parametrize("twin", sorted(_TWINS))
def test_native_and_arrow_twins_agree(emb, twin):
    build, keys, approx, abs_tol = _TWINS[twin]
    native, arrow = build(emb)
    assert_rows_are_equal(
        _spark_rows(arrow), _spark_rows(native), keys,
        approx=approx, abs_tol=abs_tol)


def test_ivf_pq_topk_accepts_preencoded(spark):
    from nexus_processor_spark.operators import similarity, vector_arrow
    from nexus_processor_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = similarity.pq_codebooks(emb.filter(F.col("vec_id") < 8), 4)
    q = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, similarity.ivf_pq_topk(q, emb, cb, 5, 4).collect()))
    enc = vector_arrow.pq_encode_arrow(emb, cb, 4)
    b = sorted(map(tuple, similarity.ivf_pq_topk(
        q, emb, cb, 5, 4, encoded=enc).collect()))
    assert a == b


def test_pack_int8_codes_matches_quantize_int8(emb):
    """The packed binary codes must decode to EXACTLY quantize_int8's
    longs (same HALF_UP rounding), with zero vectors dropped like the
    native isNotNull filter."""
    import numpy as np

    native = {
        r["vec_id"]: r["q8"]
        for r in emb.select(
            "vec_id", vector.quantize_int8(F.col("embedding")).alias("q8")
        ).collect()
        if r["q8"] is not None
    }
    packed = {
        r["vec_id"]: np.frombuffer(r["code"], dtype=np.int8).tolist()
        for r in vector_arrow.pack_int8_codes(emb).collect()
    }
    assert set(packed) == set(native)  # zero vector (id 200) dropped
    for vid, q in native.items():
        assert packed[vid] == list(q), vid


def test_int8_rerank_equals_brute_when_candidates_cover_corpus(emb):
    """With candidates >= corpus size the re-rank scores every pair with
    brute force's exact cosine — the outputs must be IDENTICAL frames
    (same rounding, same tiebreaks)."""
    clean = emb.filter("vec_id < 200")  # drop the zero vector
    q = clean.filter("vec_id < 4")
    got = _collect_sorted(
        similarity.int8_rerank_topk(q, clean, 5, candidates=500),
        "query_id", "rank")
    want = _collect_sorted(
        similarity.brute_force_topk(q, clean, 5), "query_id", "rank")
    assert got == want


def test_int8_rerank_recall_beats_raw_int8_topk(emb):
    """The reason the operator exists: candidate-C + exact re-rank must
    recover (near-)full recall where the raw int8 ordering loses it."""
    clean = emb.filter("vec_id < 200")
    q = clean.filter("vec_id < 8")
    gt = similarity.brute_force_topk(q, clean, 5).select(
        "query_id", "vec_id")
    r_rerank = (
        similarity.recall_at_k(
            similarity.int8_rerank_topk(q, clean, 5, candidates=25),
            gt, 5)
        .agg(F.avg("recall").alias("r")).first()["r"]
    )
    r_raw = (
        similarity.recall_at_k(
            similarity.int8_topk(q, clean, 5), gt, 5)
        .agg(F.avg("recall").alias("r")).first()["r"]
    )
    assert r_rerank >= r_raw
    assert r_rerank >= 0.9


def _flat_candidates(codes, qids, q8, candidates):
    """The candidate kernel as a flat scan: every row in cell 0, which
    every query probes."""
    import numpy as np

    return vector_arrow.int8_candidates_arrow(
        codes.withColumn("cell", F.lit(0)), qids, q8,
        np.zeros(1, dtype=np.int64), np.ones((1, len(qids)), dtype=bool),
        candidates)


def _int8_searches(q, corpus, cents, k, candidates):
    """The three int8 searches, each as (query_id, vec_id) in rank
    order; the IVF one probes every cell of ``cents``."""
    outs = {
        "int8_topk": similarity.int8_topk(q, corpus, k),
        "int8_rerank_topk": similarity.int8_rerank_topk(
            q, corpus, k, candidates=candidates),
        "ivf_int8_rerank_topk": similarity.ivf_int8_rerank_topk(
            q, corpus, cents, k, nprobe=cents.count(),
            candidates=candidates),
    }
    return {name: [(r.query_id, r.vec_id)
                   for r in df.orderBy("query_id", "rank").collect()]
            for name, df in outs.items()}


def test_int8_searches_rank_any_long_id(spark):
    """Score ties rank by id ascending for every long id — negative and
    >= 2^31 included — in all three int8 searches, with the whole
    corpus in one Arrow batch so the candidate kernel's in-batch
    selection decides the ties."""
    tied = [-(1 << 40), -5, 3, 1 << 31, 1 << 40]
    rows = [(i, [1.0, 0.5, 0.0, 0.0]) for i in tied]
    rows += [(i, [0.0, 0.0, 1.0, 0.5]) for i in (-7, 11, 1 << 35)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").coalesce(1)
    q = spark.createDataFrame(
        [(1 << 45, [1.0, 0.5, 0.0, 0.0])],
        "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    want = [(1 << 45, i) for i in tied[:3]]
    got = _int8_searches(q, corpus, cents, 3, 3)
    assert got == dict.fromkeys(got, want)


def test_int8_searches_empty_and_all_zero_queries(spark, emb):
    """An empty query set and an all-zero one (no scale, so no code)
    give each int8 search an empty frame with its usual schema."""
    clean = emb.filter("vec_id < 100")
    cents = clean.filter("vec_id < 4")
    zero = spark.createDataFrame(
        [(300, [0.0] * 16)], "vec_id long, embedding array<float>")
    schemas = {
        "int8_topk": "struct<query_id:bigint,vec_id:bigint,"
                     "score_q:bigint,rank:bigint>",
        "int8_rerank_topk": "struct<query_id:bigint,vec_id:bigint,"
                            "cos:double,rank:bigint>",
    }
    schemas["ivf_int8_rerank_topk"] = schemas["int8_rerank_topk"]
    for q in (clean.limit(0), zero):
        outs = {
            "int8_topk": similarity.int8_topk(q, clean, 5),
            "int8_rerank_topk": similarity.int8_rerank_topk(q, clean, 5),
            "ivf_int8_rerank_topk": similarity.ivf_int8_rerank_topk(
                q, clean, cents, 5),
        }
        for name, df in outs.items():
            assert df.schema.simpleString() == schemas[name], name
            assert df.collect() == [], name


def test_int8_candidates_self_row_score_masked_in_small_batch(spark, emb):
    """An Arrow batch SMALLER than ``candidates`` that contains a query
    vector emits every row but the query's own: a self row with its
    real (maximal) dot would win a global top-C slot downstream and
    silently shrink the candidate set."""
    import numpy as np

    clean = emb.filter("vec_id < 10").coalesce(1)  # one 10-row batch
    codes = vector_arrow.pack_int8_codes(clean)
    qrow = clean.filter("vec_id = 3").first()
    q8 = np.array([
        [round(x / max(abs(v) for v in qrow.embedding) * 127)
         for x in qrow.embedding]])
    out = _flat_candidates(codes, np.array([3]), q8, 50).collect()
    assert sorted(r.vec_id for r in out) == [i for i in range(10) if i != 3]


def test_int8_rerank_self_row_does_not_consume_candidate_slot(emb):
    """End-to-end regression: with candidates == k and the corpus split
    into Arrow batches smaller than ``candidates``, a query that lives
    in the corpus must still get a FULL k-row result — before the fix
    its self row won a top-C slot (real score emitted from the small
    batch) and the late vec_id != query_id filter shrank the candidate
    set to k-1 rows."""
    clean = emb.filter("vec_id < 200").repartition(20)  # ~10-row batches
    q = clean.filter("vec_id = 7")
    got = similarity.int8_rerank_topk(q, clean, 10, candidates=10)
    rows = got.collect()
    assert len(rows) == 10
    assert all(r.vec_id != 7 for r in rows)


def test_int8_candidates_selection_survives_negative_score_majority(emb):
    """Regression for the argpartition negation overflow: -int64min
    wraps to int64min, so masked (self) rows once sorted FIRST in the
    -comp selection — with a batch bigger than ``candidates`` the self
    row consumed one emission slot and the batch contributed only C-1
    real candidates. The kernel's per-batch emission must be the true
    top-C over NON-self rows, here checked against a driver-side
    recompute on an all-in-one-batch corpus."""
    import numpy as np

    clean = emb.filter("vec_id < 50").coalesce(1)  # one 50-row batch
    codes = vector_arrow.pack_int8_codes(clean)
    qrow = clean.filter("vec_id = 3").first()
    scale = max(abs(v) for v in qrow.embedding)
    q8 = np.array([
        [round(x / scale * 127) for x in qrow.embedding]], dtype=float)
    out = _flat_candidates(codes, np.array([3]), q8, 10).collect()
    emitted = {(r.vec_id, r.score_q) for r in out}
    # driver-side truth: int8 dots of every non-self row, top 10
    rows = clean.collect()
    truth = []
    for r in rows:
        if r.vec_id == 3:
            continue
        s = max(abs(v) for v in r.embedding)
        if s == 0:
            continue
        c8 = np.array([round(x / s * 127) for x in r.embedding])
        truth.append((int(r.vec_id), int(c8 @ q8[0])))
    truth.sort(key=lambda t: (-t[1], t[0]))
    assert set(truth[:10]) <= emitted
    assert len(emitted) == 10


def test_int8_candidates_cells_masks_unprobed_and_orders_correctly(spark):
    """The cell restriction: rows outside a query's probed cells are
    never emitted, and the selection is the true top-C over the probed
    rows even when dead pairs are the majority (the exact shape that
    exposed the negation overflow)."""
    import numpy as np

    rows = []
    for i in range(40):
        code = np.full(4, (i % 9) - 4, dtype=np.int8)
        rows.append((i, bytes(code), i % 8))
    codes = spark.createDataFrame(rows, "vec_id long, code binary, cell long")
    qids = np.array([99], dtype=np.int64)
    q8 = np.array([[127.0, 127.0, 127.0, 127.0]])
    cell_ids = np.array([2], dtype=np.int64)   # probe ONLY cell 2
    allowed = np.array([[True]])
    out = vector_arrow.int8_candidates_arrow(
        codes.coalesce(1), qids, q8, cell_ids, allowed, 3).collect()
    # cell 2 rows: vec_id 2,10,18,26,34 with codes (i%9)-4
    want = sorted(
        [(i, int(((i % 9) - 4) * 127 * 4)) for i in range(40) if i % 8 == 2],
        key=lambda t: (-t[1], t[0]))[:3]
    assert sorted((r.vec_id, r.score_q) for r in out) == sorted(want)


def test_ivf_int8_rerank_full_probe_equals_flat_rerank(emb):
    """nprobe == k_cells probes every cell, so the composed operator
    must equal the flat packed-tier rerank exactly."""
    clean = emb.filter("vec_id < 100")
    q = clean.filter("vec_id < 3")
    cents = clean.filter("vec_id < 4")
    got = similarity.ivf_int8_rerank_topk(
        q, clean, cents, 5, nprobe=4, candidates=20)
    want = similarity.int8_rerank_topk(q, clean, 5, candidates=20)
    assert _collect_sorted(got, "query_id", "rank") == _collect_sorted(
        want, "query_id", "rank")


def test_ivf_int8_rerank_restricts_to_probed_cells(emb):
    """Single-probe results only ever contain corpus rows from the
    query's own nearest cell — the partition-pruning contract."""
    clean = emb.filter("vec_id < 100")
    q = clean.filter("vec_id < 3")
    cents = clean.filter("vec_id < 4")
    cells = {
        r.vec_id: r.centroid_id
        for r in vector_arrow.kmeans_assign_arrow(clean, cents).collect()
    }
    got = similarity.ivf_int8_rerank_topk(
        q, clean, cents, 5, nprobe=1, candidates=20).collect()
    assert got
    for r in got:
        assert cells[r.vec_id] == cells[r.query_id]


def test_vector_index_search_matches_in_memory_composition(spark, emb, tmp_path):
    """The persisted IVF-int8 tier: search against the on-disk index
    equals the in-memory composed operator, and the probe-union filter
    lands in the parquet scan's PartitionFilters (real partition
    pruning, not a post-scan filter)."""
    from nexus_processor_spark.operators import vector_index
    from nexus_processor_spark.plans import explain

    clean = emb.filter("vec_id < 100")
    q = clean.filter("vec_id < 3")
    cents = clean.filter("vec_id < 4")
    path = str(tmp_path / "vidx")
    manifest = vector_index.build_ivf_int8_index(clean, cents, path)
    assert manifest["dim"] == 16 and manifest["k_cells"] == 4
    got = vector_index.search(
        spark, q, clean, path, 5, nprobe=2, candidates=20)
    want = similarity.ivf_int8_rerank_topk(
        q, clean, cents, 5, nprobe=2, candidates=20)
    assert _collect_sorted(got, "query_id", "rank") == _collect_sorted(
        want, "query_id", "rank")
    plan = explain.executed_plan(got)
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1)[1][:200]


def test_vector_index_append_equals_rebuild(spark, emb, tmp_path):
    """Incremental maintenance: building on half the corpus then
    appending the other half must search identically to a from-scratch
    build over the union (frozen quantizer, append-only cell dirs)."""
    from nexus_processor_spark.operators import vector_index

    clean = emb.filter("vec_id < 100")
    cents = clean.filter("vec_id < 4")
    q = clean.filter("vec_id < 3")
    inc = str(tmp_path / "inc")
    vector_index.build_ivf_int8_index(
        clean.filter("vec_id < 50"), cents, inc)
    n = vector_index.append_to_index(clean.filter("vec_id >= 50"), inc)
    assert n == 50
    full = str(tmp_path / "full")
    vector_index.build_ivf_int8_index(clean, cents, full)
    got = vector_index.search(spark, q, clean, inc, 5, nprobe=2,
                              candidates=20)
    want = vector_index.search(spark, q, clean, full, 5, nprobe=2,
                               candidates=20)
    assert _collect_sorted(got, "query_id", "rank") == _collect_sorted(
        want, "query_id", "rank")


def test_vector_index_compaction_preserves_search(spark, emb, tmp_path):
    """Lifecycle (VERDICT r9 next #2): repeated appends accrete files
    per cell; compact_index coalesces them behind an atomic manifest
    swap with search results IDENTICAL pre/post, and index_stats
    reports the accretion the compaction resets."""
    from nexus_processor_spark.operators import vector_index

    clean = emb.filter("vec_id < 100")
    cents = clean.filter("vec_id < 4")
    q = clean.filter("vec_id < 3")
    path = str(tmp_path / "vidx")
    vector_index.build_ivf_int8_index(
        clean.filter("vec_id < 40"), cents, path)
    for lo, hi in ((40, 60), (60, 80), (80, 100)):
        vector_index.append_to_index(
            clean.filter(f"vec_id >= {lo} AND vec_id < {hi}"), path)
    before = vector_index.index_stats(spark, path)
    assert before["rows"] == 100
    assert before["files_per_cell_max"] >= 3  # appends accreted files
    pre = _collect_sorted(
        vector_index.search(spark, q, clean, path, 5, nprobe=2,
                            candidates=20),
        "query_id", "rank")
    after = vector_index.compact_index(spark, path)
    assert after["rows"] == 100 and after["cells"] == before["cells"]
    assert after["files_per_cell_max"] == 1  # one sorted file per cell
    assert after["files"] < before["files"]
    post = _collect_sorted(
        vector_index.search(spark, q, clean, path, 5, nprobe=2,
                            candidates=20),
        "query_id", "rank")
    assert pre == post
    # the manifest now points at the compacted dir; the superseded
    # codes dir is PARKED (stale tier — pre-swap readers keep scanning
    # it) until vacuum_index reclaims it (ADVICE r10)
    manifest, _, _ = vector_index.open_index(spark, path)
    assert manifest["codes_dir"].startswith("codes-")
    assert manifest["stale_dirs"] == ["codes"]
    import os
    assert os.path.exists(os.path.join(path, "codes"))
    assert vector_index.vacuum_index(spark, path) == ["codes"]
    assert not os.path.exists(os.path.join(path, "codes"))
    manifest, _, _ = vector_index.open_index(spark, path)
    assert manifest["stale_dirs"] == []
    # vacuum is idempotent and never drops the live tier
    assert vector_index.vacuum_index(spark, path) == []
    assert os.path.exists(os.path.join(path, manifest["codes_dir"]))
    # appends keep working against the compacted tier
    extra = emb.filter("vec_id >= 100 AND vec_id < 110")
    assert vector_index.append_to_index(extra, path) == 10
    assert vector_index.index_stats(spark, path)["rows"] == 110


def test_index_stats_recommendation_at_audit_cliffs(
        spark, emb, tmp_path, monkeypatch):
    """index_stats maps its dials onto the drift audit's measured
    cliffs (VERDICT r10 next #5): files_per_cell_max >= 129 -> compact
    (the audit's -40% qps point), cell_skew >= 2.4 -> rebuild (the
    audit's -0.1 recall@8 point; rebuild outranks compact because
    compaction cannot recover quantizer staleness), and skew is
    measured against ALL k_cells so emptied cells count as drift.
    The cliff crossings are exercised through the REAL code path by
    lowering the constants to this tiny index's measured dials —
    paying 129 real appends here would buy nothing extra."""
    from nexus_processor_spark.operators import vector_index

    # the constants ARE the audit's measured thresholds
    assert vector_index.FILES_COMPACT_CLIFF == 129
    assert vector_index.SKEW_REBUILD_CLIFF == 2.4

    clean = emb.filter("vec_id < 40")
    cents = clean.filter("vec_id < 4")
    path = str(tmp_path / "vidx_rec")
    vector_index.build_ivf_int8_index(clean, cents, path)
    st = vector_index.index_stats(spark, path)
    assert st["recommendation"] == "ok"
    # skew denominator is rows/k_cells (manifest), not populated cells
    assert st["cell_skew"] == round(st["rows_max"] / (st["rows"] / 4), 3)

    # one append accretes a second file into the touched cells
    vector_index.append_to_index(
        emb.filter("vec_id >= 40 AND vec_id < 60"), path)
    st = vector_index.index_stats(spark, path)
    assert st["files_per_cell_max"] >= 2

    # accretion at the measured qps cliff -> compact
    monkeypatch.setattr(
        vector_index, "FILES_COMPACT_CLIFF", st["files_per_cell_max"])
    assert vector_index.index_stats(spark, path)[
        "recommendation"] == "compact"
    # skew at the measured recall cliff -> rebuild, outranking compact
    monkeypatch.setattr(
        vector_index, "SKEW_REBUILD_CLIFF", st["cell_skew"])
    assert vector_index.index_stats(spark, path)[
        "recommendation"] == "rebuild"


def test_index_stats_empty_tier_returns_zeroed(spark, emb, tmp_path):
    """An index whose codes tier has no rows returns zeroed stats and
    recommendation 'empty' instead of TypeError (ADVICE r10)."""
    from nexus_processor_spark.operators import vector_index

    clean = emb.filter("vec_id < 40")
    cents = clean.filter("vec_id < 4")
    path = str(tmp_path / "vidx_empty")
    vector_index.build_ivf_int8_index(clean, cents, path)
    # empty the tier in place: overwrite with zero rows, same schema
    # (unpartitioned so the schema-bearing parquet footer still exists
    # — a zero-row partitionBy write leaves no files at all)
    manifest, _, codes = vector_index.open_index(spark, path)
    import os
    (codes.limit(0).write.mode("overwrite")
     .parquet(os.path.join(path, "codes-none")))
    vector_index._publish_manifest(
        path, {**manifest, "codes_dir": "codes-none"})
    st = vector_index.index_stats(spark, path)
    assert st == {
        "rows": 0, "cells": 0, "rows_min": 0, "rows_max": 0,
        "cell_skew": 0.0, "files": 0, "files_per_cell_max": 0,
        "recommendation": "empty",
    }


@pytest.mark.slow
def test_rebuild_index_retrains_and_parks_tiers(spark, emb, tmp_path):
    """rebuild_index (round 11): the drift-cliff maintenance action.
    Retraining republishes a versioned codes+centroids PAIR — searches
    against the rebuilt index must equal a from-scratch build at the
    new quantizer, both superseded dirs are parked until vacuum, and
    k_cells tracks the trained centroid count."""
    import os

    from nexus_processor_spark.operators import vector_index

    clean = emb.filter("vec_id < 100")
    cents = clean.filter("vec_id < 4")
    q = clean.filter("vec_id < 3")
    path = str(tmp_path / "vidx_rb")
    vector_index.build_ivf_int8_index(clean, cents, path)
    # retrain with caller-supplied centroids: 5 cells (k_cells changes)
    cents2 = clean.filter("vec_id >= 10 AND vec_id < 15")
    after = vector_index.rebuild_index(clean, path, centroids=cents2)
    assert after["rows"] == 100
    manifest, _, _ = vector_index.open_index(spark, path)
    assert manifest["k_cells"] == 5
    assert manifest["codes_dir"].startswith("codes-")
    assert manifest["centroids_dir"].startswith("centroids-")
    assert manifest["stale_dirs"] == ["codes", "centroids"]
    # pre-swap readers keep a consistent pair: both old dirs intact
    assert os.path.exists(os.path.join(path, "codes"))
    assert os.path.exists(os.path.join(path, "centroids"))
    got = vector_index.search(spark, q, clean, path, 5, nprobe=2,
                              candidates=20)
    scratch = str(tmp_path / "vidx_scratch")
    vector_index.build_ivf_int8_index(clean, cents2, scratch)
    want = vector_index.search(spark, q, clean, scratch, 5, nprobe=2,
                               candidates=20)
    assert _collect_sorted(got, "query_id", "rank") == _collect_sorted(
        want, "query_id", "rank")
    # vacuum reclaims BOTH parked tiers, never the live pair
    assert sorted(vector_index.vacuum_index(spark, path)) == [
        "centroids", "codes"]
    assert not os.path.exists(os.path.join(path, "codes"))
    assert not os.path.exists(os.path.join(path, "centroids"))
    assert os.path.exists(os.path.join(path, manifest["codes_dir"]))
    assert os.path.exists(os.path.join(path, manifest["centroids_dir"]))
    # the rebuilt index still serves identically post-vacuum
    post = vector_index.search(spark, q, clean, path, 5, nprobe=2,
                               candidates=20)
    assert _collect_sorted(post, "query_id", "rank") == _collect_sorted(
        want, "query_id", "rank")
