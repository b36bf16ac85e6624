from __future__ import annotations

import math

import numpy as np
import pytest

from nexus_processor_spark.operators import dedup, similarity, vector_arrow


@pytest.fixture()
def docs(spark):
    near_a = "the quick brown fox jumps over the lazy dog again and again today"
    near_b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    rows = [
        (1, near_a),
        (2, near_b),                       # near-dup of 1
        (3, near_a),                       # exact dup of 1
        (4, "completely unrelated words about spark catalyst tungsten engines"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = {r.keep_id: r.n_dups for r in dedup.exact_dedup_groups(docs).collect()}
    assert groups[1] == 2          # 1 and 3 collapse
    survivors = sorted(r.doc_id for r in dedup.exact_dedup(docs).collect())
    assert survivors == [1, 2, 4]  # min id wins


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.minhash_dedup_pairs(docs, threshold=0.0).collect()}
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0   # exact dup
    assert (1, 2) in pairs and 0.5 < pairs[(1, 2)] < 1.0
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_hash_fn_same_verified_pairs(spark):
    """md5 (oracle scheme) and xxhash64 (scale scheme) draw different
    permutations, so raw signatures differ — but the operator's contract
    is the VERIFIED pair set, and on a dup-seeded corpus (same-group
    pairs at Jaccard 1.0 collide in every band under any hash; candidates
    below the gate are filtered either way) both schemes must emit the
    identical result. Pins the ARCHITECTURE.md switching claim."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = []
    for g in range(5):
        text = f"{base} group{g} kilo lima mike november oscar papa"
        for m in range(3):                      # 3 exact dups per group
            rows.append((g * 10 + m, text))
    for i in range(20):                          # sub-threshold noise
        rows.append((1000 + i, f"{base} noise{i} unique{i} words{i} x{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {(g * 10 + a, g * 10 + b)
                for g in range(5) for a in range(3) for b in range(3) if a < b}
    got = {}
    for fn in ("md5", "xxhash64"):
        got[fn] = {(r.id_a, r.id_b)
                   for r in dedup.minhash_dedup_pairs(
                       docs, threshold=0.9, hash_fn=fn).collect()}
    assert got["md5"] == got["xxhash64"] == expected


def test_lsh_max_bucket_caps_fanout(docs):
    sigs = dedup.minhash_signatures(docs)
    capped = dedup.lsh_candidate_pairs(sigs, max_bucket=1)
    assert capped.count() == 0     # every bucket with a collision is dropped


def test_simhash_signatures_stable(docs):
    a = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    b = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    assert a == b
    assert a[1] == a[3]            # identical text, identical signature
    assert all(0 <= v < 2 ** 16 for v in a.values())


def test_simhash_banded_pairs_match_brute_force(spark):
    """Pigeonhole recall check: banded candidates + Hamming verify must
    equal the all-pairs scan for every pair within the Hamming ball."""
    import itertools

    rows = [(i, f"token{i % 5} alpha beta gamma delta word{i} tail{i % 3}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 4
    }
    banded = {(r.id_a, r.id_b): r.hamming
              for r in dedup.simhash_dedup_pairs(docs, hamming_max=4).collect()}
    assert banded == brute


def test_simhash_agg_formulation_equals_hof(spark):
    """The explode + hash-aggregate (wide) formulation must produce the
    SAME signatures as the per-bit array-fold form at equal bit width —
    same hash values, same vote rule, different physical plan."""
    rows = [(i, f"token{i % 7} alpha beta gamma w{i} t{i % 4} the of is")
            for i in range(40)] + [(100, ""), (101, "one")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hof = {r.doc_id: r.simhash
           for r in dedup.simhash_signatures(docs, bits=16).collect()}
    agg = {r.doc_id: r.simhash
           for r in dedup.simhash_signatures_agg(docs, bits=16).collect()}
    assert hof == agg


def test_simhash_wide_pairs_banded_match_brute_force(spark):
    """60-bit path: banded candidates + popcount verify == all-pairs scan."""
    import itertools

    rows = [(i, f"token{i % 5} alpha beta gamma delta word{i} tail{i % 3}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash
            for r in dedup.simhash_signatures_agg(docs, bits=60).collect()}
    assert all(0 <= v < 2 ** 60 for v in sigs.values())
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_dedup_pairs(
            docs, bits=60, hamming_max=3,
            signatures=dedup.simhash_signatures_agg(docs, bits=60),
        ).collect()
    }
    assert banded == brute


def test_simhash_band_max_bucket_caps_fanout(spark):
    docs = spark.createDataFrame(
        [(i, "same text every row") for i in range(10)], "doc_id long, text string"
    )
    sigs = dedup.simhash_signatures(docs)
    capped = dedup.simhash_band_candidates(sigs, max_bucket=1)
    assert capped.count() == 0


def test_ngram_jaccard_drops_overfull_blocks(spark, monkeypatch, tmp_path):
    """Blocks above NGRAM_MAX_BLOCK are dropped whole, never self-joined."""
    from nexus_processor_spark.queries import dedup_q

    rows = [(i, "en", "big", f"shared text body number {i}") for i in range(6)]
    rows += [(100, "en", "small", "tiny block one"), (101, "en", "small", "tiny block one")]
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    monkeypatch.setattr(dedup_q, "NGRAM_MAX_BLOCK", 4)
    got = dedup_q.q_dedup_ngram_jaccard(spark, str(tmp_path)).collect()
    ids = {x for r in got for x in (r.id_a, r.id_b)}
    assert ids == {100, 101}       # the 6-doc block exceeded the cap


def test_dup_clusters_convergence_flag(spark):
    # a 25-long chain needs ~24 rounds of min-label propagation; cap at 3
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "id_a long, id_b long"
    )
    with pytest.warns(RuntimeWarning, match="max_iterations"):
        dedup.dup_clusters(pairs, max_iterations=3).collect()
    assert dedup.dup_clusters.last_converged is False
    dedup.dup_clusters(pairs, max_iterations=50).collect()
    assert dedup.dup_clusters.last_converged is True


def test_dup_clusters_connected_components(spark):
    # chain 1-2-3, pair 10-11, isolated vertices don't appear
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r.cluster_id for r in dedup.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_near_dedup_survivors(spark, docs):
    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.5, persist_shingles=False)
    survivors = sorted(r.doc_id for r in dedup.near_dedup(docs, pairs).collect())
    # docs 1,2,3 are one near-dup cluster (1 survives); 4 is clean
    assert survivors == [1, 4]


@pytest.fixture()
def embeddings(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=8)
    rows = []
    for i in range(6):
        v = base + rng.normal(scale=0.05, size=8) if i < 3 else rng.normal(size=8)
        rows.append((i, [float(x) for x in v], int(i < 3)))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_matches_numpy(embeddings):
    rows = embeddings.collect()
    vecs = {r.vec_id: np.array(r.embedding) for r in rows}
    out = similarity.brute_force_topk(
        embeddings.filter("vec_id = 0"), embeddings, k=2
    ).collect()
    got = [(r.vec_id, r.cos) for r in sorted(out, key=lambda r: r.rank)]
    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    expect = sorted(
        ((i, cos(vecs[0], v)) for i, v in vecs.items() if i != 0),
        key=lambda t: -t[1],
    )[:2]
    assert [g[0] for g in got] == [e[0] for e in expect]
    for g, e in zip(got, expect):
        assert math.isclose(g[1], e[1], abs_tol=1e-6)


def test_ivf_topk_restricts_to_cell(embeddings):
    out = similarity.ivf_topk(
        embeddings.filter("vec_id = 0"), embeddings, k=5
    ).collect()
    assert {r.vec_id for r in out} == {1, 2}   # only label-1 cellmates


def test_cosine_near_dup_pairs_blocked(embeddings):
    pairs = {(r.id_a, r.id_b) for r in
             similarity.cosine_near_dup_pairs(embeddings, 0.9).collect()}
    assert (0, 1) in pairs and (0, 2) in pairs and (1, 2) in pairs
    assert all(a < 3 and b < 3 for a, b in pairs)  # cross-label never compared


def test_pq_encode_seeds_code_to_themselves(embeddings):
    """A seed's subvectors are exactly its own codebook entries, so every
    seed encodes to its own id in all subspaces (dim 8, m=2)."""
    seeds = embeddings.filter("vec_id < 3")
    cb = similarity.pq_codebooks(seeds, 2)
    assert cb.count() == 6  # 3 seeds x 2 subspaces
    enc = {r.vec_id: r.codes for r in
           vector_arrow.pq_encode_arrow(seeds, cb, 2).collect()}
    assert enc == {0: [0, 0], 1: [1, 1], 2: [2, 2]}


def test_pq_adc_topk_exact_when_codebook_covers_corpus(embeddings):
    """With every corpus vector as a codebook seed, each row encodes to
    itself and ADC distance IS the true squared L2 — so the top-k must
    equal the exact L2 neighbors (clustermates 1, 2 for query 0)."""
    cb = similarity.pq_codebooks(embeddings, 2)
    out = similarity.pq_topk(
        embeddings.filter("vec_id = 0"), embeddings, cb, k=2, m=2
    ).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in embeddings.collect()}
    expect = sorted(
        (float(((vecs[0] - v) ** 2).sum()), i)
        for i, v in vecs.items() if i != 0
    )[:2]
    got = [(r.vec_id, r.adist) for r in sorted(out, key=lambda r: r.rank)]
    assert [g[0] for g in got] == [e[1] for e in expect]
    for g, e in zip(got, expect):
        assert math.isclose(g[1], e[0], abs_tol=1e-5)


def test_kmeans_assign_nearest_and_ties(spark):
    from nexus_processor_spark.operators.vector_arrow import (
        kmeans_assign_arrow,
    )

    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),   # centroid 0
            (1, [10.0, 0.0]),  # centroid 1
            (2, [1.0, 0.0]),   # near centroid 0
            (3, [9.0, 1.0]),   # near centroid 1
            (4, [5.0, 0.0]),   # equidistant -> lower centroid_id wins
        ],
        "vec_id long, embedding array<double>",
    )
    cents = emb.filter("vec_id < 2")
    rows = {r.vec_id: r for r in kmeans_assign_arrow(emb, cents).collect()}
    assert len(rows) == 5  # every vector assigned exactly once
    assert rows[0].centroid_id == 0 and rows[0].dist == 0.0
    assert rows[2].centroid_id == 0 and rows[2].dist == 1.0
    assert rows[3].centroid_id == 1 and rows[3].dist == 2.0
    assert rows[4].centroid_id == 0  # tie at dist 25 breaks to smaller id


def test_kmeans_fit_surfaces_centroid_shrinkage(spark):
    """Fewer rows than k => fewer trained cells, warned and recorded."""
    rows = [(i, [float(i), 0.0]) for i in range(3)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.warns(RuntimeWarning, match="trained 3 < k=8"):
        got = similarity.kmeans_fit(corpus, k=8, iters=1)
        assert got.count() == 3
    assert similarity.kmeans_fit.last_k == 3


def test_kmeans_fit_converges_on_separable_clusters(spark):
    from nexus_processor_spark.operators.similarity import kmeans_fit

    # two tight clusters around (0,0) and (100,100); seed ids 0 and 1
    # land one in each, so Lloyd must recover the true means.
    rows = [(0, [0.0, 1.0]), (1, [101.0, 100.0])]
    rows += [(i, [float(i % 3), float(i % 2)]) for i in range(2, 12)]
    rows += [(i, [100.0 + (i % 3), 100.0 + (i % 2)]) for i in range(12, 22)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = {r.centroid_id: r for r in kmeans_fit(emb, k=2, iters=4).collect()}
    assert set(cents) == {0, 1}
    assert cents[0].n_members == 11 and cents[1].n_members == 11
    cx, cy = cents[0].centroid
    assert 0 <= cx <= 2 and 0 <= cy <= 2        # near the low-cluster mean
    cx, cy = cents[1].centroid
    assert 100 <= cx <= 102 and 100 <= cy <= 102


def test_minhash_xxhash64_pipeline_matches_md5_semantics(docs):
    """The xxhash64 scale path finds the same verified near-dups: band
    luck only affects CANDIDATES; the exact-Jaccard gate makes the final
    pair set depend on actual overlap (clones collide in every band
    under any hash)."""
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.minhash_dedup_pairs(
                 docs, threshold=0.0, hash_fn="xxhash64").collect()}
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0
    assert (1, 2) in pairs and 0.5 < pairs[(1, 2)] < 1.0
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_xx_signatures_long_and_stable(docs):
    sigs = dedup.minhash_signatures(docs, hash_fn="xxhash64")
    assert dict(sigs.dtypes)["sig"] == "bigint"
    rows = sigs.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.band] = r.sig
    # exact dup docs agree on every band; unrelated doc does not
    assert by_doc[1] == by_doc[3]
    assert by_doc[1] != by_doc[4]
    assert len(by_doc[1]) == 8


def test_minhash_shingleless_docs_emit_nothing_xx(spark):
    docs = spark.createDataFrame(
        [(1, "too short"), (2, "also tiny")], "doc_id long, text string"
    )
    assert dedup.minhash_signatures(docs, hash_fn="xxhash64").count() == 0
    assert dedup.minhash_dedup_pairs(
        docs, threshold=0.0, hash_fn="xxhash64"
    ).count() == 0


def test_minhash_rejects_unknown_hash_fn(docs):
    with pytest.raises(ValueError, match="hash_fn"):
        dedup.minhash_signatures(docs, hash_fn="sha1")
    with pytest.raises(ValueError, match="hash_fn"):
        dedup.minhash_dedup_pairs(docs, hash_fn="crc32")


def _clustered_vecs(spark, per_cluster=40):
    """Four well-separated clusters in 8-d with tiny deterministic jitter."""
    import numpy as np

    rng = np.random.default_rng(7)
    centers = np.eye(4).repeat(2, axis=1) * 10.0  # 4 x 8
    rows = []
    vid = 0
    for c in range(4):
        for _ in range(per_cluster):
            v = centers[c] + rng.normal(0, 0.05, 8)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_kmeans_parallel_init_spreads_across_clusters(spark):
    vecs = _clustered_vecs(spark)
    seeds = similarity.kmeans_parallel_init(vecs, 4)
    rows = seeds.collect()
    assert len(rows) == 4
    # each seed sits near a distinct true center (coordinate argmax)
    basins = {tuple(np.argsort(r["centroid"])[-2:]) for r in rows}
    assert len(basins) == 4


def test_kmeans_fit_parallel_init_beats_id_seeding(spark):
    """With all of cluster 0's ids first, id-seeding starts all seeds in
    one cluster; k-means|| must reach a strictly better (or equal)
    inertia and recover all four clusters."""
    from pyspark.sql import functions as F

    vecs = _clustered_vecs(spark)

    def inertia(centroids):
        a = vector_arrow.kmeans_assign_arrow(
            vecs, centroids.select(
                F.col("centroid_id").alias("vec_id"),
                F.col("centroid").alias("embedding"),
            )
        )
        return a.agg(F.sum("dist")).collect()[0][0]

    fit_ids = similarity.kmeans_fit(vecs, k=4, iters=3)
    fit_par = similarity.kmeans_fit(vecs, k=4, iters=3, init="parallel")
    i_ids, i_par = inertia(fit_ids), inertia(fit_par)
    assert i_par <= i_ids + 1e-9
    assert fit_par.count() == 4
    # parallel init recovers the four true basins
    sizes = sorted(r["n_members"] for r in fit_par.collect())
    assert sizes == [40, 40, 40, 40]


def test_kmeans_parallel_init_deterministic(spark):
    vecs = _clustered_vecs(spark)
    a = sorted(map(tuple, similarity.kmeans_parallel_init(vecs, 4).collect()))
    b = sorted(map(tuple, similarity.kmeans_parallel_init(vecs, 4).collect()))
    assert a == b


def test_kmeans_fit_rejects_unknown_init(spark):
    vecs = _clustered_vecs(spark, per_cluster=3)
    with pytest.raises(ValueError, match="init"):
        similarity.kmeans_fit(vecs, k=2, init="random")


def test_null_text_semantics_across_dedup_family(spark):
    """Null text carries no content: exact dedup keeps every null-text
    row (they are not duplicates of each other), groups exclude them,
    and neither simhash path emits a colliding all-zero signature."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, None), (4, None), (5, None)],
        "doc_id long, text string",
    )
    survivors = {r.doc_id for r in dedup.exact_dedup(docs).collect()}
    assert survivors == {1, 3, 4, 5}
    groups = dedup.exact_dedup_groups(docs).collect()
    assert len(groups) == 1 and groups[0].n_dups == 2
    a = dedup.simhash_signatures(docs, bits=16).collect()
    b = dedup.simhash_signatures_agg(docs, bits=16).collect()
    assert {r.doc_id for r in a} == {r.doc_id for r in b} == {1, 2}


def test_simhash_band_width_validated(spark):
    docs = spark.createDataFrame([(1, 7)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="zero-width band"):
        dedup.simhash_band_candidates(docs, bits=4, hamming_max=4).collect()


def test_incremental_near_dup_rejects_scheme_mismatch(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    index_r1 = dedup.build_minhash_index(docs, num_bands=8, rows_per_band=1)
    with pytest.raises(ValueError, match="banding scheme"):
        dedup.incremental_near_dup(
            docs, index_r1, num_bands=8, rows_per_band=2)
    # matching scheme still runs
    from pyspark.sql import functions as F

    index_r2 = dedup.build_minhash_index(docs, num_bands=8, rows_per_band=2)
    dedup.incremental_near_dup(
        docs.withColumn("doc_id", F.col("doc_id") + 10), index_r2,
        num_bands=8, rows_per_band=2,
    ).collect()


@pytest.mark.slow
def test_dup_clusters_require_convergence_raises_on_cap(spark):
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="max_iterations"):
        dedup.dup_clusters(chain, max_iterations=2,
                           require_convergence=True)
    out = dedup.dup_clusters(chain, max_iterations=50,
                             require_convergence=True)
    assert out.select("cluster_id").distinct().count() == 1


def test_prefix_filter_pairs_unpersisted_matches(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dedup.prefix_filter_pairs(
        docs, threshold=0.3).collect()))
    b = sorted(map(tuple, dedup.prefix_filter_pairs(
        docs, threshold=0.3, persist_shingles=False).collect()))
    assert a == b and len(a) >= 1


def test_cluster_representatives_argmax_tiebreak_singletons(spark):
    """Longest copy wins per cluster (id tiebreak on equal length);
    docs outside every cluster represent themselves."""
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5)],
        "doc_id long, n_chars long",
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "id long, cluster_id long"
    )
    out = {r.cluster_key: r for r in
           dedup.cluster_representatives(docs, labels).collect()}
    assert set(out) == {1, 7}
    # 2 and 3 tie at 30 chars -> lower id wins; 1 (10 chars) loses
    assert out[1].rep_id == 2 and out[1].rep_n_chars == 30
    assert out[1].n_members == 3
    assert out[7].rep_id == 7 and out[7].n_members == 1
