"""Round-3 operators: prefix-filter set-similarity join, weighted
sampling, duplicate-n-gram stats, cross-source overlap."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nexus_processor_spark.operators import dedup, pipeline


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


@pytest.fixture()
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [(1, base)]
    # near-dups: single-word substitutions at varied positions
    words = base.split(" ")
    for i, pos in enumerate((3, 7, 11), start=2):
        w = list(words)
        w[pos] = f"sub{i}"
        rows.append((i, " ".join(w)))
    # unrelated docs sharing the common word "the"
    rows += [
        (10, "completely different text about spark catalyst tungsten and the optimizer"),
        (11, "another unrelated document mentioning the weather in quiet mountain villages"),
        (12, "short doc"),  # < 3 tokens of shingle: empty set
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def brute_force_pairs(rows, threshold):
    sets = {i: _shingles(t) for i, t in rows}
    out = {}
    for a in sets:
        for b in sets:
            if a >= b or not sets[a] or not sets[b]:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            j = inter / union if union else 0.0
            if j >= threshold:
                out[(a, b)] = j
    return out


def test_prefix_filter_matches_brute_force(spark, corpus):
    rows = [(r.doc_id, r.text) for r in corpus.collect()]
    for threshold in (0.3, 0.5, 0.8):
        expected = brute_force_pairs(rows, threshold)
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.prefix_filter_pairs(corpus, threshold=threshold).collect()
        }
        assert got.keys() == expected.keys(), threshold
        for k in got:
            assert math.isclose(got[k], expected[k]), (k, threshold)


def test_prefix_filter_no_cross_join(spark, corpus):
    plan = dedup.prefix_filter_pairs(corpus, threshold=0.5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_deterministic_and_weighted(spark):
    df = spark.range(1, 1001).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") == 7, F.lit(1e12)).otherwise(F.lit(1.0)).alias("w"),
    )
    a = pipeline.weighted_sample(df, 10, weight_col="w", key_col="doc_id")
    b = pipeline.weighted_sample(df, 10, weight_col="w", key_col="doc_id")
    ids_a = sorted(r.doc_id for r in a.collect())
    ids_b = sorted(r.doc_id for r in b.collect())
    assert ids_a == ids_b and len(ids_a) == 10
    # a weight 12 orders of magnitude larger is effectively always drawn
    assert 7 in ids_a
    assert "w" in a.columns and "_aes" not in a.columns


def test_weighted_sample_grouped_and_nonpositive_weights(spark):
    df = spark.range(1, 101).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).alias("grp"),
        F.when(F.col("id") <= 10, F.lit(-1.0)).otherwise(F.lit(2.0)).alias("w"),
    )
    out = pipeline.weighted_sample(
        df, 5, weight_col="w", key_col="doc_id", group_cols=("grp",)
    ).collect()
    by_grp: dict[int, list[int]] = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r.doc_id)
    assert sorted(by_grp) == [0, 1]
    assert all(len(v) == 5 for v in by_grp.values())
    assert all(i > 10 for v in by_grp.values() for i in v)  # w<=0 excluded


def test_duplicate_ngram_stats_hand_example(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x y z"), (3, "a")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pipeline.duplicate_ngram_stats(df).collect()}
    assert rows.keys() == {1, 2, 3}
    r1 = rows[1]  # bigrams: "a b", "b a", "a b", "b c" -> "a b" duplicated
    assert (r1.n_grams, r1.n_dup_grams, r1.dup_gram_chars) == (4, 1, 6)
    assert math.isclose(r1.dup_char_fraction, 6 / len("a b a b c"))
    r2 = rows[2]
    assert (r2.n_grams, r2.n_dup_grams, r2.dup_gram_chars) == (2, 0, 0)
    assert r2.dup_char_fraction == 0.0
    r3 = rows[3]  # too short for any bigram: zero row, not a missing row
    assert (r3.n_grams, r3.n_dup_grams, r3.dup_char_fraction) == (0, 0, 0.0)


def test_source_overlap_matrix(spark):
    df = spark.createDataFrame(
        [
            (1, "A", "one two three four"),
            (2, "A", "five six seven"),
            (3, "B", "one two three eight"),   # shares "one two three" with A
            (4, "C", "nine ten eleven twelve"),
        ],
        "doc_id long, source string, text string",
    )
    out = {(r.source_a, r.source_b): r for r in pipeline.source_overlap(df).collect()}
    assert set(out) == {("A", "B")}  # C shares nothing; no zero rows emitted
    r = out[("A", "B")]
    # A grams: {one two three, two three four, five six seven} (3)
    # B grams: {one two three, two three eight} (2); shared: 1
    assert (r.n_grams_a, r.n_grams_b, r.shared_grams) == (3, 2, 1)
    assert math.isclose(r.overlap, 1 / 2)


def test_bm25_ranking_properties(spark):
    df = spark.createDataFrame(
        [
            (1, "spark data spark data spark"),   # many query hits
            (2, "spark merge other words here"),  # fewer hits, same length
            (3, "nothing relevant at all here"),  # no hits -> absent
            (4, "spark " * 50 + "padding"),       # hits diluted by length
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pipeline.bm25_scores(df, ["spark", "data", "merge"]).collect()}
    assert 3 not in out
    assert out[1].n_matched_terms == 2 and out[2].n_matched_terms == 2
    assert out[1].bm25 > out[2].bm25       # higher tf at equal length wins
    assert all(r.bm25 > 0 for r in out.values())  # Lucene idf never negative


@pytest.mark.slow
def test_prefix_filter_random_corpus_exactness(spark):
    """Randomized exactness: prefix filtering must equal brute force on a
    high-collision corpus (tiny vocab => dense similarity structure),
    including threshold boundaries like 0.2 where float ceil bites."""
    import random

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for threshold in (0.2, 0.4, 0.75):
        expected = brute_force_pairs(rows, threshold)
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.prefix_filter_pairs(df, threshold=threshold).collect()
        }
        assert got.keys() == expected.keys(), threshold
        for k in got:
            assert math.isclose(got[k], expected[k]), (k, threshold)


def test_duplicate_ngram_hash_path_matches_string_path(spark):
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {tuple(r) for r in pipeline.duplicate_ngram_stats(df).collect()}
    b = {tuple(r) for r in
         pipeline.duplicate_ngram_stats(df, hash_grams=True).collect()}
    assert a == b


@pytest.mark.slow
def test_incremental_near_dup_against_index(spark):
    near_a = "the quick brown fox jumps over the lazy dog again and again today"
    near_b = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    corpus = spark.createDataFrame(
        [(1, near_a), (4, "completely unrelated words about catalyst tungsten engines here")],
        "doc_id long, text string",
    )
    idx = dedup.build_minhash_index(corpus)
    rows = {r.doc_id: r for r in idx.collect()}
    assert len(rows[1].bands) == 8 and len(rows[1].minhashes) == 16

    batch = spark.createDataFrame(
        [(100, near_b),                 # near-dup of indexed 1
         (101, near_a),                 # exact dup of indexed 1
         (102, "fresh novel content with no overlap whatsoever in this batch")],
        "doc_id long, text string",
    )
    out = {(r.new_id, r.indexed_id): r.est_jaccard
           for r in dedup.incremental_near_dup(batch, idx, threshold=0.5).collect()}
    assert out[(101, 1)] == 1.0                    # identical minhashes
    # near-dup collides and estimates high (k=16 estimator, sd ~0.1 —
    # exact value can round up to 1.0 at this true-jaccard)
    assert (100, 1) in out and out[(100, 1)] >= 0.5
    assert not any(n == 102 or i == 4 for n, i in out)


@pytest.mark.slow
def test_incremental_near_dup_shingleless_docs_never_match(spark):
    corpus = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    idx = dedup.build_minhash_index(corpus)
    batch = spark.createDataFrame([(2, "a b")], "doc_id long, text string")
    # both docs are below the 3-word shingle width: no bands, no matches
    assert dedup.incremental_near_dup(batch, idx).count() == 0


def test_lttb_downsample_keeps_shape(spark):
    from nexus_processor_spark.operators import timeslice

    # a flat series with one huge spike: LTTB must keep endpoints and
    # the spike, and emit at most n_buckets points
    rows = [(float(i), 1.0 if i != 57 else 500.0, "s") for i in range(200)]
    df = spark.createDataFrame(rows, "absolute_time double, value double, bank string")
    out = timeslice.downsample_lttb(df, 10, series_cols=("bank",)).collect()
    assert len(out) == 10
    times = {r.absolute_time for r in out}
    assert 0.0 in times and 199.0 in times          # endpoints forced
    assert any(r.value == 500.0 for r in out)       # spike survives
    assert len({r.bucket for r in out}) == 10       # one point per bucket

    # determinism
    again = timeslice.downsample_lttb(df, 10, series_cols=("bank",)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_cusum_matches_textbook_recursion(spark):
    from nexus_processor_spark.operators import timeslice

    # 40 hourly buckets: baseline one event each, then a sustained shift
    # to five events from bucket 25 on
    rows = []
    for b in range(40):
        per = 1 if b < 25 else 5
        rows += [(float(b * 3600 + i), "s") for i in range(per)]
    df = spark.createDataFrame(rows, "absolute_time double, bank string")
    out = {r.interval: r.cusum
           for r in timeslice.cusum_changepoints(
               df, 3600.0, slack_k=0.5, h_threshold=2.0).collect()}

    # textbook S_i = max(0, S_{i-1} + d_i) over the same bucket stats
    import statistics

    counts = [1] * 25 + [5] * 15
    mu = statistics.mean(counts)
    sd = statistics.stdev(counts)
    s, expected = 0.0, {}
    for b, n in enumerate(counts):
        s = max(0.0, s + (n - mu) / sd - 0.5)
        if s > 2.0:
            expected[b] = round(s, 6)
    assert out == expected
    assert expected and min(expected) >= 25   # flags only after the shift


def test_hashed_features_and_dense_assembly(spark):
    import hashlib

    from nexus_processor_spark.operators import textstats

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "cherry")],
        "doc_id long, text string",
    )
    dim = 16
    feats = textstats.hashed_features(df, dim)
    got = {(r.doc_id, r.bucket): r.weight for r in feats.collect()}

    def hb(tok):
        h = hashlib.md5(tok.encode()).hexdigest()
        return int(h[:8], 16) % dim, 1 if int(h[8], 16) % 2 == 0 else -1

    expected: dict[tuple[int, int], int] = {}
    for doc, text in [(1, "apple banana apple"), (2, "cherry")]:
        for tok in text.split(" "):
            b, s = hb(tok)
            expected[(doc, b)] = expected.get((doc, b), 0) + s
    assert got == expected

    dense = {r.doc_id: r.embedding
             for r in textstats.hashed_dense(feats, dim).collect()}
    for doc in (1, 2):
        vec = [0.0] * dim
        for (d, b), w in expected.items():
            if d == doc:
                vec[b] = float(w)
        assert dense[doc] == vec

    # xxhash64 scale twin: a different (valid) feature space — same
    # schema, buckets in range, per-doc absolute mass bounded by (and for
    # collision-free docs equal to) the token count, and deterministic.
    xx = textstats.hashed_features(df, dim, hash_fn="xxhash64")
    rows = xx.collect()
    assert {r.doc_id for r in rows} == {1, 2}
    assert all(0 <= r.bucket < dim for r in rows)
    mass = {}
    for r in rows:
        mass[r.doc_id] = mass.get(r.doc_id, 0) + abs(r.weight)
    assert mass[1] <= 3 and mass[2] == 1
    assert sorted(map(tuple, rows)) == sorted(map(tuple, xx.collect()))


@pytest.mark.slow
def test_round3_plan_shapes(spark):
    """Physical-plan pins for the round's scale claims."""
    from nexus_processor_spark.operators import similarity
    from nexus_processor_spark.sources.tables import load_table

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # global weighted sample compiles to TakeOrdered, not a global sort
    df = spark.range(1, 1000).select(
        F.col("id").alias("doc_id"), F.lit(2.0).alias("w")
    )
    p = plan(pipeline.weighted_sample(df, 10, weight_col="w"))
    assert "TakeOrderedAndProject" in p

    # incremental near-dup: equi-joins only
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h")], "doc_id long, text string"
    )
    idx = dedup.build_minhash_index(docs)
    p = plan(dedup.incremental_near_dup(docs, idx))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    # IVF-PQ: the ADC lookup table broadcasts; no shuffle of raw vectors
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cb = similarity.pq_codebooks(emb.filter(F.col("vec_id") < 8), 4)
    p = plan(similarity.ivf_pq_topk(
        emb.filter(F.col("vec_id") < 5), emb, cb, 5, 4))
    assert "BroadcastHashJoin" in p and "CartesianProduct" not in p


@pytest.mark.slow
def test_minhash_index_survives_parquet_roundtrip(spark, tmp_path):
    """The near-dup index is a plain table: write it to the lake, read it
    back cold, and the incremental gate produces identical matches."""
    near_a = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, near_a), (4, "completely unrelated words about catalyst tungsten engines here")],
        "doc_id long, text string",
    )
    idx = dedup.build_minhash_index(corpus)
    path = str(tmp_path / "minhash_index.parquet")
    idx.write.parquet(path)
    cold = spark.read.parquet(path)

    batch = spark.createDataFrame([(100, near_a)], "doc_id long, text string")
    live = sorted(map(tuple, dedup.incremental_near_dup(batch, idx).collect()))
    persisted = sorted(map(tuple, dedup.incremental_near_dup(batch, cold).collect()))
    assert live == persisted == [(100, 1, 1.0)]
