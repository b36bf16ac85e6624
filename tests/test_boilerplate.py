"""Boilerplate phrase detection + LM scoring + semantic dedup tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from nexus_processor_spark.operators import pipeline, vector_arrow


def test_boilerplate_phrases_counts(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),
            (1, "a the quick brown fox runs"),
            (2, "see the quick brown fox now the quick brown fox"),
            (3, "nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    rows = pipeline.boilerplate_phrases(docs, 4, 3).collect()
    assert [(r.gram, r.n_docs, r.n_occurrences) for r in rows] == [
        ("the quick brown fox", 3, 4)
    ]


def test_lm_doc_score_prefers_typical_docs(spark):
    docs = spark.createDataFrame(
        [(i, "a b a b a b") for i in range(9)] + [(9, "a x q z w v")],
        "doc_id long, text string",
    )
    scores = {r.doc_id: r.avg_log2_p for r in pipeline.lm_doc_score(docs).collect()}
    assert len(scores) == 10
    # the repeated-pattern docs follow the corpus LM; the outlier does not
    assert scores[0] > scores[9]
    assert scores[0] == scores[5]  # identical docs score identically


def test_semantic_dedup_drops_near_duplicates(spark):
    # two tight groups around orthogonal axes + one isolated vector
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (2, [0.999, 0.01, 0.0, 0.0], 0),   # near-dup of 0
        (3, [0.0, 0.998, 0.02, 0.0], 0),   # near-dup of 1
        (4, [0.0, 0.0, 1.0, 0.0], 0),      # isolated
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cents = emb.filter(F.col("vec_id") < 2)
    out = vector_arrow.semantic_dedup_arrow(emb, cents, 0.9)
    survivors = sorted(r.vec_id for r in out.collect())
    assert survivors == [0, 1, 4]


def test_knn_graph_every_vector_is_a_query(spark):
    rows = [(i, [float(i == j) for j in range(4)], i % 2) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = vector_arrow.knn_graph_arrow(emb, 2)
    got = out.groupBy("query_id").count().collect()
    assert len(got) == 6  # all 6 vectors got neighbor lists
    assert all(r["count"] == 2 for r in got)
