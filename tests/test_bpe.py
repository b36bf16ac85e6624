"""BPE tokenizer training/encoding: the driver trainer and the native
encoder follow the documented greedy/tiebreak semantics, and encoding
partitions each document's characters."""

from __future__ import annotations

from pyspark.sql import functions as F

from nexus_processor_spark.operators import bpe

CORPUS = [
    (0, "low low lower aaaa newest"),
    (1, "widest newest aaaa aa"),
    (2, "low newest west wide"),
]


def _df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_merge_word_greedy_overlap():
    assert bpe._merge_word(list("aaaa"), "a", "a") == ["aa", "aa"]
    assert bpe._merge_word(list("aaa"), "a", "a") == ["aa", "a"]
    assert bpe._merge_word(list("abab"), "a", "b") == ["ab", "ab"]
    assert bpe._merge_word(list("x"), "a", "b") == ["x"]
    assert bpe._merge_word([], "a", "b") == []


def test_merge_pair_col_matches_python(spark):
    words = ["aaaa", "aaa", "abab", "banana", "x", "aa"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r.word: r.s
        for r in df.select(
            "word",
            bpe.merge_pair_col(F.split("word", ""), "a", "a").alias("s"),
        ).collect()
    }
    for w in words:
        assert got[w] == bpe._merge_word(list(w), "a", "a"), w


def test_train_exhausts_when_no_pairs_left(spark):
    df = spark.createDataFrame([(0, "ab ab ab")], "doc_id long, text string")
    merges = bpe.bpe_train(df, 10, max_words=None).collect()
    # "ab" collapses in one merge; nothing is left to pair afterwards
    assert [(m.left_sym, m.right_sym) for m in merges] == [("a", "b")]


def test_encode_native_partitions_each_doc(spark):
    df = _df(spark)
    merges = bpe.bpe_train(df, 5, max_words=None)
    pairs = [
        (r.left_sym, r.right_sym) for r in merges.orderBy("merge_rank").collect()
    ]
    by_id = {r[0]: r for r in bpe.encode_native(df, pairs).collect()}
    assert len(by_id) == len(CORPUS)
    # segmentation is a partition of each doc's characters
    for doc_id, text in CORPUS:
        pieces = by_id[doc_id][1]
        assert "".join(pieces) == text.replace(" ", "")
        assert by_id[doc_id][2] == len(pieces)


def test_encode_skips_empty_tokens(spark):
    df = spark.createDataFrame(
        [(0, "  ab  ab "), (1, "ab")], "doc_id long, text string"
    )
    merges = bpe.bpe_train(df, 1, max_words=None)
    pairs = [(r.left_sym, r.right_sym) for r in merges.collect()]
    got = {r.doc_id: r.pieces for r in bpe.encode_native(df, pairs).collect()}
    assert got == {0: ["ab", "ab"], 1: ["ab"]}


def test_max_words_cap_is_deterministic(spark):
    df = _df(spark)
    full = [tuple(r) for r in bpe.bpe_train(df, 3, max_words=None).collect()]
    capped = [tuple(r) for r in bpe.bpe_train(df, 3, max_words=4).collect()]
    again = [tuple(r) for r in bpe.bpe_train(df, 3, max_words=4).collect()]
    assert capped == again
    # the cap changes counts but never the schema/rank structure
    assert [m[0] for m in capped] == [m[0] for m in full] == [0, 1, 2]
