from __future__ import annotations

from pyspark.sql import functions as F

from nexus_processor_spark.functions.core import (
    event_seconds,
    event_timestamp,
    interval_bounds,
    interval_floor,
    make_run_id,
    run_id_from_filename,
    run_id_to_filename,
    to_attribute_map,
    try_parse_numeric,
)
from nexus_processor_spark.functions.text import (
    char_shingles,
    hamming64,
    minhash_band,
    simhash,
    tokens,
    word_shingles,
)
from nexus_processor_spark.functions.vector import cosine, dot


def test_run_id_roundtrip(spark):
    df = spark.createDataFrame([("REF_L", 12345)], "instrument string, run long")
    row = df.select(
        make_run_id("instrument", "run").alias("rid"),
        run_id_to_filename(make_run_id("instrument", "run")).alias("fs"),
    ).first()
    assert row.rid == "REF_L:12345"
    assert row.fs == "REF_L_12345"
    back = df.select(run_id_from_filename(F.lit("REF_L_12345")).alias("rid")).first()
    assert back.rid == "REF_L:12345"


def test_event_seconds_exact_microseconds(spark):
    # 2024-epoch nanos exceed 2**53: double(ns)/1e9 would be lossy, the
    # integer-div path must be exact.
    ns = 1_704_067_207_179_575_000
    df = spark.createDataFrame([(ns,)], "ts long")
    row = df.select(
        event_seconds("ts").alias("s"), event_timestamp("ts").alias("t")
    ).first()
    assert row.s == 1_704_067_207_179_575 / 1e6
    assert row.t.microsecond == 179575


def test_interval_math_half_open(spark):
    df = spark.createDataFrame([(0.0,), (59.999,), (60.0,), (-0.5,)], "t double")
    rows = df.select("t", interval_floor("t", 60).alias("i")).collect()
    got = {r.t: r.i for r in rows}
    assert got[0.0] == 0 and got[59.999] == 0 and got[60.0] == 1 and got[-0.5] == -1
    start, end = interval_bounds(F.lit(2).cast("long"), 60)
    row = df.limit(1).select(start.alias("s"), end.alias("e")).first()
    assert (row.s, row.e) == (120.0, 180.0)


def test_try_parse_numeric(spark):
    df = spark.createDataFrame([("1.5",), ("junk",), (None,)], "v string")
    vals = [r.n for r in df.select(try_parse_numeric("v").alias("n")).collect()]
    assert vals == [1.5, None, None]


def test_to_attribute_map_drops_nulls_and_strips_prefix(spark):
    """F6/F7: the bag keeps non-null values as strings, under keys with
    the prefix stripped (the build/filter/strip that q_attribute_maps
    spells inline)."""
    df = spark.createDataFrame([("click", 7)], "t string, k long")
    bag = df.select(to_attribute_map(
        "attr_",
        ("attr_type", F.col("t")),
        ("attr_k", F.col("k")),
        ("attr_missing", F.lit(None).cast("string")),
        ("plain", F.lit(1.5)),
    ).alias("m")).first().m
    assert bag == {"type": "click", "k": "7", "plain": "1.5"}


def test_word_shingles_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",)], "text string"
    )
    rows = df.select(word_shingles(tokens("text"), 3).alias("sh")).collect()
    assert rows[0].sh == ["a b c", "b c d"]
    assert rows[1].sh == []  # fewer tokens than the shingle width
    assert rows[2].sh == []


def test_char_shingles_and_minhash(spark):
    df = spark.createDataFrame([("abcdefgh x",), ("short",)], "text string")
    rows = df.select(
        char_shingles("text", 8).alias("cs"),
        minhash_band(word_shingles(tokens("text"), 1), 0).alias("mh"),
    ).collect()
    assert "abcdefgh" in rows[0].cs and len(rows[0].cs) == 3
    assert rows[0].mh is not None
    assert rows[1].cs == []


def test_simhash_similar_docs_close(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    near = base + "extra"
    far = "completely different words entirely unrelated content here now"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], "id long, text string")
    sigs = {r.id: r.s for r in df.select("id", simhash(tokens("text")).alias("s")).collect()}
    pairs = spark.createDataFrame(
        [(sigs[1], sigs[2]), (sigs[1], sigs[3])], "a long, b long"
    )
    d12, d13 = [r.h for r in pairs.select(
        hamming64(F.col("a"), F.col("b")).alias("h")).collect()]
    assert 0 <= d12 < d13 <= 16


def test_vector_math(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 0.0])],
        "a array<float>, b array<float>",
    )
    rows = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("b")).alias("c"),
    ).collect()
    assert rows[0].d == 1.0 and rows[0].c == 1.0
    assert rows[1].c == 0.0
    assert rows[2].c is None  # zero-norm -> null, not NaN
