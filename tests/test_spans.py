"""Duplicate-span detection/excision (operators/spans.py): keep-first
semantics, island merging of overlapping and touching extents, hash-
scheme parity, 0-mod-p sub-sampling containment, and null/short-doc
edges — everything the SQL oracle replay can't isolate."""

from __future__ import annotations

from conftest import assert_md5_and_xxhash64_are_equal_collect
from pyspark.sql import functions as F

from nexus_processor_spark.operators import spans

CORPUS = [
    (1, "a b c d e f g h"),
    (2, "x y a b c d e z"),      # interior copy of doc 1's 'a b c d e'
    (3, "p q r s t u v w"),
    (4, None),
    (5, "a b c d e f g h"),      # verbatim copy of doc 1
    (6, "m n"),                  # shorter than one gram
]


def _df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def _spans(spark, l=4, **kw):
    return {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans.dup_spans(_df(spark), l, **kw).collect()
    }


def test_keep_first_and_merge(spark):
    got = _spans(spark, 4)
    # doc 1 holds every first occurrence -> reports nothing; doc 2's
    # two overlapping redundant grams (pos 2, 3) merge to one span;
    # doc 5's five grams merge to the whole document.
    assert got == {(2, 2, 7), (5, 0, 8)}


def test_positional_grams_positions(spark):
    df = spark.createDataFrame([("w0 w1 w2 w3",)], "text string")
    got = df.select(
        F.posexplode(spans.positional_grams(F.col("text"), 2))
    ).collect()
    assert [(r.pos, r.col) for r in got] == [
        (0, "w0 w1"), (1, "w1 w2"), (2, "w2 w3")
    ]


def test_touching_spans_merge(spark):
    # doc 2: 'a b' at pos 0 and 'c d' at pos 2 are redundant but
    # 'b c' between them is unique -> extents [0,2) and [2,4) touch
    # and must merge to one span [0,4)
    df = spark.createDataFrame(
        [(1, "a b x c d"), (2, "a b c d")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans.dup_spans(df, 2).collect()
    }
    assert got == {(2, 0, 4)}


def test_excise_rebuild(spark):
    got = {
        r.doc_id: (r.clean_text, r.n_words, r.dup_words, r.n_spans)
        for r in spans.excise_dup_spans(_df(spark), 4).collect()
    }
    assert got[1] == ("a b c d e f g h", 8, 0, 0)
    assert got[2] == ("x y z", 8, 5, 1)
    assert got[4] == (None, 0, 0, 0)
    assert got[5] == ("", 8, 8, 1)
    assert got[6] == ("m n", 2, 0, 0)


def test_hash_scheme_parity(spark):
    assert_md5_and_xxhash64_are_equal_collect(
        lambda fn: spans.dup_spans(_df(spark), 4, hash_fn=fn).select(
            "doc_id", "span_start", "span_end"))


def test_within_doc_repetition(spark):
    # internal repetition alone (one doc) still yields redundant spans
    df = spark.createDataFrame(
        [(1, "u v w z u v w")], "doc_id long, text string"
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans.dup_spans(df, 3).collect()
    }
    assert got == {(1, 4, 7)}


def test_sample_mod_subsets_exact(spark):
    # 0-mod-p sampling: a long verbatim repeat (28 words, 26 grams at
    # l=3 — miss odds (1/2)^26 with w=2, and deterministic given the
    # hash) must surface, and every sampled span must lie inside an
    # exact span — under both selection rules (xxhash64 longs; md5 hex
    # prefix).
    run = " ".join(f"t{i}" for i in range(28))
    df = spark.createDataFrame(
        [(1, f"c1 c2 {run} x1 x2"), (2, f"z1 {run} z2")],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans.dup_spans(df, 3).collect()
    }
    win = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans.dup_spans(df, 3, hash_fn="xxhash64", sample_mod=2).collect()
    }
    assert any(d == 2 for d, _, _ in win), win
    for d, s, e in win:
        assert any(
            d == de and s >= se and e <= ee for de, se, ee in exact
        ), (d, s, e, exact)
    win_md5 = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans.dup_spans(df, 3, sample_mod=2).collect()
    }
    for d, s, e in win_md5:
        assert any(
            d == de and s >= se and e <= ee for de, se, ee in exact
        ), (d, s, e, exact)


def test_contamination_spans_and_excise(spark):
    eval_df = spark.createDataFrame(
        [(100, "a b c d"), (101, None)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x a b c d y"),        # one contaminated span [1,5)
            (2, "a b x c d"),          # grams split by x: no 2-gram? (l=2: 'a b','c d' hit)
            (3, "p q r s"),            # clean
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in spans.contamination_spans(corpus, eval_df, 2).collect()
    }
    # doc 1: grams 'a b'(1),'b c'(2),'c d'(3) all in eval -> [1,5)
    # doc 2: 'a b'(0) and 'c d'(3) hit, 'b x'/'x c' don't -> two spans
    assert got == {(1, 1, 5), (2, 0, 2), (2, 3, 5)}
    ex = {
        r.doc_id: (r.clean_text, r.contam_words, r.n_spans)
        for r in spans.excise_contamination(corpus, eval_df, 2).collect()
    }
    assert ex[1] == ("x y", 4, 1)
    assert ex[2] == ("x", 4, 2)
    assert ex[3] == ("p q r s", 0, 0)


def test_cross_source_leakage(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c z1", "wiki"),    # first copy of 'a b c'
            (2, "z2 a b c", "web"),     # leaked from wiki
            (3, "a b c z3", "web"),     # leaked from wiki
            (4, "q r s t", "web"),      # clean
            (5, "q r s z4", "wiki"),    # no 3-gram overlap with doc 4? 'q r s' IS shared
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r.source, r.first_source): r.n_grams
        for r in spans.cross_source_leakage(df, 3).collect()
    }
    # 'a b c' first copy doc1(wiki): redundant at doc2(web), doc3(web)
    # 'q r s' first copy doc4(web): redundant at doc5(wiki)
    assert got == {("web", "wiki"): 2, ("wiki", "web"): 1}


def test_param_validation(spark):
    import pytest

    with pytest.raises(ValueError):
        spans.redundant_occurrences(_df(spark), 3, sample_mod=0)
    with pytest.raises(ValueError):
        spans.redundant_occurrences(_df(spark), 3, hash_fn="sha1")


def _ref_spans(corpus, l, sample_mod=1):
    """Pure-Python reference of the whole span family: positional grams,
    optional 0-mod-p selection on the md5 hex prefix, keep-first
    redundancy, touching-merge islands, excision, leakage matrix."""
    import hashlib
    from collections import defaultdict

    def sel(gram):
        if sample_mod == 1:
            return True
        h = hashlib.md5(gram.encode()).hexdigest()[:15]
        return int(h, 16) % sample_mod == 0

    src_of, words = {}, {}
    occ = defaultdict(list)
    for d, text, src in corpus:
        src_of[d] = src
        ws = text.split(" ") if text is not None else None
        words[d] = ws
        if ws is None:
            continue
        for p in range(len(ws) - l + 1):
            g = " ".join(ws[p : p + l])
            if sel(g):
                occ[g].append((d, p))
    red, leak = set(), defaultdict(int)
    for g, lst in occ.items():
        lst.sort()
        if len(lst) >= 2:
            d0 = lst[0][0]
            for d, p in lst[1:]:
                red.add((d, p))
                leak[(src_of[d], src_of[d0])] += 1
    spans_by_doc = defaultdict(list)
    for d in sorted(words):
        ps = sorted(p for dd, p in red if dd == d)
        merged = []
        for p in ps:
            if merged and p <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], p + l)
            else:
                merged.append([p, p + l])
        spans_by_doc[d] = merged
    excise = {}
    for d, ws in words.items():
        sp = spans_by_doc[d]
        if ws is None:
            excise[d] = (None, 0, 0, 0)
            continue
        kept = [
            w for i, w in enumerate(ws)
            if not any(s <= i < e for s, e in sp)
        ]
        excise[d] = (
            " ".join(kept) if sp else " ".join(ws),
            len(ws), sum(e - s for s, e in sp), len(sp),
        )
    span_rows = {
        (d, s, e) for d, sp in spans_by_doc.items() for s, e in sp
    }
    return span_rows, excise, dict(leak)


def test_bulk_random_corpus_matches_reference(spark):
    import numpy as np

    rng = np.random.default_rng(17)
    vocab = ["a", "b", "c", "d", "e", "f"]
    corpus = []
    for d in range(120):
        if d % 37 == 5:
            corpus.append((d, None, "s0"))
            continue
        n = int(rng.integers(0, 13))
        text = " ".join(vocab[int(i)] for i in rng.integers(0, 6, size=n))
        corpus.append((d, text, f"s{int(rng.integers(0, 2))}"))
    df = spark.createDataFrame(corpus, "doc_id long, text string, source string")

    for mod in (1, 2):
        ref_spans, ref_ex, ref_leak = _ref_spans(corpus, 3, sample_mod=mod)
        got_spans = {
            (r.doc_id, r.span_start, r.span_end)
            for r in spans.dup_spans(df, 3, sample_mod=mod).collect()
        }
        assert got_spans == ref_spans, f"mod={mod}"
        got_ex = {
            r.doc_id: (r.clean_text, r.n_words, r.dup_words, r.n_spans)
            for r in spans.excise_dup_spans(df, 3, sample_mod=mod).collect()
        }
        assert got_ex == ref_ex, f"mod={mod}"
    _, _, ref_leak = _ref_spans(corpus, 3)  # leakage is exact (no sampling)
    got_leak = {
        (r.source, r.first_source): r.n_grams
        for r in spans.cross_source_leakage(df, 3).collect()
    }
    assert got_leak == ref_leak
