"""Byte-pair-encoding tokenizer training and encoding, Spark-first.

The missing tokenization stage of the training-data pipeline: learn a
subword merge table from corpus statistics, then segment every document
with it (the step between ``pipeline.build_vocab``'s whitespace vocab
and model-ready input ids).

Scale design (the 100 TB shape):

* The only corpus-scale pass is **word counting** — one hash aggregate
  producing the distinct-word table ``(word, wc)``, which is *vocabulary*
  -sized (tens of millions of rows for web-scale corpora), not corpus-
  sized. Everything after runs on that table; this is the same reduction
  every production tokenizer trainer makes (word-count dictionaries,
  not raw text).
* ``bpe_train`` then runs the merge loop on the **driver** over a
  deterministically capped top-``max_words`` slice of that table, with
  incremental pair-count maintenance — O(cap) memory, like collecting k
  centroids in k-means. Thousands of merges cost no Spark jobs at all.
* ``merge_pair_col`` / ``encode_native`` segment documents with
  JVM-native (higher-order function) expressions, one rewrite per merge,
  so the registry queries stay whole-stage-codegen.

Merge semantics (identical across the driver trainer, the native
encoder and the SQL oracle, test- and property-pinned):

* Words never merge across boundaries; initial symbols are codepoints.
* Pair choice per step: highest summed word-count, ties broken by
  ``(left, right)`` ascending — the same corpus always yields the same
  merge table.
* Applying one merge rewrites each word's symbol sequence greedily
  left-to-right, non-overlapping (``[a,a,a] -> [aa,a]``).
* Encoding applies the learned merges in rank order.

Reference parity: the reference engine ships no tokenizer trainer; this
family extends the corpus-curation surface (SURVEY.md "beyond the
reference" §text) the way its ETL extends ingest.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexus_processor_spark.functions.text import tokens

MERGES_SCHEMA = (
    "merge_rank long, left_sym string, right_sym string, "
    "merged string, pair_count long"
)


def word_counts(df: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Distinct-word counts ``(word, wc)`` — the one corpus-scale pass
    (map-side combined hash aggregate). Empty-string tokens (produced by
    leading/trailing/double separators) are dropped: they have no
    symbols to merge."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _sym_split(word: Column) -> Column:
    """Codepoint symbol sequence of a word (``split`` on the empty
    regex; Spark emits no trailing empty element)."""
    return F.split(word, "")


def merge_pair_col(s: Column, left: str, right: str) -> Column:
    """Native greedy left-to-right non-overlapping application of ONE
    merge ``(left, right) -> left+right`` to a symbol-array column.

    Pure higher-order expressions (filter / aggregate / transform) —
    whole-stage-codegen, no Python. The overlap subtlety: candidates at
    ``i`` and ``i+1`` only coexist when ``left == right``; the fold
    skips a candidate whose predecessor position was itself kept, which
    is exactly the greedy scan (``[a,a,a,a] -> [aa,aa]``)."""
    merged = left + right
    n = F.size(s)
    cand = F.when(
        n >= 2,
        F.filter(
            F.sequence(F.lit(0), n - 2),
            lambda i: (F.get(s, i) == left) & (F.get(s, i + 1) == right),
        ),
    ).otherwise(F.array().cast("array<int>"))
    kept = F.aggregate(
        cand,
        F.struct(
            F.array().cast("array<int>").alias("k"),
            F.lit(-2).alias("last"),
        ),
        lambda acc, i: F.when(i == acc["last"] + 1, acc).otherwise(
            F.struct(
                F.concat(acc["k"], F.array(i)).alias("k"), i.alias("last")
            )
        ),
        lambda acc: acc["k"],
    )
    rebuilt = F.filter(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.when(F.array_contains(kept, i), F.lit(merged))
            .when(F.array_contains(kept, i - 1), F.lit(None))
            .otherwise(F.get(s, i)),
        ),
        lambda x: x.isNotNull(),
    )
    # guard BEFORE building sequence(0, n-1): Spark sequences count DOWN
    # when stop < start, so an empty array must short-circuit
    return F.when(n >= 2, rebuilt).otherwise(s)


def _merge_word(sym: list[str], left: str, right: str) -> list[str]:
    out: list[str] = []
    i, n = 0, len(sym)
    while i < n:
        if i + 1 < n and sym[i] == left and sym[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return out


def train_dict(
    counts: Iterable[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """In-memory BPE merge loop over ``(word, count)`` pairs with
    incremental pair-count maintenance: each merge touches only the
    words that contain the chosen pair (indexed), not the whole
    dictionary. Pure Python, deterministic; shared by
    :func:`bpe_train` and unit tests."""
    words: list[list[str]] = []
    wcs: list[int] = []
    pair_counts: dict[tuple[str, str], int] = {}
    index: dict[tuple[str, str], set[int]] = {}
    for word, c in counts:
        idx = len(words)
        sym = list(word)
        words.append(sym)
        wcs.append(int(c))
        for p in zip(sym, sym[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + int(c)
            index.setdefault(p, set()).add(idx)
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (l, r), c = best
        merges.append((rank, l, r, l + r, c))
        for idx in sorted(index.get((l, r), ())):
            sym = words[idx]
            wc = wcs[idx]
            old = list(zip(sym, sym[1:]))
            new_sym = _merge_word(sym, l, r)
            new = list(zip(new_sym, new_sym[1:]))
            for p in old:
                pair_counts[p] -= wc
                if pair_counts[p] <= 0:
                    del pair_counts[p]
            new_set = set(new)
            for p in set(old) - new_set:
                index.get(p, set()).discard(idx)
            for p in new:
                pair_counts[p] = pair_counts.get(p, 0) + wc
                index.setdefault(p, set()).add(idx)
            words[idx] = new_sym
        index.pop((l, r), None)
    return merges


def bpe_train(
    df: DataFrame,
    n_merges: int,
    *,
    text_col: str = "text",
    max_words: int | None = 1_000_000,
    word_counts_df: DataFrame | None = None,
) -> DataFrame:
    """Learn a BPE merge table: one corpus-scale word-count aggregate,
    then the in-memory merge loop over the collected dictionary.

    ``max_words`` caps driver memory by keeping the top slice by
    ``(wc desc, word asc)`` — deterministic, and the dropped tail is
    the words whose counts steer no merge decision at real vocabulary
    skew (the standard trainer approximation; pass ``None`` to keep
    every word, which is exact).

    Returns ``(merge_rank, left_sym, right_sym, merged, pair_count)``.
    """
    spark = df.sparkSession
    wc = word_counts_df if word_counts_df is not None \
        else word_counts(df, text_col=text_col)
    if max_words is not None:
        wc = wc.orderBy(F.desc("wc"), "word").limit(max_words)
    collected = [(row.word, row.wc) for row in wc.collect()]
    collected.sort(key=lambda t: (-t[1], t[0]))
    return spark.createDataFrame(
        train_dict(collected, n_merges), MERGES_SCHEMA
    )


def encode_native(
    df: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """JVM-native encode for SMALL merge tables: chains one
    :func:`merge_pair_col` rewrite per merge in rank order over the
    distinct-word table — whole-stage codegen end to end, no Python.
    Each merge is its own PROJECTION (not a nested expression): the
    rewrite references its input ~8 times, so inlining would grow the
    tree 8x per merge, while chained projects stay linear (Catalyst's
    CollapseProject declines to inline non-cheap multiply-referenced
    aliases). Plan size grows by one projection per merge."""
    encoded = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
        .select("word", _sym_split(F.col("word")).alias("pieces"))
    )
    for l, r in merges:
        encoded = encoded.select(
            "word", merge_pair_col(F.col("pieces"), l, r).alias("pieces")
        )
    tok = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "word"),
    ).filter(F.col("word") != "")
    return (
        tok.join(encoded, "word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "pieces"))),
                    lambda s: s["pieces"],
                )
            ).alias("pieces"),
        )
        .select(
            id_col, "pieces", F.size("pieces").cast("long").alias("n_pieces")
        )
    )
