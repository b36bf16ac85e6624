"""Text analysis operators: profiling, language-ID, token counting,
fingerprinting — all native-expression, one narrow projection per doc.

These are per-row map-only transforms: no shuffle at any scale; the plan
is scan -> project, and column pruning keeps the scan to the text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nexus_processor_spark.functions.text import char_shingles, tokens
from nexus_processor_spark.plans.layout import spread

# Marker stopwords per language for the n-gram/stopword-hit heuristic.
# Deterministic tie-break: earlier entry wins (en > fr > de > es).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "les", "et", "est"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "y", "es", "una"),
}

STOPWORDS = LANG_MARKERS["en"]

# BPE-ish pre-tokenizer: letter runs, digit runs, other non-space singles.
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("long")


def _marker_hits_text(t: Column, markers: tuple[str, ...]) -> Column:
    """Token-equality hit count straight off the text: one regexp_count
    pass with each marker anchored to token boundaries (start/sep before,
    sep/end after), so a marker only counts as a whole token — exactly
    ``_marker_hits(tokens(text), markers)``, without materializing the
    token array (markers are plain words; no escaping needed)."""
    pat = f"(?:^|(?<= ))(?:{'|'.join(markers)})(?= |$)"
    return F.regexp_count(t, F.lit(pat)).cast("long")


def text_profile(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Quality-scoring features: lengths, token stats, stopword ratio,
    BPE-ish token count. Exact-rational divisions only (no rounding needed
    cross-engine)."""
    t = F.col(text_col)
    # Single-char-class counts (spaces, digits) go through translate —
    # one char-map pass, no regex; token count = spaces + 1 and the
    # space-stripped length is exactly n_chars - (n_tokens - 1) for a
    # single-char separator. Structural counts (BPE runs, stopword hits)
    # stay regexp_count — no match-array materialization. Equivalence to
    # the array forms is pinned by tests/test_properties.py.
    n_toks = (F.length(t) - F.length(F.translate(t, " ", "")) + 1).cast("long")
    stop_hits = _marker_hits_text(t, STOPWORDS)
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        n_toks.alias("n_tokens"),
        ((F.length(t) - n_toks + 1).cast("double") / n_toks)
        .alias("avg_token_len"),
        stop_hits.alias("stopword_hits"),
        (stop_hits.cast("double") / n_toks).alias("stopword_ratio"),
        # BPE count decomposed: the alternation regex re-evaluates three
        # branches at every position; letter runs + digit runs are two
        # cheap single-class regexes, and "other" singles are exact char
        # arithmetic (total - letters - digits - spaces via translate).
        (
            F.regexp_count(t, F.lit("[A-Za-z]+"))
            + F.regexp_count(t, F.lit("[0-9]+"))
            + F.length(
                F.translate(
                    t,
                    " 0123456789"
                    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz",
                    "",
                )
            )
        ).cast("long").alias("bpe_tokens"),
        (F.length(t) - F.length(F.translate(t, "0123456789", ""))).cast("long")
        .alias("n_digits"),
    )


def language_id(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-hit language heuristic: per-language marker counts and the
    argmax (first-listed language wins ties)."""
    t = F.col(text_col)
    scores = {lang: _marker_hits_text(t, m) for lang, m in LANG_MARKERS.items()}
    langs = list(LANG_MARKERS)
    pred = F.lit("und")
    # Build the CASE from the lowest priority up so earlier langs override.
    for lang in reversed(langs):
        others = [scores[o] for o in langs if o != lang]
        pred = F.when(
            (scores[lang] > 0) & (scores[lang] >= F.greatest(*others)), F.lit(lang)
        ).otherwise(pred)
    return df.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def normalize_text(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Training-corpus text normalization: lowercase, collapse whitespace,
    strip non-alphanumeric-basic punctuation, trim. Map-only."""
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(t), "[^a-z0-9 ]", " "),
            " +", " ",
        )
    )
    return df.select(F.col(id_col), norm.alias("norm_text"))


def chunk_documents(
    df: DataFrame,
    *,
    chunk_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    pretraining-corpus chunker. One row per (doc, chunk); chunk k covers
    tokens [k*stride, k*stride + chunk_tokens). All native: sequence +
    transform + slice, no UDF, no shuffle."""
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size(toks)
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.concat_ws(" ", F.slice(toks, k * stride + 1, chunk_tokens)),
    )
    return (
        df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "chunk_text"))
        .withColumn("chunk_id", F.col("chunk_id").cast("long"))
        .withColumn("chunk_tokens",
                    F.size(F.split(F.col("chunk_text"), " ")).cast("long"))
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int = 512,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_col: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-budget training packs by running token
    count (deterministic id-order greedy-by-cumsum). A cumulative sum over
    one window pass: pack_id = floor(cumsum_before / budget) — packs can
    overflow by at most one document, the standard streaming-packing
    approximation (exact bin packing is NP-hard and order-destroying).

    Sharded packing windows inside each shard (bounded partitions, pack
    ids are (shard, pack_id) pairs). Unsharded packing — one global
    id-ordered cumsum — runs through the two-phase distributed scan
    (``prefix.distributed_running_sum`` over an id-grid bucket), never a
    single-task global window, so it holds at corpus scale too; it
    requires a numeric ``id_col``.
    """
    if shard_col:
        w = Window.partitionBy(shard_col).orderBy(id_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = F.sum(tokens_col).over(w) - F.col(tokens_col)  # tokens before
        return df.select(
            F.col(shard_col), F.col(id_col), F.col(tokens_col),
            F.floor(cum / F.lit(budget_tokens)).cast("long").alias("pack_id"),
        )
    from nexus_processor_spark.operators.prefix import distributed_running_sum

    run = distributed_running_sum(
        df.select(id_col, tokens_col),
        order_col=id_col,
        value_col=tokens_col,
        grid=65536.0,
        out_col="_cum",
    )
    cum_before = F.col("_cum") - F.col(tokens_col)
    return run.select(
        F.col(id_col), F.col(tokens_col),
        F.floor(cum_before / F.lit(budget_tokens)).cast("long").alias("pack_id"),
    )


def fingerprints(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Document fingerprints: full-content md5, normalized md5 (lowercase,
    collapsed whitespace), and a rolling min-hash over char k-grams (the
    winnowing-style shift-robust fingerprint)."""
    t = F.col(text_col)
    norm = F.regexp_replace(F.lower(t), "\\s+", " ")
    grams = char_shingles(t, k)
    rolling = F.when(
        F.size(grams) > 0, F.array_min(F.transform(grams, F.md5))
    )
    df = spread(df.select(F.col(id_col), t))
    return df.select(
        F.col(id_col),
        F.md5(t).alias("fp_md5"),
        F.md5(norm).alias("fp_norm_md5"),
        rolling.alias("fp_rolling_min"),
    )


def hashed_features(
    df: DataFrame,
    dim: int = 64,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. — public
    literature) text vectorization in long form: every token occurrence
    lands in bucket ``md5(token) % dim`` with a second-hash sign, and the
    per-(doc, bucket) signed counts are the document's sparse vector.
    Fixed dimensionality with no vocabulary pass — the standard trick for
    featurizing unbounded token spaces at corpus scale.

    Output: ``(id, bucket, weight)`` — the sparse long form (empty
    buckets absent; a bucket whose signs cancel to 0 is still emitted).
    Feed :func:`hashed_dense` for an ``array<double>`` compatible with
    the similarity operators. One (doc, bucket) shuffle.

    ``hash_fn="md5"`` (default) keeps the exact vectors reproducible in
    any engine (the oracle scheme — same rule as ``dedup.
    minhash_signatures``); ``"xxhash64"`` is the production scale path:
    one native 64-bit codegen hash per token instead of an md5 + two
    hex-string conversions (~2.5x end-to-end on the 2M-doc docsbench).
    Different hash => different (valid) feature spaces; pick one per
    corpus and stay with it.
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be md5 or xxhash64, got {hash_fn!r}")
    if hash_fn == "xxhash64":
        h = F.xxhash64(F.col("_tok"))
        bucket = F.pmod(h, F.lit(dim)).cast("int")
        sign = F.when(
            F.pmod(F.shiftright(h, 32), F.lit(2)) == 0, F.lit(1)
        ).otherwise(F.lit(-1))
    else:
        h = F.md5(F.col("_tok"))
        bucket = (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % F.lit(dim)
        ).cast("int")
        sign = F.when(
            F.conv(F.substring(h, 9, 1), 16, 10).cast("int") % 2 == 0,
            F.lit(1),
        ).otherwise(F.lit(-1))
    return (
        spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("_tok"))
        .select(id_col, bucket.alias("bucket"), sign.alias("_s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("_s").cast("long").alias("weight"))
    )


def hashed_dense(
    features: DataFrame,
    dim: int = 64,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assemble :func:`hashed_features` long form into dense
    ``array<double>`` vectors (zeros for absent buckets) — the bridge to
    ``operators.similarity`` (cosine top-k, IVF, PQ) over text.

    Pivot by conditional aggregation (``dim`` when-sums), not
    ``map_from_entries`` + per-index ``element_at`` probes: the map
    probe is a linear scan per index (O(dim * nnz) interpreted work per
    row — measured 20 s for 200k docs at dim 64), while the when-sums
    are codegen primitives with map-side partial aggregation (~4x
    faster, and the shuffle carries partially-combined rows)."""
    aggs = [
        F.sum(F.when(F.col("bucket") == j, F.col("weight"))).alias(f"_b{j}")
        for j in range(dim)
    ]
    return (
        features.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.array(
                *[
                    F.coalesce(F.col(f"_b{j}").cast("double"), F.lit(0.0))
                    for j in range(dim)
                ]
            ).alias("embedding"),
        )
    )
