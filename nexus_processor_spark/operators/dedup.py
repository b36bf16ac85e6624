"""Deduplication operators for web-scale document corpora.

Four families, all shuffle-frugal and driver-collect-free:

* **Exact** — content-hash groupBy. One shuffle on a 16-byte key.
* **MinHash + LSH** — shingle -> salted-md5 minhash signature -> band
  bucket join -> Jaccard verification. The classic near-dup pipeline
  (Broder; used by every large LM data pipeline). Candidate generation
  touches only band-bucket collisions, never the full n² pair space.
* **SimHash** — token-vote signature; near-dups collide within small
  Hamming distance; banding the signature gives O(n) candidate gen.
* **Embedding cosine** — near-dup pairs above a cosine threshold inside
  coarse blocks (label/IVF cell), see ``operators.similarity``.

Scale notes (100 TB): every stage is a hash shuffle on bounded-width keys;
band buckets are salted md5 so skew only appears when true duplicate
clusters are huge — cap bucket fanout with ``max_bucket`` to keep the
pair join bounded (dropping only pathological mega-clusters, which are
exact-dup territory anyway).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nexus_processor_spark.functions.text import (
    BANDS_PER_MD5,
    chunk_min,
    hamming64,
    hex_prefix_value,
    minhash_xx,
    salted_md5s,
    simhash_from_values,
    simhash_values,
    tokens,
    word_shingles_text,
)
from nexus_processor_spark.plans.layout import spread


def _drop_over_full(
    df: DataFrame, key_cols: list[str], max_bucket: int
) -> DataFrame:
    """Exclude rows in over-full key buckets WITHOUT a per-key window:
    ``count() OVER (PARTITION BY key)`` ships the entire mega-bucket to
    one task and buffers it just to learn it should be dropped. Instead
    a partial-aggregated count (map-side combine, one row per bucket)
    keeps only the over-cap keys — rare by construction, that is the
    point of the cap — and the facts anti-join that tiny broadcast
    blacklist: zero shuffle of the fact rows, no single-task buffer."""
    big = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_bucket)
        .select(*key_cols)
    )
    return df.join(F.broadcast(big), key_cols, "left_anti")


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-hash dedup: one row per distinct content with the surviving
    (minimum) id and the duplicate count. Null-text rows carry no
    content and belong to no group (md5(null) would otherwise cluster
    every failed-fetch row into one phantom "duplicate" group)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated corpus itself (first-id-wins survivor rows).
    Null-text rows are not duplicates of each other — they ALL survive
    (there is no content to compare; dropping all-but-one of 10k failed
    fetches would silently destroy rows)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) | F.col(text_col).isNull())
        .drop("_rn")
    )


def minhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    shingle_words: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, band, sig): one salted-minhash per band per doc.

    Docs with no shingles (shorter than the shingle width) emit nothing —
    they cannot meaningfully near-dup match.

    ``hash_fn="md5"`` (default) is the cross-engine-checkable scheme;
    ``"xxhash64"`` is the scale path (native long codegen, ~10x cheaper
    per shingle — sig becomes a long instead of an 8-hex string).
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be md5 or xxhash64, got {hash_fn!r}")
    sh = word_shingles_text(text_col, shingle_words)
    d = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), sh.alias("_shingles")
    )
    if hash_fn == "xxhash64":
        bands = F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                minhash_xx(F.col("_shingles"), b).alias("sig"),
            )
            for b in range(num_bands)
        ])
        return (
            d.select(id_col, F.explode(bands).alias("bs"))
            .select(id_col, F.col("bs.band").alias("band"),
                    F.col("bs.sig").alias("sig"))
            .filter(F.col("sig").isNotNull())
        )
    # Materialize each salt's md5 array ONCE in its own projection — the
    # band structs below only take substring chunks of it. Inlining the
    # md5 transform into all num_bands struct elements would recompute the
    # whole salted array per band (8x the md5 work, the operator's entire
    # cost); CollapseProject keeps this split because the aliases are
    # expensive and multiply-referenced.
    n_salts = (num_bands + BANDS_PER_MD5 - 1) // BANDS_PER_MD5
    hashed = d.select(
        F.col(id_col),
        *[salted_md5s(F.col("_shingles"), s).alias(f"_h{s}") for s in range(n_salts)],
    )
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            chunk_min(F.col(f"_h{b // BANDS_PER_MD5}"), b).alias("sig"),
        )
        for b in range(num_bands)
    ])
    return (
        hashed.select(id_col, F.explode(bands).alias("bs"))
        .select(id_col, F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        .filter(F.col("sig").isNotNull())
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band bucket.

    Self-equi-join on (band, sig) — a plain shuffle-hash join on a salted
    key. ``max_bucket`` drops over-full buckets (mega-clusters) to bound
    the output at planetary scale.
    """
    sig = signatures
    if max_bucket is not None:
        sig = _drop_over_full(sig, ["band", "sig"], max_bucket)
    a = sig.select(F.col("band"), F.col("sig"), F.col(id_col).alias("id_a"))
    b = sig.select(F.col("band"), F.col("sig"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    threshold: float = 0.0,
    broadcast_pairs: bool = False,
) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs.

    The doc->shingle-set map joins in twice; ``array_intersect`` does the
    set math per pair without exploding shingles through a shuffle.
    ``broadcast_pairs`` broadcasts the (banding-collapsed, small)
    candidate side of both joins so the corpus-sized shingle projection
    streams map-side instead of shuffling its arrays — the same rule
    ``minhash_dedup_pairs`` applies to its verify stage.
    """
    sh = docs.select(
        F.col(id_col), word_shingles_text(text_col, shingle_words).alias("sh")
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    if broadcast_pairs:
        joined = F.broadcast(F.broadcast(pairs).join(a, "id_a")).join(b, "id_b")
    else:
        joined = pairs.join(a, "id_a").join(b, "id_b")
    return (
        joined
        .select(
            "id_a", "id_b",
            F.when(union > 0, inter.cast("double") / union.cast("double"))
            .otherwise(F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def _shingle_hash_projection(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    num_bands: int,
    rows_per_band: int,
    shingle_words: int,
    hash_fn: str,
) -> DataFrame:
    """Per-doc ``(id, sh, minhash columns)`` projection — the expensive
    pass both :func:`minhash_dedup_pairs` and :func:`band_signatures`
    start from (see the in-body comments in minhash_dedup_pairs for why
    the hashes live inside this projection)."""
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be md5 or xxhash64, got {hash_fn!r}")
    n_minhashes = num_bands * rows_per_band
    n_salts = -(-n_minhashes // BANDS_PER_MD5)
    raw = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), word_shingles_text(text_col, shingle_words).alias("sh")
    )
    if hash_fn == "xxhash64":
        return raw.select(
            id_col, "sh",
            *[minhash_xx(F.col("sh"), j).alias(f"_m{j}")
              for j in range(n_minhashes)],
        )
    return raw.select(
        id_col, "sh",
        *[salted_md5s(F.col("sh"), k).alias(f"_h{k}")
          for k in range(n_salts)],
    )


def _band_sig_col(b: int, rows_per_band: int, hash_fn: str) -> F.Column:
    """The band-``b`` signature from a :func:`_shingle_hash_projection`
    row: ``rows_per_band`` consecutive minhashes combined into one key."""
    js = range(b * rows_per_band, (b + 1) * rows_per_band)
    if hash_fn == "xxhash64":
        # Combine the band's minhashes into one 64-bit key. xxhash64
        # skips null inputs (it would hash shingle-less docs to the
        # seed and collide them all), so guard on the first minhash.
        combined = F.xxhash64(*[F.col(f"_m{j}") for j in js])
        return F.when(
            F.col(f"_m{b * rows_per_band}").isNotNull(), combined
        )
    # F.concat (not concat_ws): null minhash (shingle-less doc) must
    # null the whole signature, never collapse to a colliding "".
    parts = [chunk_min(F.col(f"_h{j // BANDS_PER_MD5}"), j) for j in js]
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def band_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    rows_per_band: int = 2,
    shingle_words: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """The ``(id, band, sig)`` table :func:`minhash_dedup_pairs` buckets
    on, as a standalone output — the persistable near-dup INDEX: store it
    for the kept corpus and a new batch is near-dup-checked by one
    equi-join on ``(band, sig)`` (see ``streaming.curate``). At
    ``rows_per_band=1`` this is exactly :func:`minhash_signatures`
    (pinned by tests)."""
    sh = _shingle_hash_projection(
        df, text_col=text_col, id_col=id_col, num_bands=num_bands,
        rows_per_band=rows_per_band, shingle_words=shingle_words,
        hash_fn=hash_fn,
    )
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            _band_sig_col(b, rows_per_band, hash_fn).alias("sig"),
        )
        for b in range(num_bands)
    ])
    return (
        sh.select(id_col, F.explode(band_arr).alias("bs"))
        .select(id_col, F.col("bs.band").alias("band"),
                F.col("bs.sig").alias("sig"))
        .filter(F.col("sig").isNotNull())
    )


def minhash_dedup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    rows_per_band: int = 2,
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    persist_shingles: bool = True,
    hash_fn: str = "md5",
) -> DataFrame:
    """End-to-end near-dup pair detection: LSH candidates -> Jaccard gate.

    Classic (b, r) banding: each of ``num_bands`` signatures concatenates
    ``rows_per_band`` independent minhashes, so two docs collide on a band
    with probability j**r — at r=2 the accidental-candidate rate for
    unrelated docs collapses (j=0.1: 8*j**2 ≈ 8% vs 57% at r=1) while
    true near-dups (j >= 0.5) still collide with >85% probability.

    The doc -> shingle-set projection feeds four plan branches (both sides
    of the bucket join and both sides of the verification join); without
    reuse Catalyst recomputes the md5 shingling each time. ``persist_shingles``
    materializes it once (MEMORY_AND_DISK) — at warehouse scale, checkpoint
    this projection to the lake instead and share it across dedup runs.
    """
    # The hash minhashes are the expensive columns; they live INSIDE the
    # persisted projection so they're computed exactly once. (Computing all
    # band sigs in one projection instead does NOT help: codegen
    # subexpression elimination doesn't reach inside higher-order lambdas,
    # so each band would re-hash its salt's whole array — measured 2x worse.)
    # md5 is the cross-engine-checkable scheme; xxhash64 the scale path
    # (native long codegen, ~10x cheaper per shingle).
    sh = _shingle_hash_projection(
        df, text_col=text_col, id_col=id_col, num_bands=num_bands,
        rows_per_band=rows_per_band, shingle_words=shingle_words,
        hash_fn=hash_fn,
    )
    if persist_shingles:
        # Prime the cache with an explicit action: four plan branches
        # read this projection, and a lazily-persisted DF would be
        # recomputed by each branch racing within the first job
        # (measured 3x slower).
        sh = sh.persist()
        sh.count()

    band_arr = F.array(*[
        _band_sig_col(b, rows_per_band, hash_fn) for b in range(num_bands)
    ])
    sigs = (
        sh.select(id_col, F.posexplode(band_arr).alias("band", "sig"))
        .filter(F.col("sig").isNotNull())
    )
    cands = lsh_candidate_pairs(sigs, id_col=id_col, max_bucket=max_bucket)
    # Verification joins the per-doc shingle projection in twice. The SMALL
    # side of both joins is the candidate set (banding collapsed it), so
    # that's what broadcasts — the corpus-sized projection streams map-side
    # through both joins and is never shuffled OR broadcast (a broadcast
    # projection would scale with the corpus and OOM at warehouse scale).
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    paired = F.broadcast(F.broadcast(cands).join(a, "id_a")).join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        paired.select(
            "id_a", "id_b",
            F.when(union > 0, inter.cast("double") / union.cast("double"))
            .otherwise(F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def dup_clusters(
    pairs: DataFrame,
    *,
    max_iterations: int = 20,
    require_convergence: bool = False,
) -> DataFrame:
    """Connected components over the near-dup pair graph -> (id, cluster_id).

    Iterative min-label propagation: every vertex adopts the smallest label
    among itself and its neighbors until fixpoint. Each round is one
    shuffle join + aggregate; ``localCheckpoint`` truncates lineage so the
    plan doesn't grow with iterations. Near-dup graphs have tiny diameters
    (dup clusters are quasi-cliques), so this converges in a few rounds —
    the driver loop runs O(diameter) jobs, not O(rows) work.

    Input: (id_a, id_b) columns. Output cluster_id = min member id.

    If the iteration cap is reached before fixpoint (pathological
    chain-shaped components with diameter > ``max_iterations``), a warning
    is logged and ``dup_clusters.last_converged`` is set False so callers
    can distinguish a fixpoint from a cutoff — note the attribute is
    process-global and races under concurrent callers; pass
    ``require_convergence=True`` to RAISE on a cutoff instead (the only
    race-free contract, and the right default posture for a dedup whose
    under-merged clusters would ship duplicates).
    """
    # One explode pass symmetrizes the edges — a union of two selects
    # of ``pairs`` would execute the upstream pair pipeline (banded
    # minhash + verify when fed from minhash_dedup_pairs) twice before
    # the checkpoint cuts the lineage.
    edges = (
        pairs.select(F.explode(F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
        )).alias("_e"))
        .select("_e.src", "_e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    changed = 1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).alias("_changed"),
            )
        ).localCheckpoint(eager=True)
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    dup_clusters.last_converged = changed == 0
    if changed != 0 and require_convergence:
        raise RuntimeError(
            f"dup_clusters hit max_iterations={max_iterations} before "
            "fixpoint; raise max_iterations"
        )
    if changed != 0:
        import warnings

        warnings.warn(
            f"dup_clusters hit max_iterations={max_iterations} before "
            "fixpoint; labels may be unconverged (raise max_iterations).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def near_dedup(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """The near-deduplicated corpus: one survivor (minimum id) per dup
    cluster; docs outside any cluster survive untouched."""
    clusters = dup_clusters(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash): token-vote signature per doc.

    Two-step projection: the per-token md5 values materialize once in
    their own column; the per-bit vote folds reference it (CollapseProject
    keeps expensive multiply-referenced aliases split — inlined, the md5
    transform would rerun inside every one of the ``bits`` aggregates).

    Null-text docs emit NO signature (matching
    :func:`simhash_signatures_agg` and the minhash path): the null token
    array would otherwise fold to signature 0 for every such doc,
    colliding them all into one mega-bucket of false duplicates."""
    valued = spread(
        df.select(F.col(id_col), F.col(text_col))
        .where(F.col(text_col).isNotNull())
    ).select(
        F.col(id_col),
        simhash_values(tokens(text_col), bits).alias("_vals"),
    )
    return valued.select(
        F.col(id_col),
        simhash_from_values(F.col("_vals"), bits).alias("simhash"),
    )


def simhash_signatures_agg(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
) -> DataFrame:
    """Wide simhash via the relational formulation: explode distinct
    tokens, then per-bit conditional-SUM votes in ONE hash aggregate.

    Same signature definition as :func:`simhash_signatures` (per-token
    md5-prefix value, each bit votes +-1, sign wins — pinned equivalent at
    equal ``bits`` by tests), but the fold runs as whole-stage-codegen
    aggregation with map-side partial combine instead of ``bits``
    interpreted array passes — the formulation that scales to 60-bit
    signatures and 100 TB corpora. The shuffle carries one ``bits``-long
    partial-vote row per doc per map partition, not token rows.

    ``bits`` caps at 60 so the signature stays non-negative in a BIGINT
    (band extraction shifts and the DuckDB oracle's integer math stay
    sign-free).
    """
    if not 1 <= bits <= 60:
        raise ValueError("simhash_signatures_agg supports 1..60 bits")
    hexdigits = (bits + 3) // 4
    toks = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("_t"),
    )
    vals = toks.select(
        F.col(id_col),
        hex_prefix_value(F.md5(F.col("_t")), hexdigits).alias("_v"),
    )
    votes = [
        F.sum(
            F.when(F.shiftright("_v", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{j}")
        for j in range(bits)
    ]
    agg = vals.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(F.col(f"_b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_band_candidates(
    sigs: DataFrame,
    *,
    bits: int = 16,
    hamming_max: int = 4,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_bucket: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Banded Hamming-ball candidate pairs — O(collisions), never n².

    Pigeonhole: split the ``bits``-bit signature into ``hamming_max + 1``
    contiguous bit bands; two signatures within Hamming distance
    ``hamming_max`` differ in at most ``hamming_max`` bands, so they agree
    EXACTLY on at least one band. An equi-self-join per band therefore has
    perfect recall for the Hamming ball while touching only bucket
    collisions (the standard simhash sharding scheme, cf. Manku et al.,
    WWW'07 — public literature). ``max_bucket`` drops over-full buckets
    (mega-clusters) exactly like :func:`lsh_candidate_pairs`.

    Output: (id_a, id_b, sh_a, sh_b) pairs with id_a < id_b; the
    signatures ride along so the exact Hamming verify needs no extra join.
    ``distinct=False`` skips the multi-band dedup shuffle — callers that
    filter the pairs further (e.g. the Hamming gate) dedup AFTER their
    filter, which shrinks the dedup exchange to survivors only.
    """
    n_bands = hamming_max + 1
    if bits < n_bands:
        raise ValueError(
            f"bits ({bits}) must be >= hamming_max + 1 ({n_bands}): the "
            "pigeonhole banding would produce a zero-width band whose "
            "constant key degenerates the equi-join to all-pairs"
        )
    bounds = [bits * i // n_bands for i in range(n_bands + 1)]

    def _band_val(i: int) -> F.Column:
        width = bounds[i + 1] - bounds[i]
        shifted = F.shiftright(F.col(sig_col), bounds[i])
        if width >= 64:
            # full-width band (hamming_max=0 on a 64-bit signature): the
            # mask literal (2^64-1) would overflow a long; the identity
            # needs no mask
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    bands = F.array(*[
        F.struct(F.lit(i).alias("band"), _band_val(i).alias("val"))
        for i in range(n_bands)
    ])
    banded = (
        sigs.select(F.col(id_col), F.col(sig_col), F.explode(bands).alias("b"))
        .select(
            F.col(id_col), F.col(sig_col),
            F.col("b.band").alias("band"), F.col("b.val").alias("val"),
        )
    )
    if max_bucket is not None:
        banded = _drop_over_full(banded, ["band", "val"], max_bucket)
    a = banded.select(
        "band", "val", F.col(id_col).alias("id_a"), F.col(sig_col).alias("sh_a")
    )
    b = banded.select(
        "band", "val", F.col(id_col).alias("id_b"), F.col(sig_col).alias("sh_b")
    )
    out = (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
    )
    return out.distinct() if distinct else out


def build_minhash_index(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    rows_per_band: int = 2,
    shingle_words: int = 3,
) -> DataFrame:
    """The persistable near-dup index of a corpus: one row per doc with
    its banded LSH keys AND the full minhash vector.

    ``(id, bands: array<string>, minhashes: array<string>)`` — write this
    to the lake once per corpus generation; incremental batches then
    near-dup-check against it WITHOUT re-reading old text (see
    :func:`incremental_near_dup`). Bands use the same (b, r) scheme as
    :func:`minhash_dedup_pairs`, so index hits have the same collision
    semantics; the minhash vector supports estimating Jaccard from
    signatures alone (matching-fraction estimator, Broder — the standard
    trick when the indexed corpus' text is not co-located).

    Shingle-less docs (shorter than the shingle width) emit null bands
    and an empty vector — they can never collide.
    """
    # the SAME projection + band scheme the pair detector uses — the
    # banding is the join-key contract between lake indexes and
    # band_signatures/minhash_dedup_pairs, so there is exactly one
    # implementation of it (a drifting private copy here would make
    # incremental_near_dup silently miss every match against old indexes)
    n_minhashes = num_bands * rows_per_band
    hashed = _shingle_hash_projection(
        df, text_col=text_col, id_col=id_col, num_bands=num_bands,
        rows_per_band=rows_per_band, shingle_words=shingle_words,
        hash_fn="md5",
    )
    mins = [chunk_min(F.col(f"_h{j // BANDS_PER_MD5}"), j).alias(f"_m{j}")
            for j in range(n_minhashes)]
    withm = hashed.select(id_col, *mins)

    def band_sig(b: int) -> F.Column:
        parts = [F.col(f"_m{j}") for j in
                 range(b * rows_per_band, (b + 1) * rows_per_band)]
        return parts[0] if len(parts) == 1 else F.concat(*parts)

    return withm.select(
        F.col(id_col),
        F.array(*[band_sig(b) for b in range(num_bands)]).alias("bands"),
        F.filter(
            F.array(*[F.col(f"_m{j}") for j in range(n_minhashes)]),
            lambda m: m.isNotNull(),
        ).alias("minhashes"),
    )


def incremental_near_dup(
    new_docs: DataFrame,
    index: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    rows_per_band: int = 2,
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup matches of an incoming batch against a persisted corpus
    index — the nightly-ingest gate: which new docs near-duplicate
    something already in the lake, without touching stored text.

    The batch is signed with the index's exact (b, r) scheme; candidates
    come from an equi-join of band keys (new side exploded, index side
    exploded — both bounded by rows x bands); Jaccard is then ESTIMATED
    as the fraction of agreeing minhashes (unbiased, sd ~= sqrt(j(1-j)/k)
    — at k=16, ±0.12; gate production thresholds accordingly or re-verify
    survivors against fetched text). Output:
    ``(new_id, indexed_id, est_jaccard)`` with ``est_jaccard >= threshold``.

    Every stage is a bounded hash shuffle; nothing rescans the indexed
    corpus' text — the index (two string arrays per doc) is the entire
    working set of the old side.
    """
    # fail LOUDLY on a (b, r) scheme mismatch with the persisted index:
    # mismatched band keys never join and the size==k estimator guard
    # forces est 0.0, so the gate would otherwise report "no near-dups"
    # forever while admitting every duplicate batch
    probe = (
        index.select(F.length(F.element_at("bands", 1)).alias("_w"))
        .where(F.col("_w").isNotNull()).first()
    )
    if probe is not None and probe["_w"] != 8 * rows_per_band:
        raise ValueError(
            f"index band width {probe['_w']} chars != "
            f"{8 * rows_per_band} expected for rows_per_band="
            f"{rows_per_band}: the index was built with a different "
            "banding scheme — pass the num_bands/rows_per_band it was "
            "built with"
        )
    new_index = build_minhash_index(
        new_docs, text_col=text_col, id_col=id_col, num_bands=num_bands,
        rows_per_band=rows_per_band, shingle_words=shingle_words,
    )
    def keyed(ix: DataFrame, side: str) -> DataFrame:
        k = (
            ix.select(
                F.col(id_col).alias(f"{side}_id"),
                F.col("minhashes").alias(f"{side}_mins"),
                F.posexplode("bands").alias("band", "sig"),
            )
            .filter(F.col("sig").isNotNull())
        )
        return k

    a = keyed(new_index, "new")
    b = keyed(index, "indexed")
    if max_bucket is not None:
        b = _drop_over_full(b, ["band", "sig"], max_bucket)
    cands = (
        a.join(b, ["band", "sig"])
        .select("new_id", "indexed_id", "new_mins", "indexed_mins")
        .dropDuplicates(["new_id", "indexed_id"])
    )
    k = num_bands * rows_per_band
    matches = F.size(
        F.filter(
            F.zip_with("new_mins", "indexed_mins", lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    est = F.when(
        (F.size("new_mins") == k) & (F.size("indexed_mins") == k),
        matches.cast("double") / F.lit(float(k)),
    ).otherwise(F.lit(0.0))
    return (
        cands.select(
            "new_id", "indexed_id", est.alias("est_jaccard")
        )
        .filter(F.col("est_jaccard") >= F.lit(threshold))
    )


def prefix_filter_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_words: int = 3,
    max_bucket: int | None = None,
    persist_shingles: bool = True,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07 — public literature): every pair
    of docs whose shingle-set Jaccard >= ``threshold``, with full recall,
    and no cross join anywhere in the plan.

    The filter: order each doc's shingles by ascending corpus document
    frequency (rarest first; ties broken lexically — one global canonical
    order). If ``J(A, B) >= t`` then ``|A ∩ B| >= ceil(t * |A|)``, so B
    must hit one of A's first ``|A| - ceil(t * |A|) + 1`` shingles — the
    *prefix*. Candidates therefore come from an equi-join of prefix
    shingles only. Prefixes are the RAREST shingles of each doc, so bucket
    sizes are naturally small; the pair space never approaches n².

    Contrast with :func:`minhash_dedup_pairs`: LSH is probabilistic
    (recall < 1, tunable) and touches each doc O(bands) times; prefix
    filtering is exact (recall = 1) at the cost of a corpus-wide document
    frequency pass. At 100 TB both are three bounded hash shuffles; choose
    by recall requirement.

    ``max_bucket`` (optional, recall-lossy) drops prefix entries of
    pathologically frequent shingles — only relevant when a boilerplate
    shingle floods an entire corpus shard; prefer stripping boilerplate
    upstream to keep exactness.
    """
    sh = spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), word_shingles_text(text_col, shingle_words).alias("sh")
    ).filter(F.size("sh") > 0)
    if persist_shingles:
        # the frequency pass + both verify branches read this projection;
        # long-lived sessions that cannot afford a pinned corpus-sized
        # cache block pass persist_shingles=False (shingles recompute
        # per consumer instead) — the caller cannot unpersist through
        # the returned plan, so the knob is the escape hatch
        sh = sh.persist()
        sh.count()  # prime: racing consumers would re-hash a cold cache

    freq = (
        sh.select(F.col(id_col), F.explode("sh").alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df_g"))
    )
    toks = (
        sh.select(F.col(id_col), F.size("sh").alias("s"), F.explode("sh").alias("g"))
        .join(freq, "g")
    )
    order = Window.partitionBy(id_col).orderBy("df_g", "g")
    # ceil over float t*s can land ABOVE the true ceiling at exact
    # boundaries (0.2 * 5 -> 1.0000000000000002 -> ceil 2), which would
    # shorten the prefix and silently lose recall. Nudge down first: any
    # error now only lengthens the prefix (extra candidates, killed by the
    # exact verify) — never drops a qualifying pair.
    prefix_len = (
        F.col("s") - F.ceil(F.lit(threshold) * F.col("s") - F.lit(1e-9)) + 1
    )
    prefixes = (
        toks.withColumn("_pos", F.row_number().over(order))
        .filter(F.col("_pos") <= prefix_len)
        .select(id_col, "g", "df_g")
    )
    if max_bucket is not None:
        prefixes = prefixes.filter(F.col("df_g") <= max_bucket)
    a = prefixes.select(F.col("g"), F.col(id_col).alias("id_a"))
    b = prefixes.select(F.col("g"), F.col(id_col).alias("id_b"))
    cands = (
        a.join(b, "g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    xa = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    xb = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # candidate set is the small side of both verify joins (same reasoning
    # as minhash_dedup_pairs): broadcast it, stream the shingle projection
    return (
        F.broadcast(F.broadcast(cands).join(xa, "id_a")).join(xb, "id_b")
        .select(
            "id_a", "id_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def simhash_dedup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    hamming_max: int = 4,
    max_bucket: int | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs within ``hamming_max`` of the simhash signature:
    banded candidate generation (perfect recall by pigeonhole) + exact
    Hamming verification. No cross join anywhere in the plan.

    ``signatures`` overrides the default 16-bit HOF signature operator
    (e.g. pass :func:`simhash_signatures_agg` output for the 60-bit wide
    path — set ``bits`` to match)."""
    sigs = signatures if signatures is not None else simhash_signatures(
        df, text_col=text_col, id_col=id_col, bits=bits
    )
    cands = simhash_band_candidates(
        sigs, bits=bits, hamming_max=hamming_max, id_col=id_col,
        max_bucket=max_bucket, distinct=False,
    )
    # Hamming-gate BEFORE deduping multi-band collisions: the exact verify
    # is map-side math, so filtering first shrinks the distinct() exchange
    # from every band collision to the surviving near-dup pairs.
    return (
        cands.withColumn(
            "hamming", hamming64(F.col("sh_a"), F.col("sh_b"), bits).cast("long")
        )
        .filter(F.col("hamming") <= hamming_max)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def cluster_representatives(
    docs: DataFrame,
    labels: DataFrame,
    *,
    id_col: str = "doc_id",
    order_col: str = "n_chars",
) -> DataFrame:
    """Best-copy selection per duplicate cluster: one representative row
    per connected component, chosen by highest ``order_col`` with a
    lowest-id tiebreak — "keep the longest/highest-quality copy", the
    survivor rule production curation uses instead of near_dedup's
    keep-lowest-id (a crawl's best version of a page is rarely the one
    with the smallest id).

    ``labels`` is :func:`dup_clusters` output (``id``, ``cluster_id``)
    covering only docs that joined a cluster; every other doc is its own
    singleton cluster (``cluster_key = id``). The argmax is a
    ``max(struct(order, -id))`` groupBy — map-side partial max, ONE
    shuffle of (cluster_key, order, id) triples; nothing document-sized
    moves after the left join that attaches labels.

    Output: cluster_key, rep_id, n_members, rep_<order_col>.
    """
    keyed = (
        docs.select(id_col, order_col)
        .join(
            labels.withColumnRenamed("id", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.col(order_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_key"),
        )
    )
    return (
        keyed.groupBy("cluster_key")
        .agg(
            F.max(
                F.struct(
                    F.col(order_col).alias("o"),
                    (-F.col(id_col)).alias("ni"),
                )
            ).alias("_m"),
            F.count("*").alias("n_members"),
        )
        .select(
            "cluster_key",
            (-F.col("_m.ni")).alias("rep_id"),
            "n_members",
            F.col("_m.o").alias(f"rep_{order_col}"),
        )
    )


def soft_dedup_weights(
    df: DataFrame, *, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate-aware downweighting ("soft dedup"): every exact copy of
    a document gets weight ``1/n`` (scaled to an exact ``weight_e6``
    BIGINT), so a duplicated doc contributes total mass one to training
    instead of being either dropped or over-represented — the standard
    alternative to hard dedup when sampling weights feed a data loader
    (public practice, e.g. the duplication-aware sampling discussed in
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better"; no reference counterpart).

    One windowed count per content-md5 group (null texts form singleton
    groups); the only shuffle is on the md5 key — identical shape to
    :func:`exact_dedup_groups`.
    """
    key = F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("null:"), F.col(id_col).cast("string")),
    )
    n = F.count(F.lit(1)).over(Window.partitionBy(key))
    return df.select(
        F.col(id_col),
        F.round(F.lit(1e6) / n, 0).cast("long").alias("weight_e6"),
    )


def neardup_eval(
    df: DataFrame,
    *,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_bands: int = 8,
    rows_per_band: int = 2,
    shingle_words: int = 3,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Precision/recall of the banded-LSH near-dup detector against the
    EXACT ``Jaccard >= threshold`` pair set — the evaluation every
    dedup configuration (bands x rows x threshold) needs before it
    runs over a real corpus, analogous to :func:`similarity.recall_at_k`
    for ANN.

    Ground truth without a cross join: any pair with ``J >= t > 0``
    shares at least one shingle, so the truth candidates come from a
    self-join on exploded distinct shingles (bounded by per-shingle
    document frequency) and are then exact-Jaccard verified — perfect
    truth recall by construction. On pathological corpora cap heavy
    shingles with ``max_shingle_freq`` (dropping shingles that occur in
    more docs; the truth side becomes a documented under-count). Run on
    an evaluation SLICE, not the full corpus — the measurement, like
    any eval, is sample-based.

    Output: ONE row — ``n_pred, n_true, n_hit, precision_e6,
    recall_e6`` (scaled BIGINTs; null when the denominator is 0).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("neardup_eval requires 0 < threshold <= 1 "
                         "(exact truth generation relies on J > 0)")
    grams = df.select(
        F.col(id_col),
        F.explode(word_shingles_text(text_col, shingle_words)).alias("_g"),
    )
    if max_shingle_freq is not None:
        freq = grams.groupBy("_g").agg(
            F.count(F.lit(1)).alias("_n")
        ).filter(F.col("_n") <= max_shingle_freq).select("_g")
        grams = grams.join(freq, "_g", "left_semi")
    ga = grams.select(F.col(id_col).alias("id_a"), "_g")
    gb = grams.select(F.col(id_col).alias("id_b"), "_g")
    truth_cand = (
        ga.join(gb, "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )
    truth = jaccard_verify(
        truth_cand, df, text_col=text_col, id_col=id_col,
        shingle_words=shingle_words, threshold=threshold,
    ).select("id_a", "id_b")
    pred = minhash_dedup_pairs(
        df, text_col=text_col, id_col=id_col, num_bands=num_bands,
        rows_per_band=rows_per_band, shingle_words=shingle_words,
        threshold=threshold,
    ).select("id_a", "id_b")
    # All three counts come from ONE full-outer join of the two pair
    # sets with presence markers — consuming `pred` and `truth` once
    # each. The previous three-branch form (`pred.agg`, `truth.agg`,
    # `pred SEMI truth` then agg) re-ran BOTH expensive pipelines
    # (banded minhash + exact-Jaccard verify) a second time: the
    # semi-join pushes isnotnull constraints into only its copies of
    # the subtrees, so neither static ReuseExchange nor AQE stage reuse
    # ever dedups them (the same one-sided-constraint breaker the Q20
    # fix documents). Pair sets are banding-collapsed and small; the
    # one extra (id_a, id_b) shuffle is noise next to a whole second
    # corpus pass. Counts are identical, so the declared query's hash
    # is unchanged.
    both = (
        pred.withColumn("_p", F.lit(1))
        .join(truth.withColumn("_t", F.lit(1)), ["id_a", "id_b"],
              "full_outer")
    )
    counts = both.agg(
        F.count("_p").alias("n_pred"),
        F.count("_t").alias("n_true"),
        F.count(F.when(F.col("_p").isNotNull() & F.col("_t").isNotNull(),
                       F.lit(1))).alias("n_hit"),
    )
    rate = lambda num, den: F.when(  # noqa: E731
        F.col(den) > 0,
        F.round(F.lit(1e6) * F.col(num) / F.col(den), 0).cast("long"),
    )
    return counts.select(
        "n_pred", "n_true", "n_hit",
        rate("n_hit", "n_pred").alias("precision_e6"),
        rate("n_hit", "n_true").alias("recall_e6"),
    )
