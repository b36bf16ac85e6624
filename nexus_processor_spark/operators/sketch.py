"""Mergeable frequency/membership sketches in the md5-hex domain.

Count-Min and Bloom state here is a plain DataFrame of bucket rows, so a
sketch is (a) bounded — ``depth x width`` rows no matter how big the
input, (b) mergeable — union + sum, the same partial-aggregate shape
Spark uses for every agg, and (c) broadcastable — lookups join the
probe side against a tiny relation instead of shuffling the corpus.

Hashing is ``md5(seed || '|' || key)`` truncated to 8 hex chars, the
repo-wide cross-engine convention (pipeline.hash_hex, textstats feature
hashing): deterministic across runs, partitionings, and engines, and
re-expressible in ANSI-ish SQL — so even the *estimates* get a DuckDB
oracle, not a tolerance test.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_bucket(key: Column, d: int, width: int) -> Column:
    """The ``d``-th bucket in [0, width) for a key: 8-hex slice ``d % 4``
    of ``md5(key)`` (``md5(g|key)`` for slice group ``g = d // 4``) as an
    integer, mod width. One digest serves four hash functions — the same
    slice convention as the minhash banding — so depth<=4 sketches pay
    ONE md5 per row, not depth."""
    g, s = divmod(d, 4)
    h = (F.md5(key.cast("string")) if g == 0
         else F.md5(F.concat(F.lit(f"{g}|"), key.cast("string"))))
    return (
        F.conv(F.substring(h, 1 + 8 * s, 8), 16, 10).cast("long")
        % F.lit(width)
    )


def _explode_buckets(
    df: DataFrame, key: Column, depth: int, width: int
) -> DataFrame:
    """Rows x depth as ``(d, bucket)`` — buckets computed in ONE
    projection (md5 shared across slices by codegen subexpression
    elimination), then posexploded as plain ints."""
    arr = F.array(*[md5_bucket(key, d, width) for d in range(depth)])
    return df.select(
        "*", F.posexplode(arr).alias("d", "bucket")
    )


def cms_build(
    items: DataFrame,
    key_col: str,
    *,
    width: int = 8192,
    depth: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of ``items[key_col]`` (one count per row, or
    ``weight_col`` summed): rows ``(d, bucket, n)``, at most
    ``depth x width`` of them.

    The stream collapses to per-key totals BEFORE the x-depth bucket
    explode — for Zipfian key domains (tokens, domains, ids-with-repeats)
    the explode then runs over |vocab| rows instead of the corpus, a ~3x
    win measured at 2M docs."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = items.select(F.col(key_col).alias("_k"), w.alias("_w")) \
        .groupBy("_k").agg(F.sum("_w").alias("_w"))
    return (
        _explode_buckets(rows, F.col("_k"), depth, width)
        .groupBy("d", "bucket")
        .agg(F.sum("_w").cast("long").alias("n"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge CMS tables built with the same (width, depth): union + sum —
    the mergeability that makes per-partition / per-day sketches roll up."""
    allb = reduce(lambda a, b: a.unionByName(b), sketches)
    return allb.groupBy("d", "bucket").agg(F.sum("n").cast("long").alias("n"))


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    *,
    width: int = 8192,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for ``probes[key_col]``: min over the
    sketch's depth rows. The sketch is broadcast (bounded size); the
    probe side joins map-side. Never-seen buckets count as 0."""
    p = _explode_buckets(probes.select(key_col), F.col(key_col), depth, width)
    return (
        p.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias("est"))
    )


def bloom_build(
    keys: DataFrame, key_col: str, *, bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Bloom membership state for the distinct keys: the set of set bit
    positions, as a one-column DataFrame (≤ ``bits`` rows, usually far
    fewer). Mergeable by union+distinct; broadcastable."""
    return (
        _explode_buckets(
            keys.select(F.col(key_col).alias("_k")), F.col("_k"), k, bits
        )
        .select(F.col("bucket").alias("pos"))
        .distinct()
    )


def bloom_filter_candidates(
    df: DataFrame, key_col: str, bloom: DataFrame, *, bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Rows of ``df`` whose key passes the bloom (all ``k`` positions
    set) — a superset of true members with deterministic false
    positives. One broadcast left-semi join per hash function, all
    map-side: the big side is never shuffled, never exploded."""
    b = F.broadcast(bloom.withColumnRenamed("pos", "_pos"))
    # ALL k positions materialize in ONE projection before the first
    # join (the md5_bucket slice sharing only collapses to one digest
    # inside a single projection — computed per join stage, the k
    # probes would pay k full md5 passes over the corpus)
    out = df.withColumn(
        "_posarr",
        F.array(*[md5_bucket(F.col(key_col), i, bits) for i in range(k)]),
    )
    for i in range(k):
        out = out.withColumn(
            "_pos", F.element_at("_posarr", i + 1)
        ).join(b, "_pos", "left_semi")
    return out.drop("_pos", "_posarr")


# --------------------------------------------------------------- KMV

_KMV_BITS = 60  # 15 md5 hex chars: exact in a long AND in a double
_KMV_DOMAIN = float(1 << 60)


def _kmv_hash(key: Column) -> Column:
    """60-bit uniform draw for a key: first 15 md5 hex chars as a long —
    the same md5-domain convention as ``pipeline.hash_uniform``."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
        "long"
    )


def kmv_sketch(
    items: DataFrame,
    key_col: str,
    *,
    k: int = 256,
    by: str | None = None,
) -> DataFrame:
    """K-minimum-values distinct-count sketch (per ``by`` group if
    given): the ``k`` smallest 60-bit hash draws over the distinct keys.
    Rows ``([by], h)`` — bounded at ``k`` per group, mergeable by
    re-sketching the union (same-key rows share the same draw, so a
    union is a multiset union of fixed-size states).

    Shape: one partial-agg dedup shuffle on (by, key), then a per-group
    top-k window over the *distinct* keys only. The raw corpus never
    sorts; only the deduped key space does, and partial aggregation has
    already collapsed it map-side. Ungrouped sketches never sort the
    full key space on one task either: :func:`_k_smallest` pre-filters
    to the k smallest per input partition, so the final k-selection sees
    at most ``numPartitions * k`` rows.
    """
    from pyspark.sql import Window

    keys = [by] if by else []
    distinct = items.select(*keys, F.col(key_col).alias("_k")).distinct()
    hashed = distinct.select(*keys, _kmv_hash(F.col("_k")).alias("h"))
    if not keys:
        return _k_smallest(hashed, k)
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _k_smallest(hashed: DataFrame, k: int) -> DataFrame:
    """Global k smallest ``h`` values, two-phase: per-input-partition
    k-smallest (bounded windows keyed on ``spark_partition_id``), then
    the final k over the <= numPartitions*k survivors — never a global
    sort of the whole key space on one task."""
    from pyspark.sql import Window

    w_p = Window.partitionBy("_pid").orderBy("h")
    cand = (
        hashed.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w_p))
        .filter(F.col("_rn") <= k)
        .drop("_pid", "_rn")
    )
    w = Window.partitionBy().orderBy("h")
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_merge(*sketches: DataFrame, k: int = 256, by: str | None = None) -> DataFrame:
    """Union sketch: k smallest distinct draws across the inputs (draws,
    not keys — same key hashes identically, so draw-dedup IS key-dedup).
    Estimates the distinct count of the UNION of the original key sets."""
    from pyspark.sql import Window

    keys = [by] if by else []
    allh = reduce(lambda a, b: a.unionByName(b), sketches)
    distinct = allh.select(*keys, "h").distinct()
    if not keys:
        return _k_smallest(distinct, k)
    w = Window.partitionBy(*keys).orderBy("h")
    return (
        distinct.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_set_ops(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    *,
    k: int = 256,
) -> DataFrame:
    """Theta-sketch-style set algebra from two KMV sketches: union,
    intersection, difference, and Jaccard ESTIMATES without touching the
    original key sets (Beyer et al. 2007 / the DataSketches theta rule).

    Let U be the k smallest draws of the sketch union (the union sketch)
    and ``K = |U ∩ A ∩ B|`` the union-sketch draws seen by BOTH sides.
    ``K / |U|`` is an unbiased Jaccard estimate (each union draw is a
    uniform sample of A∪B), so ``inter_est = jaccard_est * union_est``
    and ``diff_a_est = union_est - b_est``. When the union holds fewer
    than k draws every sketch saw its whole key set and all outputs are
    exact.

    All inputs are integer-exact (draw counts, 60-bit hashes); the only
    float ops are single IEEE divisions/multiplications — estimates are
    engine-reproducible, so oracles check them exactly.

    One row: ``n_union_draws, n_common_draws, union_est, inter_jaccard,
    inter_est, a_est, b_est``. Bounded work everywhere: both sketches
    are <= k rows by construction — which is why each input is
    materialized (localCheckpoint) up front: every side is consumed
    THREE times below (union draws, common draws, own estimate), and
    without the lineage cut each consumption re-executes the sketch's
    whole upstream corpus pipeline (measured as 6 corpus scans in the
    declared kmv_set_ops query's before-plan).
    """
    a = sketch_a.select("h").localCheckpoint(eager=True)
    b = sketch_b.select("h").localCheckpoint(eager=True)
    u = _k_smallest(a.unionByName(b).distinct(), k)
    common = a.join(b, "h")  # draws present in both sketches
    stats = (
        u.join(common.select(F.col("h").alias("h"), F.lit(1).alias("_both")),
               "h", "left")
        .agg(
            F.count("*").cast("long").alias("n_union_draws"),
            F.sum(F.coalesce(F.col("_both"), F.lit(0))).cast("long")
            .alias("n_common_draws"),
            F.max("h").alias("_hmax"),
        )
    )
    union_est = F.when(
        F.col("n_union_draws") < k, F.col("n_union_draws").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("_hmax").cast("double")
    )
    a_est = kmv_estimate(a.select(F.col("h")), k=k).select(
        F.col("est_distinct").alias("a_est"))
    b_est = kmv_estimate(b.select(F.col("h")), k=k).select(
        F.col("est_distinct").alias("b_est"))
    jac = F.col("n_common_draws").cast("double") / F.col("n_union_draws")
    return (
        stats.withColumn("union_est", F.round(union_est, 4))
        .withColumn("inter_jaccard", F.round(jac, 6))
        .withColumn("inter_est", F.round(jac * F.col("union_est"), 4))
        .crossJoin(F.broadcast(a_est))
        .crossJoin(F.broadcast(b_est))
        .select("n_union_draws", "n_common_draws", "union_est",
                "inter_jaccard", "inter_est", "a_est", "b_est")
    )


def kmv_estimate(sketch: DataFrame, *, k: int = 256, by: str | None = None) -> DataFrame:
    """Distinct-count estimate per group: exact row count when the group
    holds fewer than ``k`` draws (the sketch saw every key), else
    ``(k - 1) / theta`` with ``theta = h_(k) / 2^60``. Integer-exact
    inputs into one IEEE division — engine-reproducible without
    tolerance."""
    keys = [by] if by else []
    agg = sketch.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_draws"),
        F.max("h").alias("h_max"),
    )
    est = F.when(
        F.col("n_draws") < k, F.col("n_draws").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_DOMAIN) / F.col("h_max").cast("double")
    )
    return agg.select(*keys, "n_draws", F.round(est, 4).alias("est_distinct"))


# --------------------------------------------------------------- HLL

HLL_B = 12            # 4096 registers: 3 md5 hex chars
HLL_M = 1 << HLL_B
HLL_W = 20            # rho domain: 5 more hex chars, 20 bits
# alpha_m for m >= 128 (Flajolet et al. 2007)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _rho_case(v: Column, w: int = HLL_W) -> Column:
    """Position of the first 1-bit of a w-bit value (1-based from the
    top); w+1 when v == 0. Pure integer comparisons — float log2 rounds
    the 2^k-1 boundaries up at high bit widths, so it's banned here."""
    expr = F.lit(w + 1)
    # built innermost-first: the i=1 (top-bit) test must wrap LAST so it
    # is evaluated first — when-chains short-circuit outside-in
    for i in range(w, 0, -1):
        expr = F.when(v >= F.lit(1 << (w - i)), F.lit(i)).otherwise(expr)
    return expr


def hll_registers(
    items: DataFrame, key_col: str, *, by: str | None = None,
    w: int = HLL_W, union_label: str | None = None,
) -> DataFrame:
    """HyperLogLog register table: ``([by], bucket, rho)`` with at most
    4096 rows per group. Bucket = first 3 md5 hex chars; rho = first
    1-bit position of the next ``w`` bits. One partial-agg shuffle (max
    is algebraic); mergeable with :func:`hll_merge` by register-wise max
    (merge only register tables built with the SAME ``w``).

    ``w`` bounds the countable range: registers saturate at rho = w+1,
    capping estimates near ``alpha * m * 2^(w+1)`` — ~6e9 at the
    default w=20. The default keeps the harmonic sum EXACTLY
    representable in a double (denominators <= 2^21 over <= 4096 terms
    needs 33 mantissa bits), which is what makes the estimate
    engine-reproducible bit-for-bit for the oracle. Counting beyond
    ~1e9 distincts (URL/shingle spaces at 100 TB), pass w=40: range
    grows to ~9e15 and accuracy is unchanged, but the sum may round in
    the last bit (needs 53 > 52 mantissa bits), so cross-engine
    equality downgrades from guaranteed to observed.

    No key pre-aggregation on purpose: the partial aggregate already
    collapses each task to <= 4096 register rows map-side, so a key
    dedup first only ADDS a vocab-wide shuffle (measured 26s vs 17.8s
    at 2M docs) — unlike ``cms_build``, whose win comes from shrinking
    its x-depth explode, which HLL doesn't have.

    ``union_label`` (requires ``by``) additionally emits the all-groups
    union register table in the SAME aggregate — grouping sets
    ``((by, bucket), (bucket))``, union rows labeled ``union_label`` —
    identical values to ``hll_merge(registers.drop(by))`` (register-wise
    max is associative) for ONE pass over the input instead of the merge
    branch re-running the whole md5 lineage a second time."""
    if not 1 <= w <= 60:
        raise ValueError(f"w must be in [1, 60], got {w}")
    if union_label is not None and not by:
        raise ValueError("union_label requires by")
    keys = [by] if by else []
    h = F.md5(F.col(key_col).cast("string"))
    bucket = F.conv(F.substring(h, 1, 3), 16, 10).cast("long")
    n_hex = -(-w // 4)
    v = F.conv(F.substring(h, 4, n_hex), 16, 10).cast("long")
    if 4 * n_hex != w:  # top w bits of the sliced hex chars
        v = F.shiftright(v, 4 * n_hex - w)
    base = items.select(
        *keys, bucket.alias("bucket"), _rho_case(v, w).alias("_r"))
    if union_label is None:
        return (
            base.groupBy(*keys, "bucket")
            .agg(F.max("_r").cast("long").alias("rho"))
        )
    return (
        base.groupingSets([[by, "bucket"], ["bucket"]], by, "bucket")
        # grouping() (not a null test) marks the union rows, so a NULL
        # group value in the data keeps its own register table
        .agg(F.max("_r").cast("long").alias("rho"),
             F.grouping(by).alias("_g"))
        .select(
            F.when(F.col("_g") == 1, F.lit(union_label))
            .otherwise(F.col(by)).alias(by),
            "bucket", "rho",
        )
    )


def hll_merge(*registers: DataFrame) -> DataFrame:
    """Merge register tables (same grouping columns): register-wise max —
    the union-of-sets sketch, the same algebra Spark's partial aggs use."""
    allr = reduce(lambda a, b: a.unionByName(b), registers)
    keys = [c for c in allr.columns if c not in ("bucket", "rho")]
    return allr.groupBy(*keys, "bucket").agg(
        F.max("rho").cast("long").alias("rho")
    )


def hll_estimate(registers: DataFrame, *, by: str | None = None) -> DataFrame:
    """Cardinality estimate per group from a register table.

    The harmonic sum ``sum(2^-rho)`` (absent registers contribute 2^0)
    is a sum of dyadics with <= 2^21 denominators over <= 4096 terms —
    EXACT in a double regardless of accumulation order, so the raw-branch
    estimate is engine-reproducible bit-for-bit. The small-range linear
    counting branch (est <= 2.5m and empty registers exist) takes one
    ``ln`` of an exact rational: its INPUT is engine-exact, but libm/JVM
    ``log`` implementations are only correctly-rounded to ~1 ulp, so
    cross-engine equality of the rounded (1e-4) output is observed on
    every platform we run, not guaranteed by construction — a 1-ulp
    divergence landing exactly on a rounding boundary would flip the 4th
    decimal. If that ever bites, compare the pre-ln rational (m, zeros)
    instead."""
    keys = [by] if by else []
    agg = registers.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_regs"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_s"),
    )
    m = F.lit(float(HLL_M))
    # absent registers: (m - n_regs) buckets at rho=0 contribute 1 each
    s = F.col("_s") + (m - F.col("n_regs").cast("double"))
    raw = F.lit(_HLL_ALPHA) * m * m / s
    zeros = m - F.col("n_regs").cast("double")  # all absent regs are zero
    linear = m * F.log(m / zeros)
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (zeros > 0), linear
    ).otherwise(raw)
    return agg.select(*keys, F.round(est, 4).alias("est_distinct"))
