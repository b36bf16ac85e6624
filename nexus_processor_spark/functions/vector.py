"""Vector math over ``array<float>`` embedding columns — native expressions.

``zip_with`` + ``aggregate`` keep the math in the JVM with a sequential
(index-order) double accumulator, so results are deterministic and
reproducible by an oracle that sums in index order. For very wide vectors
or k-selection-heavy workloads, swap in the Arrow-batched numpy kernels in
``operators.vector_arrow`` — same semantics, amortized numpy.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; null when either side has zero norm."""
    d = dot(a, b)
    denom = norm(a) * norm(b)
    return F.when(denom > 0, d / denom)


def l2_normalize(a: Column, digits: int = 6) -> Column:
    """Unit-length projection (rounded so the doubles are engine-neutral);
    null for zero-norm vectors rather than a divide-by-zero Inf."""
    n = norm(a)
    return F.when(n > 0, F.transform(a, lambda x: F.round(x.cast("double") / n, digits)))


def quant_scale(a: Column) -> Column:
    """Symmetric int8 quantization scale: max|x| (q = round(x/scale*127))."""
    return F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))


def quantize_int8(a: Column) -> Column:
    """Symmetric int8 quantization of an embedding: the 4x/8x shrink that
    makes a 100 TB vector corpus scan-affordable; dequantize with
    q*scale/127. Null for all-zero vectors (no scale)."""
    s = quant_scale(a)
    return F.when(
        s > 0,
        F.transform(
            a, lambda x: F.round(x.cast("double") / s * 127, 0).cast("long")
        ),
    )
