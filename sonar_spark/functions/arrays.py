"""Array/vector column expressions (SURVEY §2.7 distance family).

All JVM-side higher-order functions — no Python. These are the exact
formulas of reference algorithms/stats/distance.go, expressed over
array<double>/array<float> columns.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def asum(col: Column) -> Column:
    """Sum of array elements (double)."""
    return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product (distance.go:48-70 numerator)."""
    return asum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm2(a: Column) -> Column:
    return F.sqrt(asum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def cosine_similarity(a: Column, b: Column) -> Column:
    """a.b / (|a||b|), 0 when either norm is 0 (distance.go:48-70)."""
    d = norm2(a) * norm2(b)
    return F.when(d > 0, dot(a, b) / d).otherwise(F.lit(0.0))


def euclidean(a: Column, b: Column) -> Column:
    """L2 distance (distance.go:29-37)."""
    return F.sqrt(
        asum(F.zip_with(a, b, lambda x, y: F.pow(x.cast("double") - y.cast("double"), 2)))
    )


def pearson_distance(a: Column, b: Column) -> Column:
    """1 - |r| (distance.go:73-108; note the reference takes the
    ABSOLUTE correlation); 1.0 on zero variance."""
    n = F.size(a).cast("double")
    da = F.transform(a, lambda x: x.cast("double") - asum(a) / n)
    db = F.transform(b, lambda x: x.cast("double") - asum(b) / n)
    num = asum(F.zip_with(da, db, lambda x, y: x * y))
    ssa = asum(F.transform(da, lambda x: x * x))
    ssb = asum(F.transform(db, lambda x: x * x))
    return F.when((ssa == 0) | (ssb == 0), F.lit(1.0)).otherwise(
        1.0 - F.abs(num / F.sqrt(ssa * ssb))
    )


def manhattan(a: Column, b: Column) -> Column:
    """L1 distance (distance.go:156-166)."""
    return asum(F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))))


def chebyshev(a: Column, b: Column) -> Column:
    """L-inf distance (distance.go:169-184)."""
    return F.array_max(
        F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double")))
    )


_P = 3.0


def minkowski(a: Column, b: Column) -> Column:
    """Lp norm distance (distance.go:39-45)."""
    return F.pow(
        asum(
            F.zip_with(
                a, b, lambda x, y: F.pow(F.abs(x.cast("double") - y.cast("double")), _P)
            )
        ),
        1.0 / _P,
    )


def canberra(a: Column, b: Column) -> Column:
    """Canberra distance (distance.go:219-230): sum |x-y|/(|x|+|y|),
    0-denominator terms contribute 0."""
    return asum(
        F.zip_with(
            a,
            b,
            lambda x, y: F.when(
                (F.abs(x) + F.abs(y)) > 0,
                F.abs(x.cast("double") - y.cast("double"))
                / (F.abs(x.cast("double")) + F.abs(y.cast("double"))),
            ).otherwise(F.lit(0.0)),
        )
    )


def bray_curtis(a: Column, b: Column) -> Column:
    """Bray-Curtis dissimilarity (distance.go:233-245)."""
    num = asum(F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") - y.cast("double"))))
    den = asum(F.zip_with(a, b, lambda x, y: F.abs(x.cast("double") + y.cast("double"))))
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def to_distribution(a: Column) -> Column:
    """|x| renormalized to sum 1 (the renormalization of
    distance.go:342-369 before divergence computation)."""
    s = asum(F.transform(a, lambda x: F.abs(x.cast("double"))))
    return F.transform(
        a, lambda x: F.abs(x.cast("double")) / F.when(s > 0, s).otherwise(F.lit(1.0))
    )


def kl_divergence(p: Column, q: Column, eps: float = 1e-10) -> Column:
    """KL(p||q) over distributions (distance.go:248-263)."""
    return asum(
        F.zip_with(
            p,
            q,
            lambda x, y: F.when(
                x > 0, x * F.log(x / (y + F.lit(eps)))
            ).otherwise(F.lit(0.0)),
        )
    )


def js_divergence(p: Column, q: Column) -> Column:
    """Jensen-Shannon divergence (distance.go:266-283):
    0.5 KL(p||m) + 0.5 KL(q||m), m = (p+q)/2."""
    eps = 1e-10
    m = F.zip_with(p, q, lambda x, y: (x + y) / 2.0)
    return 0.5 * kl_divergence(p, m, eps) + 0.5 * kl_divergence(q, m, eps)


def hellinger(p: Column, q: Column) -> Column:
    """Hellinger distance (distance.go:286-297):
    sqrt(0.5 * sum (sqrt(p)-sqrt(q))^2)."""
    return F.sqrt(
        0.5
        * asum(
            F.zip_with(p, q, lambda x, y: F.pow(F.sqrt(x) - F.sqrt(y), 2))
        )
    )


def bhattacharyya(p: Column, q: Column) -> Column:
    """Bhattacharyya distance (distance.go:300-311):
    -ln(sum sqrt(p*q))."""
    eps = 1e-10
    return -F.log(
        asum(F.zip_with(p, q, lambda x, y: F.sqrt(x * y))) + F.lit(eps)
    )


def emd_1d(p: Column, q: Column) -> Column:
    """1-D earth mover's distance (distance.go:314-339):
    sum |CDF_p - CDF_q|. Cumulative sums via slice+aggregate —
    O(n^2) element ops but JVM-side and n is the (small) vector dim."""
    idx = F.sequence(F.lit(1), F.size(p))
    cdf_diff = F.transform(
        idx,
        lambda i: asum(F.slice(p, 1, i)) - asum(F.slice(q, 1, i)),
    )
    return asum(F.transform(cdf_diff, F.abs))
