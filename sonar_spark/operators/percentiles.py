"""Distributed reproduction of the reference's 8 percentile methods
(stats/percentiles.go:198-404) as order-statistic lookups — no
per-group arrays: one sort shuffle (row_number window) + one
aggregation; the fractional rank h is computed from the group size
and the needed order statistics are picked with max(when(rn == k)).

The reference's own labels deviate from the textbook Hyndman-Fan
numbers — see tests/golden._PCT_H; the arithmetic here matches the Go
code exactly, including its "linear" (claimed R-6, actually R-7
h=(n-1)q+1), "median_unbiased" h=(n+1)/3+(n-1)q/3 and
"normal_unbiased" h=n/4+0.25+q(n+0.5) forms.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PERCENTILE_METHODS = (
    "linear", "lower", "higher", "midpoint", "weighted", "r_default",
    "median_unbiased", "normal_unbiased",
)

__all__ = [
    "PERCENTILE_METHODS",
    "percentile_methods",
    "quantile_histogram",
]


_HIST_QS = {"q1": 0.25, "q3": 0.75, "q95": 0.95}


def quantile_histogram(df: DataFrame) -> DataFrame:
    """Exact interpolated quantiles via a value histogram — the
    100-TB-scale replacement for ``F.percentile`` on low-cardinality
    groups (SURVEY §2.5 percentiles/quartiles/IQR).

    ``F.percentile`` buffers every (value, count) pair of a group in
    one aggregation buffer on one reducer; with a handful of giant
    groups that is a single-executor memory wall.  Here the heavy
    reduction is the caller's ``groupBy(l_returnflag, __v).count()``
    — fully parallel with map-side combine — and only the
    distinct-value histogram (bounded by value cardinality, not row
    count) flows into the per-group cumulative-rank window: ``df`` is
    one row per (l_returnflag, __v) with its count ``__c``.

    Returns one row per group: ``l_returnflag, __n`` (total row count)
    and one column per key of ``_HIST_QS``.  Interpolation reproduces
    Spark's ``Percentile`` arithmetic exactly ((hi-pos)*lo +
    (pos-lo)*hi at 0-based pos=(n-1)q, lower value when pos is
    integral) so results are bit-identical to the ``F.percentile``
    aggregate it replaces.
    """
    h = df.select(
        "l_returnflag",
        F.col("__v").cast("double").alias("__v"),
        F.col("__c").cast("long").alias("__c"),
    )
    # NOTE (r6): a bucketed two-pass cumsum (the relational
    # zipWithIndex machinery, per group) was prototyped here to
    # parallelize the per-group window beyond |groups| partitions; it
    # measured FLAT at sf1.0 (~5.5 s either way — the window sort is
    # not this query's bottleneck) and ~3x WORSE at sf0.1 (five extra
    # tiny stages dominate), so the single window stands.
    wo = Window.partitionBy("l_returnflag").orderBy("__v")
    wp = Window.partitionBy("l_returnflag")
    cum = h.withColumn("__cum", F.sum("__c").over(wo)).withColumn(
        "__n", F.sum("__c").over(wp)
    )
    v, c, cm, n = (F.col(x) for x in ("__v", "__c", "__cum", "__n"))

    def _stat(q: float) -> Column:
        pos = (n - 1).cast("double") * q  # 0-based fractional rank
        lo, hi = F.floor(pos), F.ceil(pos)
        # 1-based rank r lives in the histogram row with
        # cum-c < r <= cum
        lo_v = F.max(F.when((lo + 1 > cm - c) & (lo + 1 <= cm), v))
        hi_v = F.max(F.when((hi + 1 > cm - c) & (hi + 1 <= cm), v))
        # pos/lo/hi are group constants; F.max lifts them into the
        # aggregate so the interpolation is pure aggregate arithmetic
        pos_a = F.max(pos)
        lo_a, hi_a = F.max(lo).cast("double"), F.max(hi).cast("double")
        interp = (hi_a - pos_a) * lo_v + (pos_a - lo_a) * hi_v
        return F.when(F.max(lo) == F.max(hi), lo_v).otherwise(interp)

    aggs = [F.max("__n").alias("__n")]
    for name, q in _HIST_QS.items():
        aggs.append(_stat(q).alias(name))
    return cum.groupBy("l_returnflag").agg(*aggs)


def _h_expr(method: str, n: Column, q: float) -> Column:
    if method in ("linear", "r_default"):
        return (n - 1) * q + 1.0
    if method in ("lower", "higher", "midpoint", "weighted"):
        return n * q
    if method == "median_unbiased":
        return (n + 1) / 3.0 + (n - 1) / 3.0 * q
    if method == "normal_unbiased":
        return n / 4.0 + 0.25 + q * (n + 0.5)
    raise ValueError(method)


def _value_at(rn: Column, v: Column, k: Column) -> Column:
    """Order statistic v@k (1-based) inside an aggregation."""
    return F.max(F.when(rn == k, v))


def _method_value(method: str, rn, v, n, q: float) -> Column:
    # boundary order statistics: data[0] == min, data[n-1] == max
    h = _h_expr(method, n, q)
    fl = F.floor(h)
    first, last = F.min(v), F.max(v)
    if method == "lower":  # percentiles.go:258-273
        k = F.least(F.ceil(h), n.cast("long"))
        return F.when(F.max(h) <= 1.0, first).otherwise(_value_at(rn, v, k))
    if method == "higher":  # percentiles.go:275-290
        k = F.least(fl + 1, n.cast("long"))
        return F.when(F.max(h) < 1.0, first).otherwise(_value_at(rn, v, k))
    lo = _value_at(rn, v, fl)
    hi = _value_at(rn, v, F.ceil(h))
    if method == "midpoint":  # percentiles.go:292-311
        mid = (lo + hi) / 2.0
        return (
            F.when(F.max(h) <= 1.0, first)
            .when(F.max(h) >= F.max(n), last)
            .otherwise(mid)
        )
    # linear / weighted / r_default / median_unbiased / normal_unbiased:
    # data[lo] + frac * (data[hi] - data[lo])
    frac = F.max(h - fl)
    interp = lo + frac * (hi - lo)
    return (
        F.when(F.max(h) <= 1.0, first)
        .when(F.max(h) >= F.max(n), last)
        .otherwise(interp)
    )


# the quantiles percentile_methods reports
_QS = (0.5, 0.9)


def percentile_methods(df: DataFrame) -> DataFrame:
    """(group, method, q, value) for every PERCENTILE_METHODS method x
    _QS quantile.

    Physical plan (r6): value HISTOGRAM instead of a full sort — the
    former plan ranked every row with row_number() over the group
    (at 3 groups that is a 3-partition sort of the whole table, i.e.
    near-serial on a wide cluster); now the heavy reduction is the
    map-side-combined groupBy(group, value).count() and only the
    distinct-value histogram (bounded by value cardinality) flows
    into the per-group cumulative window.  Every order statistic
    v@k becomes a histogram-range lookup: the rows with rank k are
    exactly the histogram row with cum-c < k <= cum, so
    max(when(rn == k)) == max(when(cum-c < k AND k <= cum)) — the
    quantile_histogram correspondence; all h/interpolation
    arithmetic is unchanged.  Certified against the numpy sort golden
    (tests/test_stats_ops.py::test_percentile_methods_spark_matches_
    kernel) including the heavy-ties case where the range lookup
    differs structurally from rn ==."""
    wo = Window.partitionBy("l_returnflag").orderBy("__v")
    wp = Window.partitionBy("l_returnflag")
    h = df.groupBy(
        "l_returnflag", F.col("l_quantity").cast("double").alias("__v")
    ).agg(F.count("*").cast("long").alias("__c"))
    d = h.withColumn("__cum", F.sum("__c").over(wo)).withColumn(
        "__n", F.sum("__c").over(wp).cast("double")
    )
    v, n = F.col("__v"), F.col("__n")
    cm, c = F.col("__cum"), F.col("__c")

    class _HistRank:
        """Stands in for the row_number column inside
        _value_at-style lookups: rn == k  <=>  cum-c < k <= cum.
        ONLY equality is meaningful over the histogram; any other
        rank arithmetic raises instead of silently building a wrong
        expression (and _value_at must keep the rn == k operand
        order — Column.__eq__ would win a reflected compare)."""

        def __eq__(self, k):  # noqa: D105
            return (cm - c < k) & (k <= cm)

        def _no(self, *_):
            raise TypeError(
                "histogram rank supports only `rn == k` lookups"
            )

        __lt__ = __le__ = __gt__ = __ge__ = _no
        __add__ = __radd__ = __sub__ = __rsub__ = _no

    rn = _HistRank()
    aggs = []
    for m in PERCENTILE_METHODS:
        for q in _QS:
            aggs.append(
                _method_value(m, rn, v, n, q).alias(f"__{m}__{q}")
            )
    wide = d.groupBy("l_returnflag").agg(*aggs)
    stack_args = []
    for m in PERCENTILE_METHODS:
        for q in _QS:
            stack_args.append(f"'{m}', {q}D, `__{m}__{q}`")
    expr = (
        f"stack({len(PERCENTILE_METHODS) * len(_QS)}, "
        + ", ".join(stack_args)
        + ") as (method, q, value)"
    )
    return wide.select("l_returnflag", F.expr(expr))
