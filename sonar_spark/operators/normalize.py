"""Normalization + smoothing operators (SURVEY §2.4; reference
algorithms/common/normalization.go:33-455 — 7 methods — and
common/math.go:140-209 moving average / median filter).

All pure Catalyst expressions: per-group statistics via one aggregate
(map-side partial) broadcast-joined back, or window functions for the
smoothers. No Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

METHODS = (
    "zscore", "minmax", "energy", "peak", "rms", "quantile", "robust"
)


def normalize(
    df: DataFrame,
    value: str,
    method: str = "zscore",
    *,
    group: str | None = "doc_id",
    out_col: str | None = None,
) -> DataFrame:
    """Normalize ``value`` per group (or globally when group=None).

    Methods (normalization.go):
    - zscore  : (x - mean) / std            (:33-72)
    - minmax  : (x - min) / (max - min)     (:75-110)
    - energy  : x / sqrt(sum(x^2))          (:113-147)
    - peak    : x / max(|x|)                (:150-183)
    - rms     : x / sqrt(mean(x^2))         (:186-220)
    - quantile: rank / (n - 1) in [0,1]     (:223-262; rank-based)
    - robust  : (x - median) / IQR          (:265-305)

    Degenerate denominators (0) yield 0.0, matching the reference's
    guard clauses."""
    if method not in METHODS:
        raise ValueError(f"unknown method {method!r}; one of {METHODS}")
    out_col = out_col or f"{value}_norm"
    x = F.col(value).cast("double")
    keys = [group] if group else []

    if method == "quantile":
        w = (
            Window.partitionBy(*keys).orderBy(x, F.monotonically_increasing_id())
            if keys
            else Window.orderBy(x, F.monotonically_increasing_id())
        )
        cnt = (
            F.count("*").over(Window.partitionBy(*keys))
            if keys
            else F.count("*").over(Window.partitionBy())
        )
        r = F.row_number().over(w) - 1
        return df.withColumn(
            out_col,
            F.when(cnt > 1, r.cast("double") / (cnt - 1)).otherwise(F.lit(0.0)),
        )

    aggs = {
        "zscore": [F.avg(x).alias("__m"), F.stddev_pop(x).alias("__s")],
        "minmax": [F.min(x).alias("__lo"), F.max(x).alias("__hi")],
        "energy": [F.sum(x * x).alias("__e")],
        "peak": [F.max(F.abs(x)).alias("__p")],
        "rms": [F.avg(x * x).alias("__ms")],
        "robust": [
            F.percentile(x, 0.5).alias("__med"),
            (F.percentile(x, 0.75) - F.percentile(x, 0.25)).alias("__iqr"),
        ],
    }[method]
    if keys:
        stats = df.groupBy(*keys).agg(*aggs)
        j = df.join(F.broadcast(stats), keys)
    else:
        j = df.crossJoin(F.broadcast(df.select(aggs)))

    expr = {
        "zscore": F.when(F.col("__s") > 0, (x - F.col("__m")) / F.col("__s"))
        .otherwise(0.0),
        "minmax": F.when(
            F.col("__hi") > F.col("__lo"),
            (x - F.col("__lo")) / (F.col("__hi") - F.col("__lo")),
        ).otherwise(0.0),
        "energy": F.when(F.col("__e") > 0, x / F.sqrt(F.col("__e"))).otherwise(
            0.0
        ),
        "peak": F.when(F.col("__p") > 0, x / F.col("__p")).otherwise(0.0),
        "rms": F.when(F.col("__ms") > 0, x / F.sqrt(F.col("__ms"))).otherwise(
            0.0
        ),
        "robust": F.when(
            F.col("__iqr") > 0, (x - F.col("__med")) / F.col("__iqr")
        ).otherwise(0.0),
    }[method]
    drop = [c for c in ("__m", "__s", "__lo", "__hi", "__e", "__p", "__ms",
                        "__med", "__iqr") if c in j.columns]
    return j.withColumn(out_col, expr).drop(*drop)


# +-_K rows per user_id, ordered by ts_sec with event_id breaking ties
_K = 2
_ORDER = ["ts_sec", "event_id"]


def moving_average(df: DataFrame) -> DataFrame:
    """Centered moving average ``ma`` of ``value`` over a +-_K row
    window (math.go:140-168; shrinks at the edges like the reference)."""
    w = Window.partitionBy("user_id").orderBy(*_ORDER).rowsBetween(-_K, _K)
    return df.withColumn("ma", F.avg("value").over(w))


def median_filter(df: DataFrame) -> DataFrame:
    """Centered moving median ``med`` of ``value`` over +-_K rows
    (math.go:171-209)."""
    w = Window.partitionBy("user_id").orderBy(*_ORDER).rowsBetween(-_K, _K)
    return df.withColumn("med", F.percentile(F.col("value"), 0.5).over(w))
