"""Fractional-index interpolation family
(algorithms/common/interpolation.go) as pure Catalyst expressions —
linear (:46-66), Catmull-Rom cubic (:69-104), Hermite (:107-149),
Lanczos a=3 (:152-192), plus ResampleSignal (:195-215),
UpsampleSignal (:218-245, the as-written zero-stuff semantics) and
DownsampleSignal decimation (:248-265).

Every method is a closed form over at most 6 neighbours, so the whole
family stays JVM-side (no UDFs): per-point interpolation is a CASE
tree over element_at, and signal-level resampling is a transform()
over a generated index sequence.  Boundary behaviour is reproduced
branch-for-branch, including the Go's truncating int() index, the
cubic/hermite <4-point fallback to linear, the Lanczos <6-point
fallback to cubic, and upsample's trailing block staying zero when
the next anchor falls outside the buffer.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def _at(data: Column, i0) -> Column:
    """0-based element access over a 1-based array column."""
    if isinstance(i0, int):
        return F.element_at(data, i0 + 1)
    return F.element_at(data, (i0 + 1).cast("int"))


def _linear(data: Column, idx: Column, n: Column) -> Column:
    i = F.floor(idx)  # idx > 0 in this branch -> trunc == floor
    frac = idx - i
    return (
        F.when(n == 0, F.lit(0.0))
        .when(idx <= 0, _at(data, F.lit(0)))
        .when(idx >= (n - 1).cast("double"), F.element_at(data, n))
        .when(i >= n - 1, F.element_at(data, n))
        .otherwise(_at(data, i) + frac * (_at(data, i + 1) - _at(data, i)))
    )


def _clamped_i(idx: Column, n: Column) -> Column:
    i = F.floor(idx)
    i = F.when(i < 1, F.lit(1).cast("bigint")).otherwise(i)
    return F.when(i >= n - 2, (n - 3).cast("bigint")).otherwise(i)


def _cubic(data: Column, idx: Column, n: Column) -> Column:
    i = _clamped_i(idx, n)
    frac = idx - F.floor(idx)
    y0, y1, y2, y3 = (_at(data, i - 1), _at(data, i),
                      _at(data, i + 1), _at(data, i + 2))
    a0 = -0.5 * y0 + 1.5 * y1 - 1.5 * y2 + 0.5 * y3
    a1 = y0 - 2.5 * y1 + 2 * y2 - 0.5 * y3
    a2 = -0.5 * y0 + 0.5 * y2
    a3 = y1
    val = a0 * frac * frac * frac + a1 * frac * frac + a2 * frac + a3
    return (
        F.when(n < 4, _linear(data, idx, n))
        .when(
            idx <= 1,
            _at(data, F.floor(F.greatest(idx, F.lit(0.0)))),
        )
        .when(idx >= (n - 2).cast("double"), F.element_at(data, n))
        .otherwise(val)
    )


def _hermite(data: Column, idx: Column, n: Column) -> Column:
    i = _clamped_i(idx, n)
    t = idx - F.floor(idx)
    y0, y1, y2, y3 = (_at(data, i - 1), _at(data, i),
                      _at(data, i + 1), _at(data, i + 2))
    m0 = 0.5 * (y2 - y0)
    m1 = 0.5 * (y3 - y1)
    t2 = t * t
    t3 = t2 * t
    h00 = 2 * t3 - 3 * t2 + 1
    h10 = t3 - 2 * t2 + t
    h01 = -2 * t3 + 3 * t2
    h11 = t3 - t2
    val = h00 * y1 + h10 * m0 + h01 * y2 + h11 * m1
    return (
        F.when(n < 4, _linear(data, idx, n))
        .when(
            idx <= 1,
            _at(data, F.floor(F.greatest(idx, F.lit(0.0)))),
        )
        .when(idx >= (n - 2).cast("double"), F.element_at(data, n))
        .otherwise(val)
    )


def _lanczos(data: Column, idx: Column, n: Column) -> Column:
    a = 3
    i = F.floor(idx)
    terms = None
    for off in range(-a + 1, a + 1):  # j = i-2 .. i+3, ascending
        j = i + off
        x = idx - j.cast("double")
        px = math.pi * x
        w = (
            F.when(F.abs(x) < 1e-10, F.lit(1.0))
            .when(F.abs(x) >= float(a), F.lit(0.0))
            .otherwise(
                (a * F.sin(px) * F.sin(px / a)) / (px * px)
            )
        )
        t = _at(data, j) * w
        terms = t if terms is None else terms + t
    return (
        F.when(n < 6, _cubic(data, idx, n))
        .when(i < a, _at(data, F.lit(0)))
        .when(i >= n - a, F.element_at(data, n))
        .otherwise(terms)
    )


_METHODS = {
    "linear": _linear,
    "cubic": _cubic,
    "hermite": _hermite,
    "lanczos": _lanczos,
}


def interpolate_at(
    data: Column, index: Column, method: str = "linear"
) -> Column:
    """Interpolator.Interpolate at a fractional index
    (interpolation.go:30-43 dispatch)."""
    data = F.transform(data, lambda x: x.cast("double"))
    return _METHODS[method](data, index.cast("double"), F.size(data))


_ORIGINAL_RATE = 4
_TARGET_RATE = 3


def resample_signal(data: Column) -> Column:
    """ResampleSignal (:195-215): new length = int(len/ratio), output
    i interpolated at source index i*ratio.  Returns an array
    column."""
    ratio = _ORIGINAL_RATE / _TARGET_RATE
    d = F.transform(data, lambda x: x.cast("double"))
    n = F.size(d)
    nl = F.floor(n.cast("double") / ratio).cast("int")
    return F.when(nl <= 0, F.array().cast("array<double>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), nl - 1),
            lambda i: _linear(d, i.cast("double") * ratio, n),
        )
    )


_FACTOR = 2


def upsample_signal(data: Column) -> Column:
    """UpsampleSignal (:218-245) as written: zero-stuff then linear
    fill between anchors; positions whose NEXT anchor falls outside
    the buffer stay zero (the trailing block), and a genuine 0.0
    anchor survives because its fill interpolates from itself with
    frac 0."""
    d = F.transform(data, lambda x: x.cast("double"))
    n = F.size(d)
    total = n * _FACTOR

    def val(i):
        anchor = _at(d, F.floor(i / _FACTOR))
        prev = F.floor(i / _FACTOR) * _FACTOR
        nxt = prev + _FACTOR
        frac = (i - prev).cast("double") / float(_FACTOR)
        nxt_anchor = _at(d, F.floor(nxt / _FACTOR))
        fill = anchor + frac * (nxt_anchor - anchor)
        return (
            F.when(i % _FACTOR == 0, anchor)
            .when(nxt < total, fill)
            .otherwise(F.lit(0.0))
        )

    return F.transform(F.sequence(F.lit(0), total - 1), val)


def downsample_signal(data: Column) -> Column:
    """DownsampleSignal (:248-265): plain stride-_FACTOR decimation
    (the Go notes the missing anti-alias filter itself)."""
    d = F.transform(data, lambda x: x.cast("double"))
    n = F.size(d)
    nl = F.floor(n / _FACTOR).cast("int")
    return F.when(nl <= 0, F.array().cast("array<double>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), nl - 1), lambda i: _at(d, i * _FACTOR)
        )
    )
