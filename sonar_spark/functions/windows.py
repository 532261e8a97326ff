"""Window coefficient functions — reproducing the reference's
WindowGenerator exactly (fingerprint/analyzers/windowing.go:205-372):
Hann, Hamming, Blackman, Blackman-Harris, Kaiser (+ series Bessel
I0), Tukey, Rectangular, Bartlett, Welch.  The property bundle
(energy / power gain / noise gain / ENBW / scallop loss, :395-425) is
computed in Catalyst by q_window_props.

Two implementations:
- numpy (window_coefficients) — feeds the Arrow kernel's per-window
  weighting slot (Window.Apply, elementwise multiply before stats);
- Catalyst expressions (window_coefficients_expr) — the same formulas
  as pure JVM array expressions, so window-weighted queries stay
  whole-stage-codegen and DuckDB-oracle-checkable (coefficients are
  plan-time constants of window type + size).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

WINDOW_TYPES = (
    "hann", "hamming", "blackman", "blackman_harris", "kaiser",
    "tukey", "rectangular", "bartlett", "welch",
)
# the reference's window parameters (windowing.go:205-372); every
# window is symmetric (cosine denominators N-1)
KAISER_BETA = 8.0
TUKEY_ALPHA = 0.5


def bessel_i0(x: float) -> float:
    """Zero-order modified Bessel I0 by series expansion with the
    reference's 1e-12 early-exit (windowing.go:374-392)."""
    total = 1.0
    term = 1.0
    for k in range(1, 50):
        term *= (x / (2.0 * k)) * (x / (2.0 * k))
        total += term
        if term < 1e-12:
            break
    return total


def window_coefficients(wtype: str, size: int) -> np.ndarray:
    """Symmetric window coefficients (windowing.go:205-372)."""
    n = np.arange(size, dtype=np.float64)
    N = float(size)
    den = float(size - 1)
    if wtype == "hann":
        return 0.5 * (1.0 - np.cos(2 * np.pi * n / den))
    if wtype == "hamming":
        return 0.54 - 0.46 * np.cos(2 * np.pi * n / den)
    if wtype == "blackman":
        arg = 2 * np.pi * n / den
        return 0.42 - 0.5 * np.cos(arg) + 0.08 * np.cos(2 * arg)
    if wtype == "blackman_harris":
        arg = 2 * np.pi * n / den
        return (
            0.35875
            - 0.48829 * np.cos(arg)
            + 0.14128 * np.cos(2 * arg)
            - 0.01168 * np.cos(3 * arg)
        )
    if wtype == "kaiser":
        i0b = bessel_i0(KAISER_BETA)
        arg = 2.0 * n / den - 1.0
        return np.array(
            [
                bessel_i0(KAISER_BETA * np.sqrt(max(1 - a * a, 0.0))) / i0b
                for a in arg
            ]
        )
    if wtype == "tukey":
        taper = int(TUKEY_ALPHA * N / 2.0)
        c = np.ones(size)
        for i in range(size):
            if i < taper:
                c[i] = 0.5 * (1 + np.cos(np.pi * i / taper - np.pi))
            elif i >= size - taper:
                c[i] = 0.5 * (1 + np.cos(np.pi * (i - (size - taper)) / taper))
        return c
    if wtype == "rectangular":
        return np.ones(size)
    if wtype == "bartlett":
        # the reference's asymmetric N/2 split (windowing.go:349-360)
        return np.where(
            n <= size // 2, 2.0 * n / (size - 1), 2.0 - 2.0 * n / (size - 1)
        )
    if wtype == "welch":
        a = (n - (size - 1) / 2.0) / ((size - 1) / 2.0)
        return 1.0 - a * a
    raise ValueError(f"unsupported window type: {wtype}")


# ------------------------------------------------------- Catalyst exprs


def bessel_i0_expr(x: Column) -> Column:
    """Series I0 as a pure expression: 50 fixed terms via aggregate
    over a struct (sum, running term) accumulator. No early exit, so
    it can differ from bessel_i0 by < 1e-12 relative — inside every
    oracle rounding tolerance."""
    acc = F.aggregate(
        F.sequence(F.lit(1), F.lit(49)),
        F.struct(F.lit(1.0).alias("s"), F.lit(1.0).alias("t")),
        lambda a, k: F.struct(
            (
                a["s"]
                + a["t"] * F.pow(x / (2.0 * k.cast("double")), F.lit(2.0))
            ).alias("s"),
            (a["t"] * F.pow(x / (2.0 * k.cast("double")), F.lit(2.0))).alias(
                "t"
            ),
        ),
    )
    return acc["s"]


_SIZE = 32


def window_coefficients_expr(wtype: str) -> Column:
    """array<double> of window coefficients as JVM expressions over
    F.sequence(0, size-1) — same formulas as window_coefficients."""
    N = float(_SIZE)
    den = F.lit(float(_SIZE - 1))
    idx = F.sequence(F.lit(0), F.lit(_SIZE - 1))
    pi = float(np.pi)

    def tf(fn):
        return F.transform(idx, lambda i: fn(i.cast("double")))

    if wtype == "hann":
        return tf(lambda i: 0.5 * (1.0 - F.cos(2 * pi * i / den)))
    if wtype == "hamming":
        return tf(lambda i: 0.54 - 0.46 * F.cos(2 * pi * i / den))
    if wtype == "blackman":
        return tf(
            lambda i: 0.42
            - 0.5 * F.cos(2 * pi * i / den)
            + 0.08 * F.cos(2 * (2 * pi * i / den))
        )
    if wtype == "blackman_harris":
        return tf(
            lambda i: 0.35875
            - 0.48829 * F.cos(2 * pi * i / den)
            + 0.14128 * F.cos(2 * (2 * pi * i / den))
            - 0.01168 * F.cos(3 * (2 * pi * i / den))
        )
    if wtype == "kaiser":
        i0b = bessel_i0_expr(F.lit(KAISER_BETA))
        return tf(
            lambda i: bessel_i0_expr(
                F.lit(KAISER_BETA)
                * F.sqrt(
                    F.greatest(
                        F.lit(1.0) - F.pow(2.0 * i / den - 1.0, F.lit(2.0)),
                        F.lit(0.0),
                    )
                )
            )
            / i0b
        )
    if wtype == "tukey":
        taper = int(TUKEY_ALPHA * N / 2.0)
        return tf(
            lambda i: F.when(
                i < float(taper), 0.5 * (1.0 + F.cos(pi * i / taper - pi))
            )
            .when(
                i >= N - taper,
                0.5 * (1.0 + F.cos(pi * (i - (N - taper)) / taper)),
            )
            .otherwise(F.lit(1.0))
        )
    if wtype == "rectangular":
        return tf(lambda i: F.lit(1.0) + 0.0 * i)
    if wtype == "bartlett":
        half = float(_SIZE // 2)
        return tf(
            lambda i: F.when(i <= half, 2.0 * i / (N - 1.0)).otherwise(
                2.0 - 2.0 * i / (N - 1.0)
            )
        )
    if wtype == "welch":
        return tf(
            lambda i: 1.0
            - F.pow((i - (N - 1.0) / 2.0) / ((N - 1.0) / 2.0), F.lit(2.0))
        )
    raise ValueError(f"unsupported window type: {wtype}")
