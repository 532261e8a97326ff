"""Linear predictive coding via Levinson-Durbin (speech/lpc.go:83-135).

Two-stage plan, designed so the expensive part is relational and the
recursion is a tiny vectorized kernel:

- autocorrelation lags R[0..p] = sum x[i] x[i+m] from ONE positional
  self-join with conditional aggregation (raw biased sums, positive
  semidefinite, so the prediction-error energy stays nonnegative and
  every reflection coefficient satisfies |k| <= 1);
- the Levinson-Durbin recursion itself runs in a mapInArrow kernel —
  a straight vectorized port of the Go loop (lpc.go:96-130),
  including its IN-PLACE coefficient update order: for j = 1..i-1
  ascending, a[j] -= k_i * a[i-j], so for j > i/2 the update reads
  the ALREADY-UPDATED a[i-j] (e.g. at i=3, j=2 reads the new a[1]).
  A textbook simultaneous update diverges from the reference whenever
  k3 != 0; this kernel reproduces the as-written order.  Each row is
  independent (p+1 doubles in, ~2p+3 out), so the kernel is
  partition-stable and batch-order-free.

Earlier rounds unrolled the order-4 recursion as nested CASE column
expressions; Catalyst's CollapseProject re-inlined every intermediate,
producing a 2.7 MiB task binary and a 15 s fixed codegen cost.  The
kernel form is O(rows * p^2) numpy work with a constant-size plan,
and lifts the fixed-order limitation toward the reference's
configurable order (lpc.go:30-41).

Zero-energy semantics (lpc.go:104-127): R[0] == 0 keys are excluded
up front (the reference errors); if E hits 0 mid-recursion the loop
breaks, freezing the coefficients computed so far and leaving the
remaining k_i / a_i at 0 with gain = sqrt(E) = 0.  One documented
deviation: when rounding pushes E to a tiny negative (mathematically
E >= 0 for these positive-semidefinite lag sums), Go's sqrt yields
NaN; gain here clamps to sqrt(max(E, 0)) and resid_e keeps the raw E.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def levinson_durbin_rows(R: np.ndarray, order: int):
    """Vectorized Levinson-Durbin over a (rows, order+1) lag matrix —
    the exact operation order of lpc.go:96-130 per row.

    Returns (k, a, E, stable): k is (rows, order) reflection
    coefficients, a is (rows, order) final LPC coefficients a1..ap
    (a0 == 1 implicit), E the final prediction-error energy,
    stable the |a_i| < 1 check of lpc.go:150-166."""
    rows = R.shape[0]
    p = order
    a = np.zeros((rows, p + 1), dtype=np.float64)
    a[:, 0] = 1.0
    k = np.zeros((rows, p), dtype=np.float64)
    E = R[:, 0].copy()
    for i in range(1, p + 1):
        num = R[:, i].copy()
        for j in range(1, i):
            num -= a[:, j] * R[:, i - j]
        active = E > 0
        ki = np.zeros(rows, dtype=np.float64)
        np.divide(num, E, out=ki, where=active)
        k[:, i - 1] = ki
        a[:, i] = ki
        # In-place ascending-j update exactly as lpc.go:118-121: the
        # j-th assignment completes before j+1 reads a[i-j].
        for j in range(1, i):
            a[:, j] = a[:, j] - ki * a[:, i - j]
        E = np.where(active, E * (1.0 - ki * ki), E)
    stable = (np.abs(a[:, 1:]) < 1.0).all(axis=1)
    return k, a[:, 1:], E, stable


def autocorr_lags(vals: DataFrame, *, order: int = 4) -> DataFrame:
    """Per-key raw autocorrelation sums r0..r{order} plus sample count
    __n, from one positional self-join with conditional aggregation."""
    a = vals.select("doc_id", F.col("pos").alias("__pa"), F.col("v").alias("__va"))
    b = vals.select(
        F.col("doc_id").alias("__kb"),
        F.col("pos").alias("__pb"),
        F.col("v").alias("__vb"),
    )
    j = a.join(
        b,
        (F.col("__kb") == F.col("doc_id"))
        & (F.col("__pb") >= F.col("__pa"))
        & (F.col("__pb") <= F.col("__pa") + order),
    )
    lagm = F.col("__pb") - F.col("__pa")
    return j.groupBy("doc_id").agg(
        F.count(F.when(lagm == 0, 1)).alias("__n"),
        *[
            F.sum(
                F.when(lagm == m, F.col("__va") * F.col("__vb")).otherwise(
                    F.lit(0.0)
                )
            ).alias(f"r{m}")
            for m in range(order + 1)
        ],
    )


_ORDER = 4


def lpc(vals: DataFrame) -> DataFrame:
    """Order-p LPC per key: r0, k1..kp, a1..ap (final coefficients),
    gain = sqrt(E_p), resid_e = E_p, stable.  Keys with fewer than
    2*order samples (lpc.go:45-47) or zero energy (lpc.go:92-94) are
    excluded, as in the reference's error paths."""
    rs = autocorr_lags(vals, order=_ORDER)
    d = rs.where((F.col("__n") >= 2 * _ORDER) & (F.col("r0") > 0))

    lag_cols = [f"r{m}" for m in range(_ORDER + 1)]
    inp = d.select("doc_id", *lag_cols)
    out_fields = (
        "doc_id long, r0 double, "
        + ", ".join(f"k{i} double" for i in range(1, _ORDER + 1))
        + ", "
        + ", ".join(f"a{i} double" for i in range(1, _ORDER + 1))
        + ", gain double, resid_e double, stable boolean"
    )

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa

        for batch in batches:
            keys = batch.column(0)
            R = np.column_stack(
                [
                    np.asarray(batch.column(m + 1), dtype=np.float64)
                    for m in range(_ORDER + 1)
                ]
            )
            k, acoef, E, stable = levinson_durbin_rows(R, _ORDER)
            cols = [keys, pa.array(R[:, 0])]
            for i in range(_ORDER):
                cols.append(pa.array(k[:, i]))
            for i in range(_ORDER):
                cols.append(pa.array(acoef[:, i]))
            cols.append(pa.array(np.sqrt(np.maximum(E, 0.0))))
            cols.append(pa.array(E))
            cols.append(pa.array(stable))
            yield pa.RecordBatch.from_arrays(
                cols,
                names=["doc_id", "r0"]
                + [f"k{i}" for i in range(1, _ORDER + 1)]
                + [f"a{i}" for i in range(1, _ORDER + 1)]
                + ["gain", "resid_e", "stable"],
            )

    return inp.mapInArrow(run, schema=out_fields)


def lpc4(vals: DataFrame) -> DataFrame:
    """Order-4 LPC (column subset kept for the established surface)."""
    return lpc(vals).select(
        "doc_id",
        "r0",
        "k1",
        "k2",
        "k3",
        "k4",
        "a1",
        "a2",
        "a3",
        "a4",
        "gain",
        "resid_e",
        "stable",
    )


def lpc_envelope(coeffs: DataFrame, *, nfft: int = 16, order: int = 4) -> DataFrame:
    """LPC spectral envelope |H(e^{j w})| = 1 / |A(e^{j w})| with
    A = 1 + sum_i a_i e^{-j i w} evaluated at the nfft/2+1 DFT
    frequencies (GetSpectralEnvelope, lpc.go:232-265 — the reference's
    PLUS-sign convention reproduced as written). Pure trig
    expressions over the lpc coefficient columns."""
    import math

    d = coeffs.withColumn(
        "k_idx", F.explode(F.sequence(F.lit(0), F.lit(nfft // 2)))
    )
    omega = 2.0 * math.pi * F.col("k_idx").cast("double") / float(nfft)
    re = F.lit(1.0)
    im = F.lit(0.0)
    for i in range(1, order + 1):
        ang = F.lit(float(-i)) * omega
        re = re + F.col(f"a{i}") * F.cos(ang)
        im = im + F.col(f"a{i}") * F.sin(ang)
    mag = F.sqrt(re * re + im * im)
    env = F.when(mag > 0, 1.0 / mag).otherwise(F.lit(0.0))
    return d.select("doc_id", F.col("k_idx"), env.alias("envelope"))
