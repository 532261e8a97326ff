"""LPC golden tests: the vectorized Levinson-Durbin kernel must match
a straight scalar port of the reference loop (speech/lpc.go:83-135),
including the IN-PLACE ascending-j coefficient update (a[j] -=
k_i * a[i-j] reads the already-updated a[i-j] for j > i/2)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from sonar_spark.operators.lpc import levinson_durbin_rows


def levinson_durbin_go(R: list[float], p: int):
    """Line-for-line scalar port of lpc.go levinsonDurbin (:83-135).
    Returns (a[1..p], k[1..p], gain, E) or None on the error paths."""
    if len(R) < p + 1:
        return None
    if R[0] == 0:
        return None
    a = [0.0] * (p + 1)
    k = [0.0] * p
    E = R[0]
    a[0] = 1.0
    for i in range(1, p + 1):
        numerator = R[i]
        for j in range(1, i):
            numerator -= a[j] * R[i - j]
        if E == 0:
            return None
        k[i - 1] = numerator / E
        a[i] = k[i - 1]
        for j in range(1, i):
            a[j] = a[j] - k[i - 1] * a[i - j]
        E *= 1 - k[i - 1] * k[i - 1]
        if E <= 0:
            break
    # Go math.Sqrt(negative) is NaN (E < 0 is rounding noise on a
    # mathematically nonnegative quantity; the kernel clamps to 0).
    gain = math.sqrt(E) if E >= 0 else float("nan")
    return a[1:], k, gain, E


def _lags(x: np.ndarray, p: int) -> np.ndarray:
    return np.array(
        [float(np.dot(x[: len(x) - m], x[m:])) for m in range(p + 1)]
    )


@pytest.mark.parametrize("order", [2, 4, 8, 12])
def test_kernel_matches_go_port(order):
    rng = np.random.default_rng(42 + order)
    rows = []
    for _ in range(50):
        n = int(rng.integers(2 * order, 120))
        x = rng.integers(1, 12, size=n).astype(np.float64)
        rows.append(_lags(x, order))
    R = np.vstack(rows)
    k, a, E, stable = levinson_durbin_rows(R, order)
    for r in range(R.shape[0]):
        ref = levinson_durbin_go(list(R[r]), order)
        assert ref is not None
        a_ref, k_ref, gain_ref, e_ref = ref
        # Bit-identical: both sides run the same double ops in the
        # same order.
        assert list(a[r]) == a_ref
        assert list(k[r]) == k_ref
        assert E[r] == e_ref
        assert np.sqrt(max(e_ref, 0.0)) == np.sqrt(max(E[r], 0.0))
        assert bool(stable[r]) == all(abs(c) < 1.0 for c in a_ref)


def test_in_place_update_order_matters():
    """A case with k3 != 0 where the textbook simultaneous update
    diverges from the reference's in-place order: the kernel must
    match the in-place result."""
    x = np.array([3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0])
    R = _lags(x, 4).reshape(1, -1)
    k, a, E, _ = levinson_durbin_rows(R, 4)
    ref = levinson_durbin_go(list(R[0]), 4)
    a_ref, k_ref, _, e_ref = ref
    assert abs(k_ref[2]) > 1e-9  # k3 nonzero: order-sensitive case
    # textbook simultaneous update for comparison
    r = R[0]
    k1 = r[1] / r[0]
    e1 = r[0] * (1 - k1 * k1)
    a1_1 = k1
    k2 = (r[2] - a1_1 * r[1]) / e1
    a2_1, a2_2 = a1_1 - k2 * a1_1, k2
    e2 = e1 * (1 - k2 * k2)
    k3 = (r[3] - a2_1 * r[2] - a2_2 * r[1]) / e2
    a3_1 = a2_1 - k3 * a2_2
    a3_2_textbook = a2_2 - k3 * a2_1
    a3_2_inplace = a2_2 - k3 * a3_1
    assert a3_2_textbook != a3_2_inplace
    assert list(a[0]) == a_ref
    assert list(k[0]) == k_ref
    assert E[0] == e_ref


def test_zero_energy_break_freezes_coeffs():
    """|k1| = 1 (perfectly correlated lag-1) drives E to 0 after the
    first iteration: remaining k/a stay 0, gain = 0 — the reference's
    break path (lpc.go:125-127)."""
    R = np.array([[4.0, 4.0, 4.0, 4.0, 4.0]])
    k, a, E, _ = levinson_durbin_rows(R, 4)
    assert k[0, 0] == 1.0
    assert E[0] == 0.0
    assert list(k[0, 1:]) == [0.0, 0.0, 0.0]
    assert list(a[0]) == [1.0, 0.0, 0.0, 0.0]


def test_lpc_dataframe_roundtrip(spark, monkeypatch):
    """End-to-end: the DataFrame operator reproduces the scalar port
    on a small synthetic token table, order 6."""
    from sonar_spark.operators import lpc as lpc_mod
    from sonar_spark.operators.lpc import lpc

    rng = np.random.default_rng(7)
    rows = []
    series = {}
    for d in range(12):
        n = int(rng.integers(12, 60))
        xs = rng.integers(1, 10, size=n).astype(np.float64)
        series[d] = xs
        rows += [(d, i, float(v)) for i, v in enumerate(xs)]
    df = spark.createDataFrame(rows, "doc_id long, pos long, v double")
    # an order above the queries' 4, so the recursion runs six steps
    monkeypatch.setattr(lpc_mod, "_ORDER", 6)
    out = {r["doc_id"]: r for r in lpc(df).collect()}
    assert set(out) == set(series)
    for d, xs in series.items():
        ref = levinson_durbin_go(list(_lags(xs, 6)), 6)
        a_ref, k_ref, gain_ref, e_ref = ref
        got = out[d]
        for i in range(1, 7):
            assert got[f"a{i}"] == a_ref[i - 1]
            assert got[f"k{i}"] == k_ref[i - 1]
        assert got["gain"] == math.sqrt(max(e_ref, 0.0))
        assert got["resid_e"] == e_ref
