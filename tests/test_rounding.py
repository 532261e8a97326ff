"""kernels.spark_round / spark_round_micro against an exact Decimal
golden: half-up on the shortest decimal repr (Spark's
BigDecimal(Double.toString(x)).setScale(dp, HALF_UP)), no signed zero.
Spark-free."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from sonar_spark import kernels


def _golden_units(x: float, dp: int) -> int:
    return int(Decimal(repr(x)).scaleb(dp).quantize(Decimal(1), ROUND_HALF_UP))


def _golden(x: float, dp: int) -> float:
    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP)) + 0.0


def _cases(dp: int, rng) -> np.ndarray:
    scale = 10.0 ** dp
    ints = rng.integers(-10**6, 10**6, 300)
    ties = (ints + 0.5) / scale  # exact .5 ties in the decimal repr
    band = np.concatenate(  # one ulp either side of a tie
        [np.nextafter(ties, np.inf), np.nextafter(ties, -np.inf)]
    )
    rand = np.concatenate(
        [rng.standard_normal(500) * s for s in (1e-3, 1.0, 1e3, 1e6)]
    )
    tiny = np.array([0.0, -0.0, -1e-12, 1e-12, -0.4 / scale, 0.4 / scale])
    return np.concatenate([ties, -ties, band, rand, tiny])


def test_spark_round_matches_decimal_golden():
    rng = np.random.default_rng(5)
    for dp in range(9):
        x = _cases(dp, rng)
        got = kernels.spark_round(x, dp)
        want = np.array([_golden(float(v), dp) for v in x])
        assert np.array_equal(got.view(np.int64), want.view(np.int64)), dp
        assert not np.signbit(got[got == 0]).any(), dp


def test_spark_round_micro_matches_decimal_golden(monkeypatch):
    rng = np.random.default_rng(6)
    for dp in range(10):  # the engine rounds to _MICRO_DP = 9
        monkeypatch.setattr(kernels, "_MICRO_DP", dp)
        x = _cases(dp, rng)
        got = kernels.spark_round_micro(x)
        want = np.array([_golden_units(float(v), dp) for v in x])
        assert got.dtype == np.int64
        assert np.array_equal(got, want), dp


def test_spark_round_known_values(monkeypatch):
    # 2.675 is stored below the tie, but its repr is "2.675": Spark
    # rounds the repr, so half-up gives 2.68 (plain float math: 2.67)
    assert kernels.spark_round(np.array([2.675, -2.675, 0.125]), 2).tolist() == [
        2.68, -2.68, 0.13,
    ]
    monkeypatch.setattr(kernels, "_MICRO_DP", 2)
    assert kernels.spark_round_micro(np.array([2.675, -0.0])).tolist() == [268, 0]
