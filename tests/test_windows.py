"""Window coefficient functions, the Catalyst window-property bundle
and the Window.Apply weighting slot (windowing.go:167-425)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from sonar_spark import kernels
from sonar_spark.functions.windows import (
    WINDOW_TYPES,
    bessel_i0,
    window_coefficients,
)


def test_known_coefficient_values():
    """Spot goldens from the closed forms."""
    h = window_coefficients("hann", 8)
    assert h[0] == 0.0
    assert np.isclose(h[7], 0.5 * (1 - math.cos(2 * math.pi * 7 / 7)))
    assert np.isclose(window_coefficients("hamming", 8)[0], 0.08)
    r = window_coefficients("rectangular", 16)
    assert (r == 1.0).all()
    w = window_coefficients("welch", 9)
    assert np.isclose(w[4], 1.0) and np.isclose(w[0], 0.0)
    b = window_coefficients("bartlett", 9)
    assert np.isclose(b[4], 1.0)


def test_bessel_i0_series():
    # I0(0)=1; I0(1)~1.2660658; I0(8)~427.56411
    assert bessel_i0(0.0) == 1.0
    assert np.isclose(bessel_i0(1.0), 1.2660658777520082, rtol=1e-10)
    assert np.isclose(bessel_i0(8.0), 427.56411572180474, rtol=1e-8)


def test_kaiser_symmetry_and_peak():
    c = window_coefficients("kaiser", 33)
    assert np.allclose(c, c[::-1], atol=1e-12)  # symmetric
    assert np.isclose(c[16], 1.0)  # midpoint: I0(beta)/I0(beta)
    assert c[0] == c[32] == pytest.approx(1.0 / bessel_i0(8.0))


def _window_props(spark, sf_dir):
    """window_type -> the Catalyst property bundle at size 32
    (q_window_props: energy, power/noise gain, ENBW, scallop loss,
    coherent flag, 6 dp)."""
    import __spark_entry__ as E

    return {
        r["window_type"]: r
        for r in E.q_window_props(spark, sf_dir).collect()
    }


def test_properties_rectangular(spark, sf_dir):
    p = _window_props(spark, sf_dir)["rectangular"]
    assert p["energy"] == 32.0
    assert p["power_gain"] == 1.0
    assert p["noise_gain"] == 1.0
    assert p["enbw"] == 1.0
    assert p["scallop_loss"] == 0.0
    assert p["coherent"] is True


def test_properties_hann(spark, sf_dir):
    # symmetric Hann (N-1 denominator): sum w = (N-1)/2 and
    # sum w^2 = 3(N-1)/8, so ENBW = 3N / (2(N-1)) and noise gain
    # = (N-1) / (2N) — 1.5 and 0.5 in the large-N limit
    p = _window_props(spark, sf_dir)["hann"]
    n = 32
    assert abs(p["enbw"] - 3 * n / (2 * (n - 1))) < 1e-6
    assert abs(p["noise_gain"] - (n - 1) / (2 * n)) < 1e-6
    assert p["coherent"] is False


def test_expr_matches_numpy(spark):
    """Catalyst expression implementation == numpy implementation for
    every window type (independent code paths)."""
    from pyspark.sql import functions as F

    from sonar_spark.functions.windows import window_coefficients_expr

    df = spark.range(1)
    for t in WINDOW_TYPES:
        got = df.select(
            window_coefficients_expr(t).alias("c")
        ).collect()[0]["c"]
        want = window_coefficients(t, 32)
        np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12,
                                   err_msg=t)


def test_weighted_kernel_matches_loop():
    """Window.Apply slot: kernel features over Hann-weighted frames ==
    loop recomputation over explicitly multiplied values (flux included
    — the predecessor frame must be weighted too)."""
    rng = np.random.default_rng(31)
    toks = rng.integers(0, 40, size=300).astype(np.float64)
    W, H = 32, 8
    wcoef = window_coefficients("hann", W)
    feats, _ = kernels.frame_features_flat(
        toks, np.array([300]), W, H, weights=wcoef
    )
    nf = kernels.n_frames(300, W, H)
    prev = None
    for i in range(nf):
        f = toks[i * H : i * H + W] * wcoef
        assert np.isclose(feats["rms_energy"][i], np.sqrt((f * f).mean()),
                          rtol=1e-9)
        assert np.isclose(feats["mean"][i], f.mean(), rtol=1e-9, atol=1e-12)
        if prev is not None:
            d = np.maximum(f - prev, 0.0)
            assert np.isclose(feats["flux"][i], np.sqrt((d * d).sum()),
                              rtol=1e-9, atol=1e-12)
        else:
            assert feats["flux"][i] == 0.0
        prev = f
