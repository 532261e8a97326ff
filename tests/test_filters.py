"""IIR filters: convolution-vectorized kernels vs the reference's
sequential recursions (loop oracles), and the Spark operator."""

from __future__ import annotations

import numpy as np

from sonar_spark import kernels
from sonar_spark.operators.filters import bandpass, dc_removal


def _dc_loop(x, r=0.995):
    """dc_removal.go:100-115 Process loop."""
    x1 = y1 = 0.0
    out = []
    for v in x:
        y = v - x1 + r * y1
        out.append(y)
        x1, y1 = v, y
    return np.array(out)


def _biquad_loop(x, coeffs):
    """bandpass.go:123-143 Direct Form II loop."""
    b0, b1, b2, a1, a2 = coeffs
    w1 = w2 = 0.0
    out = []
    for v in x:
        w = v - a1 * w1 - a2 * w2
        out.append(b0 * w + b1 * w1 + b2 * w2)
        w2, w1 = w1, w
    return np.array(out)


def test_dc_removal_matches_recursion():
    rng = np.random.default_rng(5)
    for n in (1, 2, 17, 300):
        x = rng.integers(0, 30, size=n).astype(float) + 5.0
        got = kernels.dc_removal_apply(x)
        want = _dc_loop(x)
        np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)
    # DC component actually removed: constant input decays as 7 R^n
    y = kernels.dc_removal_apply(np.full(500, 7.0))
    assert abs(y[0] - 7.0) < 1e-12
    assert np.isclose(y[-1], 7.0 * 0.995**499, rtol=1e-9)
    # faster pole: effectively zero by n=200
    y2 = kernels.dc_removal_apply(np.full(200, 7.0), pole=0.9)
    assert abs(y2[-1]) < 1e-6


def test_biquad_matches_recursion():
    coeffs = kernels.bandpass_coefficients(64, 8.0, 1.0)
    rng = np.random.default_rng(7)
    for n in (1, 2, 3, 50, 400):
        x = rng.standard_normal(n) * 10
        got = kernels.biquad_apply(x, coeffs)
        want = _biquad_loop(x, coeffs)
        np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def test_bandpass_coefficients_cookbook():
    b0, b1, b2, a1, a2 = kernels.bandpass_coefficients(64, 8.0, 1.0)
    w0 = 2 * np.pi * 8.0 / 64
    alpha = np.sin(w0) / 2.0
    a0 = 1 + alpha
    assert np.isclose(b0, alpha / a0) and b1 == 0.0
    assert np.isclose(b2, -alpha / a0)
    assert np.isclose(a1, -2 * np.cos(w0) / a0)
    assert np.isclose(a2, (1 - alpha) / a0)


def test_filters_spark_operator(spark):
    from sonar_spark import datagen

    df = datagen.token_table(spark, n_docs=8)
    src = {r["doc_id"]: np.asarray(r["tokens"], float) for r in df.collect()}
    dc = {r["doc_id"]: r["filtered"] for r in dc_removal(df).collect()}
    coeffs = kernels.bandpass_coefficients(64, 8.0, 1.0)
    bp = {r["doc_id"]: r["filtered"]
          for r in bandpass(df).collect()}
    assert set(dc) == set(src) == set(bp)
    for did, x in src.items():
        np.testing.assert_allclose(dc[did], _dc_loop(x), rtol=1e-9,
                                   atol=1e-9)
        np.testing.assert_allclose(bp[did], _biquad_loop(x, coeffs),
                                   rtol=1e-9, atol=1e-9)
