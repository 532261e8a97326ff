"""Alignment: xcorr kernel vs naive loop oracle; known-lag recovery
end-to-end; FFT/time-domain agreement; DTW vs naive; hybrid phase."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import golden
from sonar_spark import kernels
from sonar_spark.config import AlignmentConfig
from sonar_spark.operators.align import align_pairs, build_doc_series


def test_xcorr_matches_naive_oracle():
    rng = np.random.default_rng(2)
    a = rng.standard_normal(120)
    b = np.concatenate([rng.standard_normal(10), a])[:120]
    lags_k, corr_k = kernels.xcorr_normalized(a, b, 30, fft_threshold=10**9)
    lags_o, corr_o = golden.xcorr_naive(a, b, 30)
    np.testing.assert_array_equal(lags_k, lags_o)
    np.testing.assert_allclose(corr_k, corr_o, rtol=1e-9, atol=1e-12)


def test_xcorr_fft_agrees_with_time_domain():
    rng = np.random.default_rng(4)
    a = rng.standard_normal(1500)
    b = np.roll(a, 37)
    lags_t, corr_t = kernels.xcorr_normalized(a, b, 100, fft_threshold=10**9)
    lags_f, corr_f = kernels.xcorr_normalized(a, b, 100, fft_threshold=100)
    np.testing.assert_array_equal(lags_t, lags_f)
    np.testing.assert_allclose(corr_t, corr_f, rtol=1e-6, atol=1e-9)


def test_xcorr_recovers_known_lag():
    rng = np.random.default_rng(6)
    a = rng.standard_normal(400)
    for shift in (-25, -3, 0, 7, 40):
        # convention: positive lag <=> b delayed vs a (b[t] = a[t-lag])
        b = np.roll(a, shift)
        lags, corr = kernels.xcorr_normalized(a, b, 60)
        m = kernels.xcorr_peak_metrics(lags, corr)
        assert m["lag"] == shift, (shift, m)
        conf = kernels.xcorr_confidence(m)
        assert conf > 0.5


def test_dtw_matches_naive():
    rng = np.random.default_rng(8)
    a = rng.standard_normal(40)
    b = rng.standard_normal(55)
    got = kernels.dtw_align(a, b, band=100)  # band >= |q-r|+1 => unbanded
    want, path = golden.dtw_naive(a, b)
    assert np.isclose(got["dist"], want, rtol=1e-9)
    assert got["path_len"] == len(path)
    disp = [j - i for i, j in path]
    assert np.isclose(got["offset"], sum(disp) / len(disp), rtol=1e-12)


def test_dtw_identical_zero():
    a = np.arange(30, dtype=float)
    d = kernels.dtw_align(a, a, band=50)
    assert d["dist"] == 0.0 and d["offset"] == 0.0 and d["confidence"] == 1.0


def test_align_pairs_spark(spark):
    """End-to-end: planted lags recovered through the Spark operator;
    low-confidence pairs routed through the hybrid DTW phase."""
    rng = np.random.default_rng(11)
    rows = []
    expected = {}
    for i, shift in enumerate((0, 5, 13, 29)):
        a = rng.standard_normal(300)
        b = np.roll(a, shift)  # b delayed by `shift` vs a
        rows.append((f"p{i}", a.tolist(), b.tolist()))
        expected[f"p{i}"] = shift
    # one noise pair (low confidence -> hybrid path)
    rows.append(("noise", rng.standard_normal(200).tolist(),
                 rng.standard_normal(200).tolist()))
    df = spark.createDataFrame(
        rows, "pair_id string, series_a array<double>, series_b array<double>"
    )
    out = {r["pair_id"]: r for r in align_pairs(df, AlignmentConfig(max_lag=64)).collect()}
    for pid, shift in expected.items():
        assert out[pid]["lag"] == shift, (pid, out[pid])
        assert out[pid]["confidence"] > 0.5
    assert out["noise"]["method"] == "hybrid"
    assert out["noise"]["confidence"] <= 0.75
    assert out["noise"]["dtw_dist"] is not None


def test_build_doc_series(spark):
    feats = spark.createDataFrame(
        [("d1", 2, 3.0), ("d1", 0, 1.0), ("d1", 1, 2.0), ("d2", 0, 9.0)],
        "doc_id string, frame_idx int, rms_energy double",
    )
    got = {r["doc_id"]: r["series"] for r in build_doc_series(feats).collect()}
    assert got == {"d1": [1.0, 2.0, 3.0], "d2": [9.0]}


def test_consistency_trials(spark):
    """Clean planted-lag pairs stay consistent across perturbed
    re-alignments (alignment.go:710-801 semantics)."""
    from sonar_spark.operators.align import consistency_trials

    rng = np.random.default_rng(13)
    a = rng.standard_normal(300)
    b = np.roll(a, 9)
    df = spark.createDataFrame(
        [("p0", a.tolist(), b.tolist())],
        "pair_id string, series_a array<double>, series_b array<double>",
    )
    out = consistency_trials(df, AlignmentConfig(max_lag=32)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_trials"] == 3
    assert abs(r["offset_mean"] - 9.0) < 1.0
    assert r["offset_range"] <= 1.0
    assert r["consistency"] > 0.9


def test_select_best_alignment_scoring(spark):
    """Exact reproduction of selectBestAlignment's weighted score
    (extractors/alignment.go:412-445): w*(0.4c+0.4s+0.2q), weights
    corr_energy 1.0 / dtw_chroma 0.7 / unknown 0.5."""
    from sonar_spark.operators.align import select_best_alignment

    rows = [
        # p1: energy 0.6 conf -> score 1.0*(.24+.24+.12)=0.60
        #     chroma 0.95 everything -> 0.7*0.95=0.665 -> chroma wins
        ("p1", "corr_energy", 0.6, 0.6, 0.6),
        ("p1", "dtw_chroma", 0.95, 0.95, 0.95),
        # p2: energy strong -> 1.0*0.9=0.9 beats 0.7*1.0=0.7
        ("p2", "corr_energy", 0.9, 0.9, 0.9),
        ("p2", "dtw_chroma", 1.0, 1.0, 1.0),
        # p3: unknown feature types use the 0.5 default weight
        ("p3", "dtw_mystery", 1.0, 1.0, 1.0),   # 0.5
        ("p3", "dtw_chroma", 0.8, 0.8, 0.8),    # 0.56 -> wins
    ]
    df = spark.createDataFrame(
        rows,
        "pair_id string, feature_type string, confidence double, "
        "similarity double, quality double",
    )
    got = {r["pair_id"]: r for r in select_best_alignment(df).collect()}
    assert got["p1"]["feature_type"] == "dtw_chroma"
    assert abs(got["p1"]["score"] - 0.7 * 0.95) < 1e-12
    assert got["p2"]["feature_type"] == "corr_energy"
    assert abs(got["p2"]["score"] - 0.9) < 1e-12
    assert got["p3"]["feature_type"] == "dtw_chroma"
    assert abs(got["p3"]["score"] - 0.7 * 0.8) < 1e-12


def test_multi_feature_align_planted(spark):
    """End-to-end: exact-shift energy pairs -> corr_energy wins with
    the planted lag; a noise-energy pair with a clean chroma series
    flips the winner to dtw_chroma."""
    from sonar_spark.operators.align import multi_feature_align

    rng = np.random.default_rng(47)
    a = rng.standard_normal(300)
    chroma = rng.standard_normal(300)
    rows = [
        ("good", a.tolist(), np.roll(a, 5).tolist(),
         chroma.tolist(), np.roll(chroma, 5).tolist()),
        # energy pure noise on both sides (uncorrelated), chroma an
        # exact copy -> DTW dist 0, conf 1 -> 0.7 beats weak corr
        ("flip", rng.standard_normal(300).tolist(),
         rng.standard_normal(300).tolist(),
         chroma.tolist(), chroma.tolist()),
    ]
    df = spark.createDataFrame(
        rows,
        "pair_id string, energy_a array<double>, energy_b array<double>, "
        "chroma_a array<double>, chroma_b array<double>",
    )
    got = {r["pair_id"]: r
           for r in multi_feature_align(df, AlignmentConfig(max_lag=64)).collect()}
    assert got["good"]["feature_type"] == "corr_energy"
    assert got["good"]["offset"] == 5.0
    assert got["flip"]["feature_type"] == "dtw_chroma"
    assert abs(got["flip"]["offset"]) < 1e-9
