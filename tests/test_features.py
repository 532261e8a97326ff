"""Per-frame feature golden tests: arrow path vs loop oracle vs
built-in-expression path (three independent implementations)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import golden
from sonar_spark import datagen, kernels
from sonar_spark.config import FeatureConfig, FrameConfig
from sonar_spark.operators.features import (
    FEATURE_COLS,
    MFCC_COLS,
    SPECTRAL_COLS,
    doc_stats,
    frame_features_arrow,
)
from sonar_spark.operators.frames import expand_frames

CFG = FrameConfig(window=64, hop=16)
RTOL, ATOL = 1e-9, 1e-12


def _kernel_features(tokens, window, hop, entropy_bins=16):
    """Every per-frame feature of one doc through the flat kernel."""
    flat = np.asarray(tokens, dtype=np.float64)
    feats, _ = kernels.frame_features_flat(
        flat, np.array([len(flat)]), window, hop, entropy_bins
    )
    return feats


def _pct_expr(sorted_col, window: int, p: float):
    """R-7 linear-interp percentile of a sorted fixed-length array as a
    pure expression (window length is a plan-time constant)."""
    h = (window - 1) * p
    k = int(np.floor(h))
    frac = h - k
    lo = F.element_at(sorted_col, k + 1).cast("double")
    if frac == 0.0:
        return lo
    hi = F.element_at(sorted_col, k + 2).cast("double")
    return lo + F.lit(frac) * (hi - lo)


def frame_features_builtin(
    df: DataFrame, frame_cfg: FrameConfig = FrameConfig()
) -> DataFrame:
    """Catalyst-expression implementation over expand_frames output.

    Computes rms/mean/var/std/skew/kurt/min/max/crest/zcr/p25/p50/p75
    with higher-order functions (JVM-side) and flux with one lag()
    window function (the only shuffle)."""
    W = frame_cfg.window
    frames = expand_frames(df, frame_cfg)
    dbl = F.transform(F.col("window"), lambda x: x.cast("double"))
    frames = frames.withColumn("w", dbl)

    def asum(col):
        return F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x)

    frames = frames.withColumn("mean", asum(F.col("w")) / W)
    c = F.transform(F.col("w"), lambda x: x - F.col("mean"))
    frames = frames.withColumn("cen", c)
    m2 = asum(F.transform(F.col("cen"), lambda x: x * x)) / W
    m3 = asum(F.transform(F.col("cen"), lambda x: x * x * x)) / W
    m4 = asum(F.transform(F.col("cen"), lambda x: x * x * x * x)) / W
    frames = (
        frames.withColumn("var", m2)
        .withColumn("std", F.sqrt(F.col("var")))
        .withColumn(
            "skew",
            F.when(F.col("var") > 0, m3 / F.pow(F.col("var"), 1.5)).otherwise(0.0),
        )
        .withColumn(
            "kurt",
            F.when(F.col("var") > 0, m4 / F.pow(F.col("var"), 2.0) - 3.0).otherwise(
                0.0
            ),
        )
        .withColumn(
            "rms_energy",
            F.sqrt(asum(F.transform(F.col("w"), lambda x: x * x)) / W),
        )
        .withColumn("min", F.array_min("w"))
        .withColumn("max", F.array_max("w"))
        .withColumn(
            "crest",
            F.when(
                F.col("rms_energy") > 0,
                F.array_max(F.transform(F.col("w"), F.abs)) / F.col("rms_energy"),
            ).otherwise(0.0),
        )
    )
    # ZCR: sign changes of centered values (oracle semantics:
    # (a>0)!=(b>0) or (a<0)!=(b<0))
    sgn_a = F.slice(F.col("cen"), 1, W - 1)
    sgn_b = F.slice(F.col("cen"), 2, W - 1)
    changes = F.zip_with(
        sgn_a,
        sgn_b,
        lambda a, b: (
            ((a > 0) != (b > 0)) | ((a < 0) != (b < 0))
        ).cast("double"),
    )
    frames = frames.withColumn("zcr", asum(changes) / (W - 1))
    srt = F.array_sort("w")
    frames = (
        frames.withColumn("p25", _pct_expr(srt, W, 0.25))
        .withColumn("p50", _pct_expr(srt, W, 0.50))
        .withColumn("p75", _pct_expr(srt, W, 0.75))
    )
    # flux vs previous frame window (one shuffle: partitionBy doc_id)
    win = Window.partitionBy("doc_id").orderBy("frame_idx")
    prev = F.lag("w").over(win)
    flux = F.when(prev.isNull(), F.lit(0.0)).otherwise(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("w"), prev, lambda a, b: F.pow(F.greatest(a - b, F.lit(0.0)), 2)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    )
    frames = frames.withColumn("flux", flux)
    # the builtin cross-check covers the time-domain family; the
    # histogram-spectrum features live in the Arrow kernel (their
    # independent implementations are golden.spectral_golden and the
    # frame_spectral DuckDB oracle)
    keep = ["doc_id", "source", "n_tok", "frame_idx", "frame_ts"] + [
        col for col in FEATURE_COLS
        if col != "entropy"
        and col not in SPECTRAL_COLS
        and col not in MFCC_COLS
    ]
    return frames.select(*keep)


def test_kernel_matches_golden_loop():
    rng = np.random.default_rng(7)
    for n in (64, 79, 80, 200, 1000):
        toks = rng.integers(0, 50257, size=n).astype(np.int64)
        got = _kernel_features(toks, CFG.window, CFG.hop)
        want = golden.frame_features_golden(toks, CFG.window, CFG.hop, 16)
        assert len(got["mean"]) == len(want)
        for i, row in enumerate(want):
            for k, v in row.items():
                if k == "frame_idx":
                    continue
                assert np.isclose(
                    got[k][i], v, rtol=RTOL, atol=ATOL
                ), f"{k}@{i}: {got[k][i]} vs {v}"


def test_arrow_features_match_golden(spark):
    df = datagen.token_table(spark, n_docs=10)
    src = {r["doc_id"]: r["tokens"] for r in df.collect()}
    feats = frame_features_arrow(df, CFG).collect()
    by_doc: dict[str, list] = {}
    for r in feats:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_checked = 0
    for doc_id, toks in src.items():
        want = golden.frame_features_golden(toks, CFG.window, CFG.hop, 16)
        have = sorted(by_doc.get(doc_id, []), key=lambda r: r["frame_idx"])
        assert len(have) == len(want)
        for h, w in zip(have, want):
            for k, v in w.items():
                if k == "frame_idx":
                    continue
                assert np.isclose(h[k], v, rtol=RTOL, atol=ATOL), (doc_id, k)
                n_checked += 1
    assert n_checked > 100


def test_builtin_features_match_arrow(spark):
    """Two independent in-Spark implementations agree (entropy is
    arrow-only by design)."""
    df = datagen.token_table(spark, n_docs=8)
    cols = ["doc_id", "frame_idx"] + [
        c for c in FEATURE_COLS
        if c != "entropy" and c not in SPECTRAL_COLS and c not in MFCC_COLS
    ]
    a = {
        (r["doc_id"], r["frame_idx"]): r
        for r in frame_features_arrow(df, CFG).select(*cols).collect()
    }
    b = {
        (r["doc_id"], r["frame_idx"]): r
        for r in frame_features_builtin(df, CFG).select(*cols).collect()
    }
    assert set(a) == set(b) and len(a) >= 20
    for key in a:
        for c in cols[2:]:
            assert np.isclose(a[key][c], b[key][c], rtol=1e-9, atol=1e-9), (key, c)


def test_doc_stats_shapes(spark):
    df = datagen.token_table(spark, n_docs=6)
    stats = doc_stats(frame_features_arrow(df, CFG))
    rows = stats.collect()
    # doc0 has n_tok < W -> no frames -> absent
    assert {r["doc_id"] for r in rows} == {f"doc{i:08d}" for i in range(1, 6)}
    for r in rows:
        assert r["n_frames"] >= 1
        assert r["rms_energy_mean"] is not None


def test_determinism_across_partitionings(spark):
    """Same results under different parallelism (SURVEY §7.4 #4)."""
    a = frame_features_arrow(datagen.token_table(spark, n_docs=12, partitions=1), CFG)
    b = frame_features_arrow(datagen.token_table(spark, n_docs=12, partitions=7), CFG)
    pa = {(r["doc_id"], r["frame_idx"]): r for r in a.collect()}
    pb = {(r["doc_id"], r["frame_idx"]): r for r in b.collect()}
    assert set(pa) == set(pb)
    for k in pa:
        for c in FEATURE_COLS:
            assert pa[k][c] == pb[k][c], (k, c)


def test_feature_flag_pruning(spark):
    """Enable* flags prune computed+emitted columns (the reference's
    FeatureConfig semantics, config/config.go:22-27); values of the
    remaining columns are unchanged."""
    from sonar_spark.config import FeatureConfig

    df = datagen.token_table(spark, n_docs=6)
    pruned_cfg = FeatureConfig(
        enable_percentiles=False, enable_entropy=False, enable_moments=False
    )
    pruned = frame_features_arrow(df, CFG, pruned_cfg)
    assert "p50" not in pruned.columns and "entropy" not in pruned.columns
    assert "mean" not in pruned.columns
    full = frame_features_arrow(df, CFG)
    a = {(r["doc_id"], r["frame_idx"]): r for r in pruned.collect()}
    b = {(r["doc_id"], r["frame_idx"]): r for r in full.collect()}
    assert set(a) == set(b)
    for k in a:
        for c in ("rms_energy", "crest", "zcr", "flux"):
            assert a[k][c] == b[k][c]


def test_spectral_kernel_matches_golden_loop():
    """Histogram-as-spectrum family (centroid/rolloff/bandwidth/
    flatness/slope/contrast/power) vs the independent loop oracle,
    random + constant + short docs (SURVEY §2.3 frequency-domain)."""
    rng = np.random.default_rng(17)
    for trial in range(12):
        n = int(rng.integers(CFG.window, 400))
        toks = rng.integers(0, 40, size=n).astype(np.int64)
        if trial % 4 == 0:
            toks[:] = 9  # constant doc: everything lands in bin 0
        got = _kernel_features(toks, CFG.window, CFG.hop)
        want = golden.frame_features_golden(toks, CFG.window, CFG.hop, 16)
        for i, row in enumerate(want):
            for k in kernels._SPECTRAL_KEYS:
                assert np.isclose(got[k][i], row[k], rtol=1e-10, atol=1e-12), (
                    trial, i, k, got[k][i], row[k],
                )


def test_contrast_band_edges_match_golden():
    """The kernel's band edges (integer root from a float estimate)
    equal the golden's (integer search) for every bin count, including
    the ones whose edges are exact integer frequencies (B = 17:
    16^(3/4) = 8)."""
    for B in range(2, 5000):
        assert kernels.contrast_band_edges(B) == golden._contrast_band_edges(B), B
    assert kernels.contrast_band_edges(16) == [1, 2, 3, 7, 15]
    assert kernels.contrast_band_edges(17) == [1, 2, 4, 8, 16]


def test_spectral_pruning_skips_histogram():
    """Disabling the spectral + entropy groups must not compute them
    (config-driven pruning, fingerprint/config/config.go:22-27)."""
    toks = np.arange(100, dtype=np.int64)
    feats = _kernel_features(toks, CFG.window, CFG.hop)
    keys_only, _ = kernels.frame_features_flat(
        toks.astype(np.float64), np.array([100]), CFG.window, CFG.hop,
        keys=("rms_energy", "mean"),
    )
    assert set(keys_only) == {"rms_energy", "mean"}
    assert set(kernels._SPECTRAL_KEYS) <= set(feats)


def test_mfcc_kernel_matches_golden_loop():
    """MFCC analog (mel filterbank -> log -> DCT-II -> lifter) vs the
    independent loop oracle (mfcc.go:113-164 golden-vector target)."""
    rng = np.random.default_rng(23)
    for trial in range(10):
        n = int(rng.integers(CFG.window, 300))
        toks = rng.integers(0, 40, size=n).astype(np.int64)
        if trial % 5 == 0:
            toks[:] = 3  # constant doc: single-bin spectrum
        got = _kernel_features(toks, CFG.window, CFG.hop)
        want = golden.frame_features_golden(toks, CFG.window, CFG.hop, 16)
        for i, row in enumerate(want):
            for k in kernels._MFCC_KEYS:
                assert np.isclose(got[k][i], row[k], rtol=1e-9, atol=1e-12), (
                    trial, i, k,
                )


def test_mfcc_matrix_shapes_and_orthonormality():
    FB, DCT, LIFT = kernels.mfcc_matrices(16)
    assert FB.shape == (8, 16) and DCT.shape == (6, 8) and LIFT.shape == (6,)
    # DCT-II rows are orthonormal under the sqrt normalization
    assert np.allclose(DCT @ DCT.T, np.eye(6), atol=1e-12)
    assert LIFT[0] == 1.0 and (LIFT[1:] > 1.0).all()
    # every filter is nonnegative and at least one bin is active
    assert (FB >= 0).all() and (FB.sum(axis=1) > 0).all()


def test_bark_bands_match_loop():
    """Bark band energies (Traunmueller warp, bark_scale.go:18-113)
    vs an explicit per-band loop over the histogram power spectrum."""
    import math

    def h2b(hz):
        return 26.81 * hz / (1960.0 + hz) - 0.53

    def b2h(bark):
        return 1960.0 * (bark + 0.53) / (26.28 - bark)

    B, nf = 16, 4
    fft = 2 * (B - 1)
    lo, hi = h2b(0.0), h2b(B - 1.0)
    pts = [b2h(lo + i * (hi - lo) / (nf + 1)) for i in range(nf + 2)]
    bins = [min(int(math.floor((fft + 1.0) * p / fft + 0.5)), fft // 2)
            for p in pts]

    rng = np.random.default_rng(53)
    toks = rng.integers(0, 40, size=200).astype(np.int64)
    feats, _ = kernels.frame_features_flat(
        toks.astype(np.float64), np.array([200]), 64, 16,
        keys=tuple(kernels._BARK_KEYS),
    )
    gold_rows = golden.frame_features_golden(toks, 64, 16)
    for i, row in enumerate(gold_rows):
        hist = golden._histogram(
            [float(t) for t in toks[i * 16 : i * 16 + 64]], 16
        )
        power = [c * c for c in hist]
        for m in range(1, nf + 1):
            left, center, right = bins[m - 1], bins[m], bins[m + 1]
            acc = 0.0
            for k in range(left, min(center, B)):
                if center != left:
                    acc += power[k] * (k - left) / (center - left)
            for k in range(center, min(right, B)):
                if right != center:
                    acc += power[k] * (right - k) / (right - center)
            assert np.isclose(
                feats[f"bark{m-1}"][i], acc, rtol=1e-9, atol=1e-12
            ), (i, m)
