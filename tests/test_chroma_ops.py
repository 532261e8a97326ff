"""Property tests for the chroma/tonal round-3 operators: Tonnetz
projection, circular-shift similarity, sequence-similarity DP
kernels, CQT kernel table, pitch-class profile, harmonic tracking."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sonar_spark.operators.chroma import (
    TONNETZ_COORDS,
    _dp_kernel,
    chroma_cqt_kernel_rows,
    chroma_shift_optimal,
    tonnetz_centroids,
)
from sonar_spark.operators.tracking import track_peaks_sequence


def test_tonnetz_pure_pitch_class_centroid(spark):
    """All energy on one pitch class -> centroid at its coordinate."""
    rows = []
    for pc in range(12):
        for c in range(12):
            rows.append((pc, 0, c, 1.0 if c == pc else 0.0))
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, pitch_class int, hpcp double"
    )
    out = {
        r["doc_id"]: (r["centroid_x"], r["centroid_y"])
        for r in tonnetz_centroids(df).collect()
    }
    for pc, x, y in TONNETZ_COORDS:
        assert out[pc][0] == pytest.approx(x, abs=1e-6)
        assert out[pc][1] == pytest.approx(y, abs=1e-6)


def test_shift_optimal_recovers_transposition(spark):
    """cv2 = cv1 rotated by s -> best shift s with similarity ~1."""
    rng = np.random.default_rng(3)
    base = rng.random(12) + 0.1
    shift = 5
    # shifted[i] = base[(i+shift)%12] must equal cv2[i] -> cv2 is
    # base advanced by shift
    cv2 = [base[(i + shift) % 12] for i in range(12)]
    rows_l = [(0, 0, c, float(base[c])) for c in range(12)]
    rows_r = [(0, 0, c, float(cv2[c])) for c in range(12)]
    l = spark.createDataFrame(
        rows_l, "qid long, mid long, pitch_class int, mv double"
    )
    r = spark.createDataFrame(
        rows_r, "qid long, mid long, pitch_class int, mv double"
    )
    out = chroma_shift_optimal(l, r).collect()[0]
    assert out["best_shift"] == shift
    assert out["best_similarity"] == pytest.approx(1.0, abs=1e-9)


def test_dp_kernels_identical_sequences():
    """Identical sequences: DTW corner cost ~0 -> similarity ~1; SW
    max score ~= len * 1.0 along the diagonal."""
    rng = np.random.default_rng(11)
    seq = [rng.random(12) + 0.05 for _ in range(4)]
    dtw = _dp_kernel("dtw")
    sw = _dp_kernel("sw")
    cost, plen, sim = dtw(seq, seq)
    assert cost == pytest.approx(0.0, abs=1e-9)
    assert sim == pytest.approx(1.0, abs=1e-9)
    score, splen, ssim = sw(seq, seq)
    assert score == pytest.approx(4.0, abs=1e-6)  # 4 matches of sim 1
    assert splen == 4
    assert ssim == pytest.approx(1.0, abs=1e-6)


def test_dtw_traceback_path_length_bounds():
    rng = np.random.default_rng(5)
    a = [rng.random(12) for _ in range(3)]
    b = [rng.random(12) for _ in range(4)]
    dtw = _dp_kernel("dtw")
    _, plen, _ = dtw(a, b)
    # path visits between max(Q,R)-? and Q+R-2 cells (excl. (0,0))
    assert 3 <= plen <= 5


def test_cqt_kernel_shapes():
    rows = chroma_cqt_kernel_rows()
    ks = {}
    for k, cls, n, cw, sw in rows:
        ks.setdefault(k, []).append((n, cw, sw))
    assert len(ks) == 24
    for k, taps in ks.items():
        L = len(taps)
        assert 3 <= L <= 16
        # center tap: w=1, phi=0 -> cw=1, sw=0 (odd lengths only)
        if L % 2 == 1:
            c = L // 2
            tap = dict((n, (cw, sw)) for n, cw, sw in taps)[c]
            assert tap[0] == pytest.approx(1.0)
            assert tap[1] == pytest.approx(0.0)


def test_tracking_single_stable_peak():
    """One peak per frame at a stable frequency -> one track through
    all frames."""
    frames = [(f, [(5.0, 2.0)]) for f in range(4)]
    tracks = track_peaks_sequence(frames)
    assert len(tracks) == 1
    tid, pts = tracks[0]
    assert tid == 1
    assert [p[0] for p in pts] == [0, 1, 2, 3]


def test_tracking_used_peak_blocks_second_track():
    """Two tracks wanting the same peak: the earlier-created track
    claims it; the later one is not continued (usedPeaks exclusion,
    harmonic_tracking.go:316-325)."""
    frames = [
        (0, [(5.0, 2.0), (5.1, 1.9)]),  # two births
        (1, [(5.05, 2.0)]),             # single peak both want
        (2, [(5.05, 2.0)]),
        (3, [(5.05, 2.0)]),
    ]
    tracks = track_peaks_sequence(frames)
    # track 1 claims the shared peak every frame -> 4 points; track 2
    # dies with 1 point (< MinTrackLength) and is filtered
    assert len(tracks) == 1
    assert tracks[0][0] == 1
    assert len(tracks[0][1]) == 4


def test_tracking_short_tracks_filtered():
    frames = [
        (0, [(5.0, 2.0)]),
        (1, [(5.0, 2.0)]),
        (2, []),  # gap kills continuation permanently
        (3, [(5.0, 2.0)]),
    ]
    tracks = track_peaks_sequence(frames)
    # 2-point track and 1-point track both < 3 -> none kept
    assert tracks == []


def test_compare_topk_chroma_group_and_quality(spark):
    """compare_topk wires a chroma group (cosine of mean chroma
    vectors, comparison.go:673-688) when chroma0..11 are present, and
    emits the reference quality metrics (:892-960, :1011-1037)."""
    import pyspark.sql.functions as F

    from sonar_spark.operators.compare import (
        CHROMA_STATS,
        ENERGY_STATS,
        MOMENT_STATS,
        compare_topk,
    )

    base = {c: 1.0 for c in ENERGY_STATS + MOMENT_STATS}
    rows = []
    for d, cv in (("a", [1.0] * 12), ("b", [1.0] * 12),
                  ("c", [1.0, 0.0] * 6)):
        r = {"doc_id": d, "source": "web", "n_frames": 10, **base}
        for i, v in enumerate(cv):
            r[f"chroma{i}"] = v
        rows.append(r)
    df = spark.createDataFrame(rows)
    out = compare_topk(df, df).collect()
    got = {(r["query_id"], r["match_id"]): r for r in out}
    # identical vectors: chroma cosine 1
    assert got[("a", "b")]["sim_chroma"] == pytest.approx(1.0)
    # [1..] vs alternating: cos = 6 / (sqrt(12)*sqrt(6))
    exp = 6.0 / (math.sqrt(12.0) * math.sqrt(6.0))
    assert got[("a", "c")]["sim_chroma"] == pytest.approx(exp)
    r = got[("a", "b")]
    # all groups equal -> sample-variance noise 0; ng=3 (no minhash,
    # no mfcc); availability 3/6; equal n_frames -> alignment 1
    assert r["sim_noise"] == pytest.approx(0.0)
    assert r["data_availability"] == pytest.approx(3.0 / 6.0)
    assert r["temporal_alignment"] == pytest.approx(1.0)
    # confidence = 0.5 + 0.3 (sim>0.8) + 0.1 (content) + 3*0.05
    #   + 0.5*0.1 - 0 = 1.0 clamped
    assert r["confidence"] == pytest.approx(1.0)


def test_pitch_nsdf_planted_period(spark):
    """A strongly periodic series must yield the planted lag's pitch
    with high confidence."""
    from sonar_spark.operators.temporal import pitch_nsdf

    period = 8
    rows = []
    for i in range(64):
        rows.append((0, i, 5.0 + (3.0 if i % period == 0 else 0.0)))
    df = spark.createDataFrame(rows, "doc_id long, pos long, v double")
    out = pitch_nsdf(df).collect()[0]
    assert out["pitch"] == pytest.approx(32.0 / period)
    assert out["confidence"] > 0.5
    assert out["strength"] == pytest.approx(out["confidence"])


def test_key_estimation_full_metrics(spark):
    """Clarity/ambiguity bounds on a pure-major-profile chroma."""
    from sonar_spark.operators.tonal import (
        KRUMHANSL_MAJOR,
        key_estimation_full,
    )

    rows = [(0, 0, pc, float(KRUMHANSL_MAJOR[pc])) for pc in range(12)]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx int, pitch_class int, hpcp double"
    )
    out = key_estimation_full(df).collect()[0]
    # the C-major template correlates perfectly with itself
    assert out["key"] == 0 and out["mode"] == "major"
    assert out["confidence"] == pytest.approx(1.0)
    assert 0.0 < out["clarity"] <= 1.0
    assert 0.0 <= out["ambiguity"] <= 1.0


def test_chord_analysis_extensions_detect_b7(spark):
    """A major chord with a strong b7 class must report extension 10."""
    from sonar_spark.operators.tonal import chord_analysis

    best_rows = [
        {
            "doc_id": 0, "frame_idx": 0, "chord_root": 0,
            "chord_quality": "major", "inversion": 0, "bass_pc": 0,
            "confidence": 0.9, "strength": 0.9, "confidence2": 0.5,
        }
    ]
    chroma_rows = []
    for pc in range(12):
        v = 0.6 if pc in (0, 4, 7) else (0.5 if pc == 10 else 0.0)
        chroma_rows.append(
            {"doc_id": 0, "frame_idx": 0, "pitch_class": pc, "hpcp": v}
        )
    best = spark.createDataFrame(best_rows)
    ch = spark.createDataFrame(chroma_rows)
    out = chord_analysis(best, ch).collect()[0]
    assert out["extensions"] == "10"
    assert out["clarity"] == pytest.approx(0.4)
    assert out["consonance"] == pytest.approx(0.9)
    # dissonant pairs above 0.2 with interval 1/6/11: only (4, 10),
    # the tritone -> tension = 0.6 * 0.5
    assert out["tension"] == pytest.approx(0.3)
