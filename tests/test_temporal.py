"""Tempo/attack-decay/envelope/pitch-tracking operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sonar_spark.operators.temporal import (
    PitchTracker,
    _median_positive,
    attack_decay,
    pitch_track,
    tempo_estimate,
)


def track_pitch_sequence(frames):
    """One stream through a fresh PitchTracker: [(pitch, confidence)]
    in frame order -> per frame (pitch_corrected, pitch_smoothed,
    f0_multiple, salience, stability)."""
    tr = PitchTracker()
    return [tr.step(p, c) for p, c in frames]


def test_tempo_dominant_ioi(spark):
    # onsets at regular period 4 with one irregular extra
    rows = [("d1", i) for i in (0, 4, 8, 12, 16, 18)] + [
        ("d2", i) for i in (0, 7, 14)
    ]
    onsets = spark.createDataFrame(rows, "doc_id string, frame_idx long")
    got = {r["doc_id"]: r for r in tempo_estimate(onsets).collect()}
    assert got["d1"]["dominant_ioi"] == 4
    assert got["d1"]["n_onsets"] == 6
    assert abs(got["d1"]["tempo"] - 0.25) < 1e-12
    assert got["d2"]["dominant_ioi"] == 7
    assert abs(got["d2"]["onset_density"] - 3 / 14) < 1e-12


def test_tempo_tie_breaks_to_smallest(spark):
    rows = [("d", i) for i in (0, 2, 4, 9, 14)]  # IOIs: 2,2,5,5
    onsets = spark.createDataFrame(rows, "doc_id string, frame_idx long")
    got = tempo_estimate(onsets).collect()[0]
    assert got["dominant_ioi"] == 2


def test_attack_decay(spark):
    # triangle pulse: rises to peak at frame 5, falls after
    vals = [0.1, 0.1, 0.2, 0.5, 0.8, 1.0, 0.7, 0.4, 0.2, 0.1]
    feats = spark.createDataFrame(
        [("d", i, v) for i, v in enumerate(vals)],
        "doc_id string, frame_idx long, rms_energy double",
    )
    peaks = spark.createDataFrame(
        [("d", 5, 1.0)], "doc_id string, frame_idx long, rms_energy double"
    )
    r = attack_decay(feats, peaks).collect()[0]
    # last frame <= 0.5 before peak: frame 3 (0.5) -> attack 2
    assert r["attack_frames"] == 2
    # first frame <= 0.5 after peak: frame 7 (0.4) -> decay 2
    assert r["decay_frames"] == 2


def test_attack_decay_no_crossing_is_null(spark):
    feats = spark.createDataFrame(
        [("d", i, 1.0) for i in range(6)],
        "doc_id string, frame_idx long, rms_energy double",
    )
    peaks = spark.createDataFrame(
        [("d", 3, 1.0)], "doc_id string, frame_idx long, rms_energy double"
    )
    r = attack_decay(feats, peaks).collect()[0]
    assert r["attack_frames"] is None and r["decay_frames"] is None


def test_vad_and_silence_ratio(spark):
    from sonar_spark.operators.sessionize import detect_voice_activity

    vals = [0.1, 0.1, 0.9, 0.9, 0.9, 0.1, 0.9, 0.9, 0.9, 0.9]
    feats = spark.createDataFrame(
        [("d", i, v, 0.5) for i, v in enumerate(vals)],
        "doc_id string, frame_idx long, rms_energy double, zcr double",
    )
    segs = detect_voice_activity(feats, energy_thr=0.5).collect()
    got = {(r["seg_start"], r["seg_end"], r["run_len"]) for r in segs}
    assert got == {(2, 4, 3), (6, 9, 4)}


def test_time_stretch_estimate(spark):
    import numpy as np
    from sonar_spark.config import AlignmentConfig
    from sonar_spark.operators.align import align_pairs

    rng = np.random.default_rng(17)
    a = rng.standard_normal(200)
    rows = [("same", a.tolist(), a.tolist()),
            ("short", a.tolist(), a[:100].tolist())]
    df = spark.createDataFrame(
        rows, "pair_id string, series_a array<double>, series_b array<double>"
    )
    out = {r["pair_id"]: r for r in align_pairs(df, AlignmentConfig(max_lag=32)).collect()}
    assert abs(out["same"]["time_stretch"] - 1.0) < 1e-9
    assert out["short"]["time_stretch"] < 0.9


def test_envelope_hilbert(spark):
    """Central-difference Hilbert approximation (envelope.go:76-103)
    vs an explicit loop, incl. edge and single-row behavior."""
    import numpy as np
    from pyspark.sql import functions as F

    from sonar_spark.operators.temporal import envelope_hilbert

    rng = np.random.default_rng(61)
    x = rng.standard_normal(40)
    rows = [("d1", i, float(v)) for i, v in enumerate(x)]
    rows.append(("single", 0, 5.0))
    df = spark.createDataFrame(rows, "doc_id string, pos int, v double")
    got = {
        (r["doc_id"], r["pos"]): r["envelope"]
        for r in envelope_hilbert(df).collect()
    }
    for i in range(40):
        if i == 0:
            imag = x[1] - x[0]
        elif i == len(x) - 1:
            imag = x[i] - x[i - 1]
        else:
            imag = (x[i + 1] - x[i - 1]) / 2.0
        assert np.isclose(got[("d1", i)], np.sqrt(x[i] ** 2 + imag ** 2),
                          rtol=1e-12), i
    assert got[("single", 0)] == 5.0  # imag defined 0 for 1-row groups


def test_track_pitch_sequence_reference_semantics():
    """Scalar pitch-stream post-processor vs hand-computed
    expectations (pitch_detection.go:767-1010): octave correction
    first-ratio break + strictly-farther swap, the gate ordering,
    3-median / exponential smoothing, CV stability, and the 20-deep
    history cap (not reachable on the <= 18-frame parquet docs)."""
    import math

    # median: zeros dropped, even count averages the middle two
    assert _median_positive([0.0, 4.0, 2.0]) == 3.0
    assert _median_positive([3.0, 1.0, 2.0]) == 2.0
    assert _median_positive([0.0, 0.0]) == 0.0

    # frame 0: no history, no smoothing, stability 0
    out = track_pitch_sequence([(8.0, 0.9)])
    assert out == [(8.0, 8.0, 1.0, 0.9 * 0.8, 0.0)]

    # frame 1: exponential smoothing 0.3*p + 0.7*prev (history of 2)
    out = track_pitch_sequence([(8.0, 0.9), (6.0, 0.9)])
    assert out[1][1] == 0.3 * 6.0 + 0.7 * 8.0

    # octave correction: med of [6.4,6.4,6.4] = 6.4; raw 32/11 is
    # within 10% of 6.4*0.5 = 3.2 and farther from the median ->
    # swapped to 3.2, f0_multiple 0.5; salience band boost applies
    # to the corrected pitch (0.8 <= 3.2 <= 3.2 -> *1.2)
    raw = 32.0 / 11.0
    seq = [(6.4, 0.9)] * 3 + [(raw, 0.9)]
    pc, sm, f0m, sal, st = track_pitch_sequence(seq)[3]
    assert (pc, f0m) == (3.2, 0.5)
    assert sal == min(0.9 * 1.2, 1.0)
    # smoothing: median of last 3 history entries [6.4, 6.4, 3.2]
    assert sm == 6.4

    # exact-ratio hit breaks WITHOUT swapping (|p-med| == |e-med|)
    seq = [(6.4, 0.9)] * 3 + [(3.2, 0.9)]
    pc, _, f0m, _, _ = track_pitch_sequence(seq)[3]
    assert (pc, f0m) == (3.2, 1.0)

    # gate zeroes the history value AFTER correction/salience
    seq = [(6.4, 0.9)] * 3 + [(raw, 0.4)]
    pc, sm, f0m, sal, st = track_pitch_sequence(seq)[3]
    assert pc == 0.0 and f0m == 0.5  # correction ran, then gated
    assert sal == min(0.4 * 1.2, 1.0)
    # smoothing median drops the zero: median of [6.4, 6.4] = 6.4
    assert sm == 6.4

    # stability = 1 - cv over positive history (sample std)
    seq = [(6.0, 0.9), (8.0, 0.9), (10.0, 0.9)]
    st = track_pitch_sequence(seq)[2][4]
    vals = [6.0, 8.0, 10.0]
    mean = sum(vals) / 3
    sd = math.sqrt(sum((x - mean) ** 2 for x in vals) / 2)
    assert abs(st - (1.0 - sd / mean)) < 1e-12

    # history cap: 25 identical frames then a shift — the median
    # window only ever sees the last 20 entries
    seq = [(4.0, 0.9)] * 25
    out = track_pitch_sequence(seq)
    assert out[-1] == (4.0, 4.0, 1.0, 0.9, 1.0)
    # internal: stability over capped history stays exactly 1 (cv=0)
    seq = [(16.0, 0.9)] * 22 + [(4.0, 0.9)]
    st_last = track_pitch_sequence(seq)[-1][4]
    valid = [16.0] * 19 + [4.0]
    mean = sum(valid) / 20
    sd = math.sqrt(sum((x - mean) ** 2 for x in valid) / 19)
    assert abs(st_last - max(0.0, 1.0 - sd / mean)) < 1e-12


def test_pitch_track_state_survives_arrow_batch_splits(spark):
    """mapInPandas splits one partition into many Arrow batches; a
    doc whose frames straddle a batch boundary must keep its history
    (the r1 as-of bug class).  Force 16-row batches over 3 docs x
    40 frames and compare against the scalar kernel."""
    import numpy as np

    rng = np.random.default_rng(3)
    docs = {
        d: [
            (float(round(32.0 / float(t), 6)), float(c))
            for t, c in zip(
                rng.integers(2, 12, size=40),
                np.round(rng.uniform(0.3, 0.95, size=40), 6),
            )
        ]
        for d in (1, 2, 3)
    }
    rows = [
        (d, f, p, c)
        for d, det in docs.items()
        for f, (p, c) in enumerate(det)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, frame_idx long, pitch double,"
        " confidence double"
    )
    old = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    try:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "16"
        )
        got = {
            (r["doc_id"], r["frame_idx"]): (
                r["pitch_corrected"], r["pitch"], r["f0_multiple"],
                r["salience"], r["stability"],
            )
            for r in pitch_track(df.repartition(1)).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    for d, det in docs.items():
        want = track_pitch_sequence(det)
        for f, w in enumerate(want):
            assert got[(d, f)] == w, (d, f)


def test_pitch_track_short_median_filter_falls_back_to_exponential():
    """A history shorter than the 3-frame median window: the Go's
    getRecentPitches(MedianFilter) holds fewer than 3 entries, so
    applyTemporalSmoothing falls through to exponential smoothing
    (pitch_detection.go:905-921) — a median of 1-2 entries must NOT
    be taken (round-4 advice)."""
    seq = [(8.0, 0.9), (6.0, 0.9), (4.0, 0.9), (2.0, 0.9)]
    out = track_pitch_sequence(seq)
    # history of 2: exponential, sm = .3 p + .7 prev_sm
    assert out[1][1] == 0.3 * 6.0 + 0.7 * 8.0
    # the median is taken once history >= 3
    assert out[3][1] == 4.0  # median of last 3 gated pitches [6,4,2]
