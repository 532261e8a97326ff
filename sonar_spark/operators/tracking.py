"""Harmonic tracking (harmonic/harmonic_tracking.go:214-560).

The reference's peak-based tracker is a genuinely sequential
per-signal state machine: per frame, existing tracks (in creation
order) greedily claim their best-scoring current peak — score =
0.6 exp(-|df|/50) + 0.3 exp(-|da|/20), strict max over peaks in
order, > 0.2 (findBestPeakMatch :368-407), a claim failing if the
peak is already used (:316-325) — then unclaimed peaks with
magnitude >= 0.3 birth new sequential-ID tracks while the count of
still-unmatched previous-frame tracks is < 20 (:409-447, the
countActiveTracks quirk reproduced as written: continued and
newly-born tracks are NOT counted).  A track is only continuable
while EndFrame == frame-1, so the MaxGapLength revival logic is
unreachable (reproduced by omission); tracks shorter than
MinTrackLength = 3 points are dropped at finalize (:547-557).

Spark shape: applyInArrow per signal — each signal's track state is
independent, so signals are the parallel unit (the same shape as the
alignment kernels, SURVEY §4.3 [UDF]); peak counts per frame are
bounded, so the per-group loop is O(frames x tracks x peaks) with
tiny constants.  Inputs are pre-rounded to 6 dp and the match scores
are rounded to 6 dp before comparison so the DuckDB oracle (a
recursive-CTE port of the same state machine) agrees on every
argmax.

Output: one row per kept track point (key, track_id, frame_idx,
freq, mag, point_idx) — track statistics (duration, stddev, slope,
continuity, salience; harmonic_tracking.go:534-560 + :561-650) are
relational aggregations over these rows, kept in the companion
stats query.  Temporal smoothing (:652-668) modifies only the
reported arrays, never the statistics (computed first); the raw
series is the relational surface.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

MIN_TRACK_LENGTH = 3
MIN_CONFIDENCE = 0.2
BIRTH_THRESHOLD = 0.3
MAX_HARMONICS = 20
MAX_FREQ_DEV = 50.0
MAX_AMP_DEV = 20.0
FREQ_W = 0.6
AMP_W = 0.3


def track_peaks_sequence(frames: list[tuple[int, list[tuple[float, float]]]]):
    """Scalar port of updateTracksPeakBased over (frame, peaks)
    pairs; peaks ordered (mag desc, freq asc).  Returns kept tracks
    as (track_id, [(frame, freq, mag), ...]) with len >= 3."""
    tracks: list[dict] = []
    next_id = 1
    for f, peaks in frames:
        used: set[int] = set()
        for tr in tracks:
            if tr["endf"] != f - 1:
                continue
            best, best_score = -1, -1.0
            for i, (pf, pm) in enumerate(peaks):
                score = round(
                    FREQ_W * math.exp(-abs(pf - tr["lastf"]) / MAX_FREQ_DEV)
                    + AMP_W * math.exp(-abs(pm - tr["lasta"]) / MAX_AMP_DEV),
                    6,
                )
                if score > best_score and score > MIN_CONFIDENCE:
                    best_score, best = score, i
            if best != -1 and best not in used:
                pf, pm = peaks[best]
                tr["lastf"], tr["lasta"], tr["endf"] = pf, pm, f
                tr["points"].append((f, pf, pm))
                used.add(best)
        for i, (pf, pm) in enumerate(peaks):
            if i in used or pm < BIRTH_THRESHOLD:
                continue
            active = sum(1 for t in tracks if t["endf"] == f - 1)
            if active >= MAX_HARMONICS:
                continue
            tracks.append(
                {
                    "id": next_id,
                    "lastf": pf,
                    "lasta": pm,
                    "endf": f,
                    "points": [(f, pf, pm)],
                }
            )
            next_id += 1
    return [
        (t["id"], t["points"])
        for t in tracks
        if len(t["points"]) >= MIN_TRACK_LENGTH
    ]


def harmonic_tracks(peaks: DataFrame) -> DataFrame:
    """Per-key harmonic tracks from a spectral-peak table.  Output:
    doc_id, track_id, frame_idx, freq, mag, point_idx."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from ..session import arrow_batch, arrow_schema

    inp = peaks.select(
        F.col("doc_id").alias("__k"),
        F.col("frame_idx").alias("__f").cast("int"),
        F.round(F.col("refined_freq"), 6).alias("__pf"),
        F.round(F.col("refined_mag"), 6).alias("__pm"),
    )
    out_schema = (
        "doc_id long, track_id int, frame_idx int, freq double,"
        " mag double, point_idx int"
    )
    out = arrow_schema(out_schema)

    def run(t):
        ks, fs, pfs, pms = (c.to_numpy().tolist() for c in t.columns)
        by_frame: dict[int, list[tuple[float, float]]] = {}
        for f, pf, pm in zip(fs, pfs, pms):
            by_frame.setdefault(f, []).append((pf, pm))
        frames = []
        for f in range(max(by_frame) + 1):
            ps = sorted(by_frame.get(f, []), key=lambda p: (-p[1], p[0]))
            frames.append((f, ps))
        rows = [
            (ks[0], tid, f, pf, pm, idx)
            for tid, pts in track_peaks_sequence(frames)
            for idx, (f, pf, pm) in enumerate(pts)
        ]
        return pa.Table.from_batches([arrow_batch(out, zip(*rows))])

    return inp.groupBy("__k").applyInArrow(run, out_schema)
