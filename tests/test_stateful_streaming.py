"""Stateful streaming featurizer: chunked arrival across micro-batches
must reproduce the batch featurizer's frames exactly (carry-over
buffer semantics of the reference STFTStreamer)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sonar_spark import datagen
from sonar_spark.config import FrameConfig
from sonar_spark.operators.features import frame_features_arrow
from sonar_spark.streaming.replay import replay
from sonar_spark.streaming.stateful import stream_frame_features

CFG = FrameConfig(window=64, hop=16)


def test_stream_equals_batch(spark):
    # 6 docs split into 3 chunks -> 3 micro-batches
    rng = np.random.default_rng(23)
    docs = {f"d{i}": rng.integers(0, 5000, size=200 + 30 * i).tolist()
            for i in range(6)}
    n_chunks = 3
    chunks = []
    for ci in range(n_chunks):
        rows = []
        for d, toks in docs.items():
            per = len(toks) // n_chunks
            lo = ci * per
            hi = (ci + 1) * per if ci < n_chunks - 1 else len(toks)
            rows.append((d, ci, toks[lo:hi]))
        chunks.append(spark.createDataFrame(
            rows, "doc_id string, chunk_idx long, tokens array<long>"
        ))

    out = replay(chunks, lambda s: stream_frame_features(s, CFG), "append")
    got = {
        (r["doc_id"], r["frame_idx"]): (r["rms_energy"], r["mean"], r["std"])
        for r in out.collect()
    }

    batch_in = spark.createDataFrame(
        [(d, t, len(t), "web") for d, t in docs.items()],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    want = {
        (r["doc_id"], r["frame_idx"]): (r["rms_energy"], r["mean"], r["std"])
        for r in frame_features_arrow(batch_in, CFG).collect()
    }
    assert set(got) == set(want)
    assert len(got) > 50
    for k in want:
        np.testing.assert_allclose(got[k], want[k], rtol=1e-12)


def test_stream_pitch_track_equals_batch(spark):
    """Streaming pitch post-processor across micro-batches ==
    the batch pitch_track operator (ProcessAudioStream's persistent
    detector state reproduced in GroupState)."""
    from sonar_spark.operators.temporal import pitch_track
    from sonar_spark.streaming.stateful import stream_pitch_track

    rng = np.random.default_rng(41)
    # per-doc frame detections: lattice pitches (32/tau) with
    # confidences straddling the 0.5 gate, long enough to cross the
    # 20-deep history cap
    docs = {}
    for i in range(5):
        n = 24 + 3 * i
        taus = rng.integers(2, 12, size=n)
        confs = np.round(rng.uniform(0.3, 0.95, size=n), 6)
        docs[f"d{i}"] = [
            (float(round(32.0 / float(t), 6)), float(c))
            for t, c in zip(taus, confs)
        ]
    n_chunks = 3
    chunks = []
    for ci in range(n_chunks):
        rows = []
        for d, det in docs.items():
            per = len(det) // n_chunks
            lo = ci * per
            hi = (ci + 1) * per if ci < n_chunks - 1 else len(det)
            rows += [
                (d, f, p, c) for f, (p, c) in enumerate(det) if lo <= f < hi
            ]
        chunks.append(spark.createDataFrame(
            rows,
            "doc_id string, frame_idx long, pitch double,"
            " confidence double",
        ))

    got = {
        (r["doc_id"], r["frame_idx"]): (
            r["pitch_corrected"], r["pitch"], r["f0_multiple"],
            r["salience"], r["stability"],
        )
        for r in replay(chunks, stream_pitch_track, "append").collect()
    }

    batch_in = spark.createDataFrame(
        [
            (int(d[1:]), f, p, c)
            for d, det in docs.items()
            for f, (p, c) in enumerate(det)
        ],
        "doc_id long, frame_idx long, pitch double, confidence double",
    )
    want = {
        (f"d{r['doc_id']}", r["frame_idx"]): (
            r["pitch_corrected"], r["pitch"], r["f0_multiple"],
            r["salience"], r["stability"],
        )
        for r in pitch_track(batch_in).collect()
    }
    assert set(got) == set(want)
    assert len(got) == sum(len(v) for v in docs.values())
    for k in want:
        assert got[k] == want[k], k  # bit-identical, same kernel


def test_stream_backfill_equals_batch(spark, monkeypatch):
    """Streaming causal backfill == the ffill columns of the batch
    operator, under two DIFFERENT time chunkings (2 and 4 ranges),
    including duplicate-second ties and multi-cell gaps."""
    from sonar_spark.operators import backfill
    from sonar_spark.operators.backfill import backfill_grid
    from sonar_spark.streaming.stateful import stream_backfill

    step = 256
    monkeypatch.setattr(backfill, "_STEP", step)
    rng = np.random.default_rng(31)
    rows = []
    eid = 0
    for e in range(6):
        ts = sorted(int(t) for t in rng.integers(0, 8000, size=25))
        ts[3] = ts[2]  # duplicate-second tie
        for t in ts:
            rows.append((eid, t, float(np.round(rng.random() * 50, 2)), e))
            eid += 1
    ev_batch = spark.createDataFrame(
        rows, "event_id long, tsec long, value double, user_id long"
    ).select(
        "event_id",
        F.timestamp_seconds("tsec").alias("ts"),
        "value",
        "user_id",
    )
    want = {
        (r["user_id"], r["grid_ts"]): (
            r["ffill_value"], r["ffill_age_s"], r["n_obs"]
        )
        for r in backfill_grid(ev_batch).select(
            "user_id", "grid_ts", "ffill_value", "ffill_age_s", "n_obs"
        ).collect()
    }

    for n_chunks in (2, 4):
        bounds = [0, *(2000 * (i + 1) for i in range(n_chunks - 1)), 10**9]
        users = sorted({r[3] for r in rows})
        chunks = []
        for ci in range(n_chunks):
            chunk = [
                (u, t, v, i)
                for i, t, v, u in rows
                if bounds[ci] <= t < bounds[ci + 1]
            ]
            if ci == n_chunks - 1:
                chunk += [(u, 10**10, 0.0, -1) for u in users]
            chunks.append(spark.createDataFrame(
                chunk, "user_id long, t long, v double, eid long"
            ))
        out = replay(chunks, lambda s: stream_backfill(s, step=step), "append")
        got = {
            (r["user_id"], r["grid_ts"]): (
                None if r["ffill_value"] is None
                else round(r["ffill_value"], 6),
                r["ffill_age_s"],
                r["n_obs"],
            )
            for r in out.collect()
        }
        assert got == want, (n_chunks, len(got), len(want))


def test_stream_asof_equals_batch(spark):
    """Streaming point-in-time join == the batch union as-of plan,
    at 2 and 4 time chunkings, incl. equal-ts inclusive matches and
    duplicate-ts version ties."""
    from sonar_spark.operators.asof import asof_join
    from sonar_spark.streaming.stateful import stream_asof

    rng = np.random.default_rng(41)
    rows = []  # (user, t, side, eid, v)
    eid = 0
    for u in range(5):
        for _ in range(30):
            t = int(rng.integers(0, 5000))
            side = int(rng.integers(0, 2))
            rows.append((u, t, side, eid, float(np.round(rng.random() * 9, 2))))
            eid += 1
    # planted edge cases: equal-ts ref+query, duplicate-ts refs
    rows += [
        (0, 777, 0, eid, 1.25), (0, 777, 1, eid + 1, 0.0),
        (1, 888, 0, eid + 2, 3.5), (1, 888, 0, eid + 3, 4.5),
        (1, 888, 1, eid + 4, 0.0),
    ]

    left = spark.createDataFrame(
        [(e, u, t) for u, t, s, e, v in rows if s == 1],
        "event_id long, entity string, ts long",
    ).withColumn("entity", F.concat(F.lit("u"), "entity"))
    right = spark.createDataFrame(
        [(u, t, e, v) for u, t, s, e, v in rows if s == 0],
        "entity string, rts long, ref_version long, val double",
    ).groupBy(
        F.concat(F.lit("u"), "entity").alias("entity"),
        F.col("rts").alias("ref_ts"),
    ).agg(
        F.max("ref_version").alias("ref_version"),
        F.max_by("val", "ref_version").alias("ref_features"),
    )
    want = {
        r["event_id"]: (
            r["matched_ref_ts"], r["ref_version"], r["ref_features"]
        )
        for r in asof_join(
            left, right, key="entity", left_ts="ts",
            payload=("ref_features",), strategy="union",
        ).collect()
    }

    for n_chunks in (2, 4):
        bounds = [0, *(1250 * (i + 1) for i in range(n_chunks - 1)), 10**9]
        chunks = [
            spark.createDataFrame(
                [
                    (u, t, s, e, v)
                    for u, t, s, e, v in rows
                    if bounds[ci] <= t < bounds[ci + 1]
                ],
                "user_id long, t long, side int, eid long, v double",
            )
            for ci in range(n_chunks)
        ]
        got = {
            r["event_id"]: (
                r["matched_ref_ts"], r["ref_version"], r["ref_value"]
            )
            for r in replay(chunks, stream_asof, "append").collect()
        }
        assert got == want, (n_chunks, len(got), len(want))
