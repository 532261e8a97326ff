"""Buffer primitives (buffers.go) vs scalar Go-port loops, and the
binary decode functions (decoder.go bytesToFloat64 / DecodeURL
analog)."""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import functions as F

from sonar_spark.functions.binary import bytes_to_float64
from sonar_spark.operators.buffers import (
    delay_line,
    delay_line_interpolated,
    overlap_add,
)


def _go_delay_line(xs, delay, size=64):
    """Line-for-line port of buffers.go:189-204 Process."""
    buf = [0.0] * size
    wp = 0
    out = []
    for x in xs:
        d = min(delay, size - 1)
        rp = (wp - d + size) % size
        out.append(buf[rp])
        buf[wp] = x
        wp = (wp + 1) % size
    return out


def _go_delay_interp(xs, delay, size=64):
    """Port of buffers.go:206-230 ProcessInterpolated."""
    buf = [0.0] * size
    wp = 0
    out = []
    for x in xs:
        d = min(delay, float(size - 1))
        intd = int(d)
        frac = d - intd
        rp1 = (wp - intd + size) % size
        rp2 = (wp - intd - 1 + size) % size
        out.append(buf[rp1] + frac * (buf[rp2] - buf[rp1]))
        buf[wp] = x
        wp = (wp + 1) % size
    return out


def _go_overlap_add(frames, W, H):
    """Port of buffers.go:260-291 AddFrame loop."""
    buf = [0.0] * W
    out = []
    for fr in frames:
        for i in range(W):
            buf[i] += fr[i]
        out.extend(buf[:H])
        if W - H > 0:
            buf = buf[H:] + [0.0] * H
        else:
            buf = [0.0] * W
    return out


def test_delay_line_matches_go(spark):
    rng = np.random.default_rng(7)
    xs = [float(x) for x in rng.integers(1, 20, size=40)]
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs)],
        "doc_id long, pos long, v double",
    )
    got = {
        r["pos"]: (r["delayed"], r["delayed_interp"])
        for r in delay_line_interpolated(
            delay_line(df),
        ).collect()
    }
    want_d = _go_delay_line(xs, 3)
    want_i = _go_delay_interp(xs, 2.5)
    for i in range(len(xs)):
        assert got[i][0] == want_d[i], i
        assert abs(got[i][1] - want_i[i]) < 1e-12, i


def test_overlap_add_matches_go(spark):
    rng = np.random.default_rng(11)
    W, H = 16, 4
    xs = [float(x) for x in rng.integers(1, 9, size=37)]
    nf = (len(xs) - W) // H + 1
    frames = [
        [xs[f * H + j] * (j + 1) for j in range(W)] for f in range(nf)
    ]
    df = spark.createDataFrame(
        [(1, f, frames[f]) for f in range(nf)],
        "doc_id long, frame_idx long, window array<double>",
    )
    got = {
        r["pos"]: r["value"]
        for r in overlap_add(df).collect()
    }
    want = _go_overlap_add(frames, W, H)
    assert len(got) == len(want) == nf * H
    for p, wv in enumerate(want):
        assert abs(got[p] - wv) < 1e-12, p


def test_bytes_to_float64_decoder_semantics():
    vals = [1.5, -2.25, 1e300, 0.0]
    raw = b"".join(struct.pack("<d", v) for v in vals)
    assert list(bytes_to_float64(raw)) == vals
    # trim to a multiple of 8 (decoder.go:851-854)
    assert list(bytes_to_float64(raw + b"\x01\x02\x03")) == vals
    # nil branches
    assert len(bytes_to_float64(b"")) == 0
    assert len(bytes_to_float64(b"\xff" * 7)) == 0
    assert len(bytes_to_float64(None)) == 0


def test_fetch_payloads_integrity_and_missing(spark, tmp_path):
    import hashlib

    from sonar_spark.functions.binary import fetch_payloads

    raw = struct.pack("<dd", 3.5, 4.5)
    p = tmp_path / "a.f64"
    p.write_bytes(raw)
    sha = hashlib.sha256(raw).hexdigest()
    rows = [
        (0, f"file://{p}", sha),                      # good
        (1, f"file://{p}", hashlib.sha256(b"x").hexdigest()),  # corrupt
        (2, f"file://{tmp_path}/missing.f64", sha),   # missing file
    ]
    df = spark.createDataFrame(
        rows, "media_id long, uri string, sha256 string"
    )
    got = {r["media_id"]: r for r in fetch_payloads(df).collect()}
    assert got[0]["ok"] and got[0]["n_samples"] == 2
    assert got[0]["mean"] == 4.0 and got[0]["first"] == 3.5
    assert not got[1]["ok"] and got[1]["mean"] is None
    assert not got[2]["ok"]


def test_bytes_to_float64_roundtrip_hypothesis():
    """Property: decode(pack(v) + junk) == v for arbitrary float64
    payloads (NaN/inf/-0.0 included) and any junk tail < 8 bytes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.floats(allow_nan=True, allow_infinity=True, width=64),
            max_size=40,
        ),
        st.binary(max_size=7),
    )
    def check(vals, junk):
        raw = np.asarray(vals, dtype="<f8").tobytes() + junk
        out = bytes_to_float64(raw)
        assert len(out) == len(vals)
        a = np.asarray(vals, dtype=np.float64)
        same = (out == a) | (np.isnan(out) & np.isnan(a))
        assert same.all()
        # sign of zero preserved (bit-level decode)
        assert (np.signbit(out) == np.signbit(a)).all()

    check()


def test_content_features_match_bruteforce():
    """The cumsum-based content kernel equals a literal fold-order
    Python port on random token arrays (the ascending-accumulation
    bit-identity claim, checked directly)."""
    import math

    from sonar_spark.operators.content import _features_one

    rng = np.random.default_rng(23)
    for n in (1, 2, 3, 7, 8, 9, 16, 17, 31, 32, 33, 50, 100):
        s = rng.integers(1, 15, size=n).astype(np.float64)
        got = _features_one(s)
        # brute-force reference: explicit sequential folds
        mean = 0.0
        for x in s:
            mean += x
        mean /= n
        c = [x - mean for x in s]
        if n > 1:
            cross = sum(
                1
                for i in range(1, n)
                if (c[i - 1] >= 0 and c[i] < 0)
                or (c[i - 1] < 0 and c[i] >= 0)
            )
            zcr = cross / (n - 1)
        else:
            zcr = 0.0
        assert got[0] == zcr, n
        ws = min(n, 32)
        nb = ws // 2 + 1
        spec = []
        for k in range(nb):
            re = im = 0.0
            for j in range(ws):
                ang = -2.0 * np.pi * k * j / ws
                re += c[j] * math.cos(ang)
                im += c[j] * math.sin(ang)
            spec.append(np.floor(math.sqrt(re * re + im * im) * 1e6 + 0.5) / 1e6)
        wsum = msum = 0.0
        for k in range(nb):
            wsum += k * 32.0 / (nb * 2) * spec[k]
            msum += spec[k]
        cen = np.floor(wsum / msum * 1e6 + 0.5) / 1e6 if msum != 0 else 0.0
        assert got[1] == cen, n
