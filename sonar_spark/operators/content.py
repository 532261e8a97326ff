"""Acoustic content-detector feature kernel
(fingerprint/content_detector.go DetectFromAudio :72-121 +
extractAcousticFeatures :120-154) — the numpy twin of the pure-
Catalyst expression version that shipped in round 4.

Why a kernel: the Catalyst form is all higher-order array lambdas
(aggregate/transform folds), which Spark evaluates INTERPRETED per
element — the O(W^2) basic DFT alone is ~1 ms/doc.  The kernel does
the same math at numpy speed with the SAME float semantics:

- every sum that the Catalyst fold performed j-ascending is computed
  with `cumsum()[-1]` (numpy's cumulative sum is a sequential scan,
  so the addition ORDER is bit-identical to the fold);
- the 6-dp quantization boundaries (DFT magnitudes, centroid,
  dynamic range) round half-up inside the kernel exactly where the
  Catalyst version rounded, so downstream peak picking and threshold
  compares see identical values;
- cos/sin/log10 come from libm (numpy) instead of the JVM — the same
  engine difference the DuckDB oracle already tolerates, absorbed by
  the 6-dp boundary (verified bit-equal on the full corpus before
  the swap).

Token analog scalings are documented on the driver query
(__spark_entry__.q_content_detect)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..session import map_rows

FEATURES_SCHEMA = (
    "doc_id long, zcr double, cen double, ev double, sil double, "
    "dr double, lowr double, highr double, hr double, ts double"
)


def _r6(x: float) -> float:
    """Half-up 6-dp round for non-negative values (the F.round
    boundary; ties are measure-zero on these transcendentals and
    verified empirically against the Catalyst/DuckDB sides)."""
    return np.floor(x * 1e6 + 0.5) / 1e6


def _asc_sum(a: np.ndarray) -> float:
    """Ascending-order float64 sum — bit-identical to the Catalyst
    aggregate fold (cumsum is a sequential scan)."""
    if len(a) == 0:
        return 0.0
    return float(np.cumsum(a)[-1])


def _centred_zcr(s: np.ndarray) -> tuple[int, np.ndarray, float]:
    """(n, the mean-centred series, its zero-crossing rate by the Go
    sign-boundary rule: a crossing is a step between >= 0 and < 0)."""
    n = len(s)
    c = s - _asc_sum(s) / n
    if n > 1:
        prv, cur = c[:-1], c[1:]
        cross = int(
            (((prv >= 0) & (cur < 0)) | ((prv < 0) & (cur >= 0))).sum()
        )
        return n, c, cross / float(n - 1)
    return n, c, 0.0


def _features_one(s: np.ndarray) -> tuple:
    n, c, zcr = _centred_zcr(s)

    # basic DFT over the first min(32, n) centered values, 6-dp bins
    ws = min(n, 32)
    w = c[:ws]
    nb = ws // 2 + 1
    j = np.arange(ws, dtype=np.float64)
    spec = np.empty(nb, dtype=np.float64)
    for k in range(nb):
        ang = -2.0 * np.pi * float(k)
        arg = ang * j / float(ws)
        re = _asc_sum(w * np.cos(arg))
        im = _asc_sum(w * np.sin(arg))
        spec[k] = _r6(float(np.sqrt(re * re + im * im)))

    # centroid over the rounded spectrum, freq = k * 32 / (nb * 2)
    ks = np.arange(nb, dtype=np.float64)
    wsum = _asc_sum(ks * 32.0 / float(nb * 2) * spec)
    msum = _asc_sum(spec)
    cen = _r6(wsum / msum) if msum != 0 else 0.0

    # energy/silence frames W=16 H=8
    nfs = (n - 17) // 8 + 1 if n > 16 else 0
    es = np.array(
        [
            _asc_sum(c[f * 8 : f * 8 + 16] ** 2) / 16.0
            for f in range(nfs)
        ],
        dtype=np.float64,
    )
    ne = len(es)
    if n >= 32 and ne > 1:
        emean = _asc_sum(es) / ne
        ev = _asc_sum((es - emean) ** 2) / ne
    else:
        ev = 0.0
    sil = float((np.sqrt(es) < 0.01).sum()) / ne if ne > 0 else 0.0

    # dynamic range over |c|
    absc = np.abs(c)
    maxv = float(absc.max())
    pos = absc[absc > 1e-10]
    if len(pos) > 0 and float(pos.min()) > 0:
        dr = _r6(20.0 * float(np.log10(maxv / float(pos.min()))))
    else:
        dr = 0.0

    # low/high frequency energy ratio, split at nb // 4
    sp = nb // 4
    lowe = _asc_sum(spec[:sp] ** 2)
    highe = _asc_sum(spec[sp:] ** 2)
    tote = lowe + highe
    lowr = lowe / tote if tote != 0 else 0.0
    highr = highe / tote if tote != 0 else 0.0

    # harmonic ratio from spectrum peaks (0-based peak index p in
    # [2, nb-3], strict > against p-2..p+2 neighbors)
    pk: list[int] = []
    if nb >= 5:
        for p in range(2, nb - 2):
            v = spec[p]
            if (
                v > spec[p - 1]
                and v > spec[p + 1]
                and v > spec[p - 2]
                and v > spec[p + 2]
            ):
                pk.append(p)
    if nb >= 10 and len(pk) >= 2:
        f0b = float(pk[0])
        hp = 0
        for p in pk[1:]:
            r = float(p) / f0b
            if abs(r - np.floor(r + 0.5)) < 0.1:
                hp += 1
        hr = hp / float(len(pk) - 1)
    else:
        hr = 0.0

    # temporal stability, frame = 3
    nft = (n - 4) // 3 + 1 if n > 3 else 0
    fe = np.array(
        [_asc_sum(c[f * 3 : f * 3 + 3] ** 2) for f in range(nft)],
        dtype=np.float64,
    )
    nfe = len(fe)
    if n >= 9 and nfe > 1:
        fmean = _asc_sum(fe) / nfe
        fvar = _asc_sum((fe - fmean) ** 2) / nfe
        ts = (
            max(0.0, 1.0 - float(np.sqrt(fvar)) / fmean)
            if fmean > 0
            else 0.0
        )
    else:
        ts = 0.0

    return (zcr, cen, ev, sil, dr, lowr, highr, hr, ts)


def content_features(tokens: DataFrame) -> DataFrame:
    """tokens(doc_id long, tokens array<int|long>) -> the nine
    acoustic detector features per doc (Arrow-batched)."""
    return map_rows(
        tokens,
        lambda did, tok: [
            (did, *_features_one(np.asarray(tok, dtype=np.float64)))
        ],
        FEATURES_SCHEMA,
    )


GATE_SCHEMA = "doc_id long, is_speech boolean"


def _gate_one(s: np.ndarray) -> bool:
    """detectSpeech gate (speech_analysis.go:105-133 + :165-207) in
    the token analog documented on __spark_entry__.q_speech_analysis:
    min length 8, re-centred ZCR band [0.3, 0.7], RMS >= 0.001, and
    the 32-token periodicity frame with lag band 2..12 (per-lag
    correlations and the frame energy 6-dp rounded before the ratio
    compare — the quantized cross-engine interface)."""
    n, c, zcr = _centred_zcr(s)
    rms_full = float(np.sqrt(_asc_sum(c * c) / n))
    if not (n >= 8 and 0.3 <= zcr <= 0.7 and rms_full >= 0.001):
        return False
    if n < 32:
        return False
    fen = _r6(_asc_sum(c[:32] ** 2) / 32.0)
    if fen <= 0:
        return False
    maxc = -np.inf
    for lag in range(2, 13):
        m = 32 - lag
        corr = _r6s(_asc_sum(c[:m] * c[lag : lag + m]) / float(m))
        maxc = max(maxc, corr)
    return bool(maxc / fen > 0.1)


def _r6s(x: float) -> float:
    """Signed half-up 6-dp round (HALF_UP rounds away from zero for
    negatives, matching Spark's BigDecimal ROUND_HALF_UP)."""
    return (
        np.floor(x * 1e6 + 0.5) / 1e6
        if x >= 0
        else -(np.floor(-x * 1e6 + 0.5) / 1e6)
    )


def speech_gate(tokens: DataFrame) -> DataFrame:
    """tokens(doc_id long, tokens array<int|long>) -> is_speech per
    doc (Arrow-batched detectSpeech gate)."""
    return map_rows(
        tokens,
        lambda did, tok: [(did, _gate_one(np.asarray(tok, dtype=np.float64)))],
        GATE_SCHEMA,
    )
