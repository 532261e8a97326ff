"""Obviously-correct loop oracles (FIXTURES.md #3 golden vectors).

Deliberately a *separate code path* from sonar_spark.kernels: plain
Python loops, no stride tricks, no FFT, no vectorization — so an
allclose match between engine output and these is meaningful.
"""

from __future__ import annotations

import math

import numpy as np


def frame_slices(tokens, window: int, hop: int):
    n = len(tokens)
    out = []
    i = 0
    while i * hop + window <= n:
        out.append([float(t) for t in tokens[i * hop : i * hop + window]])
        i += 1
    return out


def frame_features_golden(tokens, window: int, hop: int, entropy_bins: int = 16):
    """Per-frame feature dicts, loop implementation."""
    frames = frame_slices(tokens, window, hop)
    rows = []
    prev = None
    for idx, f in enumerate(frames):
        w = len(f)
        mean = sum(f) / w
        c = [x - mean for x in f]
        m2 = sum(x * x for x in c) / w
        m3 = sum(x**3 for x in c) / w
        m4 = sum(x**4 for x in c) / w
        std = math.sqrt(m2)
        skew = m3 / m2**1.5 if m2 > 0 else 0.0
        kurt = m4 / m2**2 - 3.0 if m2 > 0 else 0.0
        rms = math.sqrt(sum(x * x for x in f) / w)
        crest = max(abs(x) for x in f) / rms if rms > 0 else 0.0
        zc = 0
        for a, b in zip(c, c[1:]):
            if (a > 0) != (b > 0) or (a < 0) != (b < 0):
                zc += 1
        zcr = zc / (w - 1)
        if prev is None:
            flux = 0.0
        else:
            flux = math.sqrt(
                sum(max(0.0, a - b) ** 2 for a, b in zip(f, prev))
            )
        q25, q50, q75 = (_quantile_r7(f, p) for p in (0.25, 0.5, 0.75))
        ent = _entropy(f, entropy_bins)
        rows.append(
            dict(
                frame_idx=idx,
                rms_energy=rms,
                mean=mean,
                var=m2,
                std=std,
                skew=skew,
                kurt=kurt,
                min=min(f),
                max=max(f),
                crest=crest,
                zcr=zcr,
                flux=flux,
                p25=q25,
                p50=q50,
                p75=q75,
                entropy=ent,
                **spectral_golden(_histogram(f, entropy_bins)),
                **{
                    f"mfcc{i}": v
                    for i, v in enumerate(
                        mfcc_golden(_histogram(f, entropy_bins))
                    )
                },
            )
        )
        prev = f
    return rows


def _histogram(vals, bins):
    """Fixed-width per-frame histogram counts (the magnitude-spectrum
    analog: bin index = frequency, count = magnitude)."""
    lo, hi = min(vals), max(vals)
    if hi <= lo:
        hi = lo + 1.0
    counts = [0] * bins
    for v in vals:
        b = int((v - lo) / (hi - lo) * bins)
        counts[min(b, bins - 1)] += 1
    return counts


def _contrast_band_edges(B, n_bands=4):
    """spectral_contrast.go:140-188 initializeBands on the token
    axis: bin k has frequency k, so the nyquist is B - 1 and the
    200 Hz floor is bin 1.  The n_bands + 1 edges are log-spaced from
    the floor to the nyquist, so edge i is the bin of frequency
    nyquist^(i / n_bands), truncated, clamped to B - 1, and moved to
    one past its predecessor when not above it.  The truncation is
    done in integers: the largest k with k^n_bands <= nyquist^i."""
    nyquist = B - 1
    edges = []
    for i in range(n_bands + 1):
        k = 0
        while (k + 1) ** n_bands <= nyquist**i:
            k += 1
        edge = min(k, B - 1)
        edges.append(edge if not edges or edge > edges[-1] else edges[-1] + 1)
    return edges


def spectral_golden(counts):
    """Loop implementations of the spectral-analog per-frame family
    over histogram counts, formulas from the reference:
    spectral_centroid.go:18-41, spectral_rolloff.go:19-55,
    spectral_bandwidth.go:22-47, spectral_flatness.go:31-103,
    spectral_slope.go:24-66, spectral_contrast.go:26-137,
    power_spectrum.go:18-79."""
    B = len(counts)
    m = [float(c) for c in counts]
    w = sum(m)
    power = [x * x for x in m]

    centroid = sum(k * m[k] for k in range(B)) / w
    bandwidth = math.sqrt(sum((k - centroid) ** 2 * m[k] for k in range(B)) / w)

    total = sum(power)
    target = 0.85 * total
    cum = 0.0
    rolloff = float(B - 1)
    for k in range(B):
        cum += power[k]
        if cum >= target:
            rolloff = float(k)
            break

    nz = [x for x in m if x > 1e-10]
    geo = math.exp(sum(math.log(x) for x in nz) / len(nz)) if nz else 0.0
    arith = w / B
    flatness = min(geo / arith, 1.0) if arith > 1e-10 else 0.0
    flatness_db = 10.0 * math.log10(flatness) if flatness > 1e-10 else -100.0

    pts = [(math.log10(k), math.log10(m[k]))
           for k in range(1, B) if m[k] > 1e-10]
    if len(pts) >= 2:
        n = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        sxx = sum(p[0] * p[0] for p in pts)
        den = n * sxx - sx * sx
        slope = (n * sxy - sx * sy) / den if den != 0 else 0.0
    else:
        slope = 0.0

    edges = _contrast_band_edges(B)
    cons = []
    for bi in range(len(edges) - 1):
        band = sorted(power[edges[bi]: edges[bi + 1]])
        vc = max(1, int(0.2 * len(band)))
        valley = sum(band[:vc]) / vc
        peak = sum(band[len(band) - vc:]) / vc
        if peak <= 0:
            cons.append(0.0)
        else:
            cons.append(10.0 * math.log10(peak / max(valley, 1e-10)))
    contrast = sum(cons) / len(cons)

    tot_power = sum(power)
    log_power = sum(10.0 * math.log10(max(p, 1e-10)) for p in power) / B

    return dict(
        centroid=centroid, rolloff=rolloff, bandwidth=bandwidth,
        flatness=flatness, flatness_db=flatness_db, slope=slope,
        contrast=contrast, power=tot_power, log_power=log_power,
    )


def _quantile_r7(vals, p):
    s = sorted(vals)
    h = (len(s) - 1) * p
    k = int(math.floor(h))
    if k + 1 >= len(s):
        return float(s[-1])
    return s[k] + (h - k) * (s[k + 1] - s[k])


def _entropy(vals, bins):
    lo, hi = min(vals), max(vals)
    if hi <= lo:
        hi = lo + 1.0
    counts = [0] * bins
    for v in vals:
        b = int((v - lo) / (hi - lo) * bins)
        if b >= bins:
            b = bins - 1
        counts[b] += 1
    n = len(vals)
    ent = 0.0
    for cnt in counts:
        if cnt:
            p = cnt / n
            ent -= p * math.log2(p)
    return ent


def mfcc_golden(counts, num_filters=8, num_coeffs=6, lifter=22.0):
    """Loop MFCC over histogram counts (mfcc.go:113-164 + mel_scale.go:
    28-106 + dct mfcc.go:194-227 + lifter mfcc.go:230-245), fully
    independent of kernels (own mel/dct/lifter loops)."""
    B = len(counts)
    power = [float(c) * float(c) for c in counts]
    fft_size = 2 * (B - 1)
    sample_rate = fft_size
    low, high = 0.0, float(B - 1)

    def h2m(hz):
        return 2595.0 * math.log10(1.0 + hz / 700.0)

    def m2h(mel):
        return 700.0 * (10.0 ** (mel / 2595.0) - 1.0)

    lo, hi = h2m(low), h2m(high)
    step = (hi - lo) / (num_filters + 1)
    bins = []
    for i in range(num_filters + 2):
        hz = m2h(lo + i * step)
        b = int(math.floor((fft_size + 1.0) * hz / sample_rate + 0.5))
        bins.append(min(b, fft_size // 2))
    mel_spec = []
    for m in range(1, num_filters + 1):
        left, center, right = bins[m - 1], bins[m], bins[m + 1]
        acc = 0.0
        for k in range(left, min(center, B)):
            if center != left:
                acc += power[k] * (k - left) / (center - left)
        for k in range(center, min(right, B)):
            if right != center:
                acc += power[k] * (right - k) / (right - center)
        mel_spec.append(acc)
    logmel = [math.log(v) if v > 0 else math.log(1e-10) for v in mel_spec]
    coeffs = []
    for k in range(num_coeffs):
        acc = 0.0
        for n in range(num_filters):
            w = math.cos(math.pi * k * (n + 0.5) / num_filters)
            w *= math.sqrt((1.0 if k == 0 else 2.0) / num_filters)
            acc += logmel[n] * w
        if k > 0:
            acc *= 1.0 + (lifter / 2.0) * math.sin(math.pi * k / lifter)
        coeffs.append(acc)
    return coeffs


def asof_brute_force(left_rows, right_rows):
    """Quadratic last-<= matcher (FIXTURES.md #2 leakage oracle).

    left_rows: (entity, ts, ...); right_rows: (entity, ref_ts,
    ref_version, payload). Tie-break on equal ref_ts: max ref_version.
    Returns {(entity, ts): (ref_ts, ref_version) or None}."""
    out = {}
    for le, lts in left_rows:
        best = None
        for re_, rts, rv in right_rows:
            if re_ != le or rts > lts:
                continue
            if best is None or rts > best[0] or (rts == best[0] and rv > best[1]):
                best = (rts, rv)
        out[(le, lts)] = best
    return out


def jaccard_exact(a, b) -> float:
    """Exact Jaccard on >0-support sets (stats/distance.go:198-216)."""
    sa, sb = set(a), set(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def xcorr_naive(a, b, max_lag):
    """Time-domain zero-normalized CC, plain loops."""
    a = [float(x) for x in a]
    b = [float(x) for x in b]

    def zn(x):
        m = sum(x) / len(x)
        s = math.sqrt(sum((v - m) ** 2 for v in x) / len(x))
        return [(v - m) / s if s > 0 else v - m for v in x]

    za, zb = zn(a), zn(b)
    L = max(0, min(max_lag, len(a) - 1, len(b) - 1))
    lags, corr = [], []
    for lag in range(-L, L + 1):
        acc, cnt = 0.0, 0
        for t in range(len(a)):
            u = t + lag
            if 0 <= u < len(b):
                acc += za[t] * zb[u]
                cnt += 1
        lags.append(lag)
        corr.append(acc / cnt if cnt else 0.0)
    return np.array(lags), np.array(corr)


def dtw_naive(a, b):
    """Full (unbanded) DTW, plain loops, reproducing the reference
    arithmetic (dtw.go:106-233): plain-min step ("symmetric2" label),
    distance normalized by backtracked path length, backtrack ties
    prefer vertical then horizontal then diagonal.

    Returns (dist, path) where path is the list of (i-1, j-1) cells
    from the end-cell down to (0,0)-adjacent, reference order."""
    q, r = len(a), len(b)
    INF = float("inf")
    D = [[INF] * (r + 1) for _ in range(q + 1)]
    D[0][0] = 0.0
    for i in range(1, q + 1):
        for j in range(1, r + 1):
            c = abs(float(a[i - 1]) - float(b[j - 1]))
            D[i][j] = c + min(D[i - 1][j], D[i][j - 1], D[i - 1][j - 1])
    # backtrack (dtw.go:164-216)
    path = []
    i, j = q, r
    while i > 0 or j > 0:
        path.append((i - 1, j - 1))
        if i == 0:
            j -= 1
        elif j == 0:
            i -= 1
        else:
            cand = [(D[i - 1][j], i - 1, j), (D[i][j - 1], i, j - 1),
                    (D[i - 1][j - 1], i - 1, j - 1)]
            best = 0
            for k in (1, 2):
                if cand[k][0] < cand[best][0]:
                    best = k
            _, i, j = cand[best]
    path.reverse()
    return D[q][r] / len(path), path


# Reference percentile-method family (stats/percentiles.go:198-404).
# Each entry maps (n, q) -> h, the 1-based fractional order statistic;
# the value is then data[floor(h)-1] + frac * (data[ceil(h)-1] - ...).
# NOTE the reference's own labels vs textbook Hyndman-Fan numbers:
# "linear" (its default, percentiles.go:233-256) computes h=(n-1)q+1
# which is textbook R-7 despite the comment claiming R-6; "weighted"
# (:313-338) is h=nq (R-4-like); "median_unbiased" (:360-380) is
# h=(n+1)/3 + (n-1)q/3 (NOT textbook R-8); "normal_unbiased"
# (:383-404) is h=n/4 + 0.25 + q(n+0.5) (NOT textbook R-9). We
# reproduce the reference arithmetic exactly, deviations included.
_PCT_H = {
    "linear": lambda n, q: (n - 1) * q + 1.0,
    "weighted": lambda n, q: n * q,
    "r_default": lambda n, q: (n - 1) * q + 1.0,
    "median_unbiased": lambda n, q: (n + 1) / 3.0 + (n - 1) / 3.0 * q,
    "normal_unbiased": lambda n, q: n / 4.0 + 0.25 + q * (n + 0.5),
}


def percentile_method(x: np.ndarray, q: float, method: str = "linear") -> float:
    """The reference's 8 percentile methods (percentiles.go:198-404),
    arithmetic reproduced exactly (see _PCT_H note on label vs
    textbook-R-number mismatches). q in [0,1]; data sorted here."""
    s = np.sort(np.asarray(x, dtype=np.float64))
    n = len(s)
    if n == 0:
        raise ValueError("empty data")
    if n == 1:
        return float(s[0])
    if method == "lower":  # percentiles.go:258-273 (R-1-like)
        h = n * q
        if h <= 1.0:
            return float(s[0])
        return float(s[min(int(np.ceil(h)) - 1, n - 1)])
    if method == "higher":  # percentiles.go:275-290 (R-3-like)
        h = n * q
        if h < 1.0:
            return float(s[0])
        return float(s[min(int(np.floor(h)), n - 1)])
    if method == "midpoint":  # percentiles.go:292-311 (R-2-like)
        h = n * q
        if h <= 1.0:
            return float(s[0])
        if h >= n:
            return float(s[-1])
        lo, hi = int(np.floor(h)) - 1, int(np.ceil(h)) - 1
        return float(s[lo] if lo == hi else (s[lo] + s[hi]) / 2.0)
    h = _PCT_H[method](n, q)
    if h <= 1.0:
        return float(s[0])
    if h >= n:
        return float(s[-1])
    lo, hi = int(np.floor(h)) - 1, int(np.ceil(h)) - 1
    if lo == hi:
        return float(s[lo])
    frac = h - np.floor(h)
    return float(s[lo] + frac * (s[hi] - s[lo]))
