"""Vectorized numpy kernels shared by the Arrow UDF operators.

These are the hot-path implementations (stride-tricks, batched FFT).
The independent, obviously-correct loop implementations the tests
compare them against live in tests/golden.py — deliberately a
separate code path.

Formula provenance (reference, cited file:line):
- frame count (n - W) // H + 1 .... fingerprint/analyzers/spectral.go:409
- RMS energy sqrt(sum(x^2)/W) ..... algorithms/temporal/energy.go:46
- spectral flux sqrt(sum(max(0,d)^2)) algorithms/spectral/spectral_flux.go:17-37
- ZCR sign-change ratio ........... algorithms/spectral/zero_crossing_rate.go:37-77
- moments/skew/kurt ............... algorithms/stats/moments.go:150-260
- Shannon entropy over histogram .. algorithms/stats/entropy.go:515-526
- normalized xcorr + peak ......... algorithms/stats/correlation.go:373-409,526-544
- corr confidence weights ......... algorithms/stats/alignment.go:234-240
- DTW symmetric2 + band ........... algorithms/stats/dtw.go:55-233
- MinHash (compact-hash role) ..... fingerprint/comparison.go:74,91-106
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- frames


def n_frames(n: int, window: int, hop: int) -> int:
    return (n - window) // hop + 1 if n >= window else 0


_SPECTRAL_KEYS = (
    "centroid rolloff bandwidth flatness flatness_db slope contrast "
    "power log_power"
).split()

MFCC_COEFFS = 6  # scaled from the reference's 13 for the 16-bin analog
MFCC_FILTERS = 8  # scaled from the reference's 26 mel filters
_MFCC_KEYS = [f"mfcc{i}" for i in range(MFCC_COEFFS)]

_FEATURE_KEYS = (
    "rms_energy mean var std skew kurt min max crest zcr flux "
    "p25 p50 p75 entropy"
).split() + _SPECTRAL_KEYS + _MFCC_KEYS + [
    f"bark{i}" for i in range(4)
]

ROLLOFF_THRESHOLD = 0.85  # spectral_rolloff.go default
CONTRAST_BANDS = 4  # scaled from the reference numBands for 16 bins


def contrast_band_edges(num_bins: int):
    """Log-spaced contrast band edges, reproducing
    spectral_contrast.go:140-188 initializeBands on the token-analog
    frequency axis f_k = k (bin index), nyquist = num_bins - 1,
    min "frequency" = 1 (the 200 Hz floor maps to the first nonzero
    bin). Edge i is the bin of frequency nyquist^(i / CONTRAST_BANDS),
    truncated: the integer root floor((nyquist^i)^(1/CONTRAST_BANDS)),
    found from a float estimate and corrected in integers, because the
    float power truncates exact integer frequencies one bin low
    (16^(3/4) gives 7.999...).  Edges are clamped to the top bin, then
    forced monotonic (:179-184). Returns (CONTRAST_BANDS+1,) int
    edges; band b covers bins [edges[b], edges[b+1]) — Go half-open
    slice semantics, so bin 0 and the top bin fall outside every band
    exactly as upstream."""
    nyq = num_bins - 1
    edges = []
    for i in range(CONTRAST_BANDS + 1):
        power = nyq**i
        b = int(round(power ** (1.0 / CONTRAST_BANDS)))
        while b**CONTRAST_BANDS > power:
            b -= 1
        while (b + 1) ** CONTRAST_BANDS <= power:
            b += 1
        edges.append(min(b, num_bins - 1))
    for i in range(1, CONTRAST_BANDS + 1):
        if edges[i] <= edges[i - 1]:
            edges[i] = edges[i - 1] + 1
    return edges


class _Scratch:
    """Per-worker reusable buffer pool. Fresh page allocation is
    10-30x slower than warm pages on some hosts (first-touch page
    faults); reusing buffers across Arrow batches keeps the kernel on
    warm memory. Buffers grow geometrically and never shrink."""

    def __init__(self):
        self._bufs: dict[str, np.ndarray] = {}

    def get(self, name: str, shape: tuple, dtype=np.float64) -> np.ndarray:
        n = int(np.prod(shape))
        b = self._bufs.get(name)
        if b is None or b.size < n or b.dtype != dtype:
            cap = max(n, 2 * (b.size if b is not None else 0), 1024)
            b = np.empty(cap, dtype=dtype)
            b[:] = 0  # touch pages once
            self._bufs[name] = b
        return b[:n].reshape(shape)


_scratch = _Scratch()


def flat_frame_starts(
    doc_lens: np.ndarray, window: int, hop: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized frame-start offsets into the CONCATENATED token
    stream of a batch of docs.

    Given per-doc token counts, returns (starts, doc_nf): global
    start index of every frame (doc-major, frame order within doc)
    and frames per doc — no per-doc Python loop.
    """
    doc_lens = np.asarray(doc_lens, dtype=np.int64)
    doc_nf = np.where(doc_lens >= window, (doc_lens - window) // hop + 1, 0)
    total = int(doc_nf.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), doc_nf
    doc_off = np.concatenate(([0], np.cumsum(doc_lens)[:-1]))
    starts_base = np.repeat(doc_off, doc_nf)
    nf_start = np.concatenate(([0], np.cumsum(doc_nf)[:-1]))
    local_idx = np.arange(total, dtype=np.int64) - np.repeat(nf_start, doc_nf)
    return starts_base + local_idx * hop, doc_nf


_FRAME_CHUNK = 4096  # frames gathered per step of frame_features_flat


def frame_features_flat(
    flat: np.ndarray,
    doc_lens: np.ndarray,
    window: int,
    hop: int,
    entropy_bins: int = 16,
    scratch: _Scratch | None = None,
    keys: tuple[str, ...] | None = None,
    weights: np.ndarray | None = None,
) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """Per-frame features for a batch given the concatenated token
    values and per-doc lengths (the mapInArrow hot path).

    Frames are gathered and processed in fixed-size chunks so the
    per-worker working set stays ~O(chunk * window) bytes regardless
    of Arrow batch size — with N parallel workers this bounds total
    first-touch page-fault traffic (which is kernel-serialized and
    wrecks scaling if each worker allocates batch-sized scratch).

    keys selects which features to compute (the Enable* config
    pruning of reference fingerprint/config/config.go:22-27): the
    percentile sort and the entropy histogram are skipped entirely
    when their keys are absent.

    weights (len == window) is the Window.Apply slot
    (windowing.go:167-186): every gathered frame is elementwise
    multiplied by the coefficient vector before any statistic —
    including the flux predecessor frame, so flux sees weighted
    frames on both sides.
    """
    s = scratch or _scratch
    W = window
    want = set(keys if keys is not None else _FEATURE_KEYS)
    starts, doc_nf = flat_frame_starts(doc_lens, window, hop)
    nf = len(starts)
    if nf == 0:
        return {k: np.empty(0) for k in _FEATURE_KEYS if k in want}, doc_nf

    fv = np.asarray(flat, dtype=np.float64)
    sw = np.lib.stride_tricks.sliding_window_view(fv, W)
    out = {k: np.empty(nf) for k in _FEATURE_KEYS if k in want}

    need_hist = want & (
        {"entropy"} | set(_SPECTRAL_KEYS) | set(_MFCC_KEYS) | set(_BARK_KEYS)
    )
    need_spectrum = want & (
        set(_SPECTRAL_KEYS) | set(_MFCC_KEYS) | set(_BARK_KEYS)
    )
    need_minmax = (want & {"min", "max", "crest"}) | need_hist
    need_m34 = want & {"skew", "kurt"}
    B = entropy_bins
    if need_hist & set(_SPECTRAL_KEYS):
        karr = np.arange(B, dtype=np.float64)  # analog frequency axis
        edges = contrast_band_edges(B)
        # per-band bottom/top-20% counts (plan-time constants,
        # spectral_contrast.go:203-214)
        band_vc = [max(1, int(0.2 * (edges[b + 1] - edges[b])))
                   for b in range(len(edges) - 1)]
        with np.errstate(divide="ignore"):
            logk = np.where(karr > 0, np.log10(np.where(karr > 0, karr, 1)), 0.0)
    for a in range(0, nf, _FRAME_CHUNK):
        b = min(a + _FRAME_CHUNK, nf)
        # NOTE: plain fancy indexing; np.take(..., out=) on an
        # overlapping strided view falls off numpy's fast path.
        f = sw[starts[a:b]]
        if weights is not None:
            f *= weights  # fresh gather output: in-place is safe
        n = b - a
        mean = f.mean(axis=1)
        c = np.subtract(f, mean[:, None], out=s.get("c", (n, W)))
        c2 = np.multiply(c, c, out=s.get("c2", (n, W)))
        m2 = c2.mean(axis=1)
        if need_m34:
            t = np.multiply(c2, c, out=s.get("t", (n, W)))
            m3 = t.mean(axis=1)
            np.multiply(c2, c2, out=t)
            m4 = t.mean(axis=1)
        safe = np.where(m2 > 0, m2, 1.0)
        if "mean" in want:
            out["mean"][a:b] = mean
        if "var" in want:
            out["var"][a:b] = m2
        if "std" in want:
            out["std"][a:b] = np.sqrt(m2)
        if "skew" in want:
            out["skew"][a:b] = np.where(m2 > 0, m3 / safe**1.5, 0.0)
        if "kurt" in want:
            out["kurt"][a:b] = np.where(m2 > 0, m4 / safe**2 - 3.0, 0.0)
        # fused: E[x^2] = var + mean^2 (no extra pass over f)
        rms = np.sqrt(m2 + mean * mean)
        if "rms_energy" in want:
            out["rms_energy"][a:b] = rms
        if need_minmax:
            fmin = f.min(axis=1)
            fmax = f.max(axis=1)
            if "min" in want:
                out["min"][a:b] = fmin
            if "max" in want:
                out["max"][a:b] = fmax
            if "crest" in want:
                # fused: max|x| = max(|min|, |max|) (no abs pass)
                absmax = np.maximum(np.abs(fmin), np.abs(fmax))
                out["crest"][a:b] = np.where(
                    rms > 0, absmax / np.where(rms > 0, rms, 1.0), 0.0
                )
        if "zcr" in want:
            # ZCR: sign changes of centered values
            sg = np.sign(c, out=s.get("t", (n, W)))
            neq = np.not_equal(
                sg[:, 1:], sg[:, :-1], out=s.get("neq", (n, W - 1), dtype=bool)
            )
            out["zcr"][a:b] = neq.sum(axis=1) / (W - 1)
        if "flux" in want:
            # flux: positive-diff L2 vs previous frame (chunk boundary
            # uses the previous chunk's last frame; doc starts zeroed
            # below)
            d = s.get("d", (n, W))
            if a == 0:
                if n > 1:
                    np.subtract(f[1:], f[:-1], out=d[1:])
                d[0] = 0.0
            else:
                prev = sw[starts[a - 1 : b - 1]]
                if weights is not None:
                    prev = prev * weights
                np.subtract(f, prev, out=d)
            np.maximum(d, 0.0, out=d)
            np.multiply(d, d, out=d)
            out["flux"][a:b] = np.sqrt(d.sum(axis=1))
        if want & {"p25", "p50", "p75"}:
            # percentiles (R-7) via one in-buffer sort
            srt = s.get("srt", (n, W))
            srt[:] = f
            srt.sort(axis=1)
            for name, p in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
                if name not in want:
                    continue
                h = (W - 1) * p
                k = int(np.floor(h))
                frac = h - k
                if frac == 0.0:
                    out[name][a:b] = srt[:, k]
                else:
                    out[name][a:b] = srt[:, k] + frac * (
                        srt[:, k + 1] - srt[:, k]
                    )
        if need_hist:
            # fixed-width histogram per frame — doubles as the
            # token-analog "magnitude spectrum": bin index k is the
            # frequency axis, count m_k the magnitude
            lo, hi = fmin, np.where(fmax > fmin, fmax, fmin + 1.0)
            sc = np.subtract(f, lo[:, None], out=s.get("sc", (n, W)))
            np.divide(sc, (hi - lo)[:, None], out=sc)
            np.multiply(sc, B, out=sc)
            bins = s.get("bins", (n, W), dtype=np.int64)
            np.copyto(bins, sc, casting="unsafe")  # trunc toward zero
            np.clip(bins, 0, B - 1, out=bins)
            bins += (np.arange(n, dtype=np.int64) * B)[:, None]
            counts = np.bincount(bins.ravel(), minlength=n * B).reshape(n, B)
        if "entropy" in want:
            # H = log2(W) - (1/W) * sum(n_b * log2(n_b))
            cl = counts * np.log2(np.where(counts > 0, counts, 1))
            out["entropy"][a:b] = np.log2(W) - cl.sum(axis=1) / W
        if need_spectrum:
            m = counts.astype(np.float64)  # magnitude analog, sums to W
            pw = m * m  # power analog (power_spectrum.go:18-29)
            if want & {"centroid", "bandwidth"}:
                # sum(f_k m_k) / sum(m_k) (spectral_centroid.go:18-41)
                cen = (m @ karr) / W
                if "centroid" in want:
                    out["centroid"][a:b] = cen
                if "bandwidth" in want:
                    # sqrt(sum((f_k-c)^2 m_k)/sum(m_k))
                    # (spectral_bandwidth.go:22-47)
                    dev = karr[None, :] - cen[:, None]
                    out["bandwidth"][a:b] = np.sqrt(
                        (dev * dev * m).sum(axis=1) / W
                    )
            if "rolloff" in want:
                # first bin where cumulative power >= 0.85 * total
                # (spectral_rolloff.go:19-55)
                cum = np.cumsum(pw, axis=1)
                tgt = ROLLOFF_THRESHOLD * cum[:, -1]
                out["rolloff"][a:b] = np.argmax(
                    cum >= tgt[:, None], axis=1
                ).astype(np.float64)
            if want & {"flatness", "flatness_db"}:
                # geometric/arithmetic mean of magnitudes above the
                # 1e-10 floor, clamped to 1 (spectral_flatness.go:31-73)
                nzm = m > 1e-10
                nnz = nzm.sum(axis=1)
                lsum = np.where(nzm, np.log(np.where(nzm, m, 1.0)), 0.0).sum(
                    axis=1
                )
                geo = np.exp(lsum / np.maximum(nnz, 1))
                flat = np.minimum(geo / (W / B), 1.0)
                if "flatness" in want:
                    out["flatness"][a:b] = flat
                if "flatness_db" in want:
                    # ComputeInDB (spectral_flatness.go:96-103)
                    out["flatness_db"][a:b] = np.where(
                        flat > 1e-10,
                        10.0 * np.log10(np.where(flat > 0, flat, 1.0)),
                        -100.0,
                    )
            if "slope" in want:
                # log-log linear-regression slope over bins with
                # m_k > 1e-10 and f_k > 0 (spectral_slope.go:24-66)
                msk = (m > 1e-10) & (karr > 0)[None, :]
                nn = msk.sum(axis=1).astype(np.float64)
                ly = np.where(msk, np.log10(np.where(msk, m, 1.0)), 0.0)
                sx = (logk[None, :] * msk).sum(axis=1)
                sy = ly.sum(axis=1)
                sxy = (ly * logk[None, :]).sum(axis=1)
                sxx = ((logk * logk)[None, :] * msk).sum(axis=1)
                den = nn * sxx - sx * sx
                ok = (nn >= 2) & (den != 0)
                out["slope"][a:b] = np.where(
                    ok, (nn * sxy - sx * sy) / np.where(den != 0, den, 1.0), 0.0
                )
            if "contrast" in want:
                # mean over log-spaced bands of the 10*log10(peak/
                # valley) power contrast (spectral_contrast.go:26-137);
                # scalar = band mean (the reference returns the vector)
                acc = np.zeros(n)
                for bi in range(len(edges) - 1):
                    sub = np.sort(pw[:, edges[bi] : edges[bi + 1]], axis=1)
                    vc = band_vc[bi]
                    valley = sub[:, :vc].mean(axis=1)
                    peak = sub[:, sub.shape[1] - vc :].mean(axis=1)
                    acc += np.where(
                        peak > 0,
                        10.0
                        * np.log10(
                            np.where(peak > 0, peak, 1.0)
                            / np.maximum(valley, 1e-10)
                        ),
                        0.0,
                    )
                out["contrast"][a:b] = acc / (len(edges) - 1)
            if "power" in want:
                # total power (scalar reduction of power_spectrum.go)
                out["power"][a:b] = pw.sum(axis=1)
            if "log_power" in want:
                # mean per-bin log power with -100 dB floor
                # (power_spectrum.go:61-79 ComputeLog, floorDB=-100)
                out["log_power"][a:b] = (
                    10.0 * np.log10(np.maximum(pw, 1e-10))
                ).mean(axis=1)
            if want & set(_MFCC_KEYS):
                # MFCC analog (mfcc.go:113-164): mel filter bank over
                # the power spectrum -> ln with 1e-10 floor -> DCT-II
                # -> sinusoidal liftering; broadcast-constant matrices
                FB, DCTM, LIFT = _mfcc_mats(B)
                # fixed-order accumulation instead of BLAS gemm: gemm
                # summation order varies with batch size, which would
                # break bit-identical results across partitionings
                mel = np.zeros((n, FB.shape[0]))
                for kk in range(B):
                    col = FB[:, kk]
                    if col.any():
                        mel += pw[:, kk][:, None] * col[None, :]
                logmel = np.where(
                    mel > 0, np.log(np.where(mel > 0, mel, 1.0)),
                    np.log(1e-10),
                )
                co = np.zeros((n, DCTM.shape[0]))
                for fi in range(FB.shape[0]):
                    co += logmel[:, fi][:, None] * DCTM[:, fi][None, :]
                co *= LIFT
                for ci, key in enumerate(_MFCC_KEYS):
                    if key in want:
                        out[key][a:b] = co[:, ci]
            if want & set(_BARK_KEYS):
                # bark band energies: ApplyFilterBank over the power
                # spectrum (bark_scale.go:95-113), fixed-order
                # accumulation for cross-partitioning determinism
                BFB = _bark_mat(B)
                be = np.zeros((n, BFB.shape[0]))
                for kk in range(B):
                    col = BFB[:, kk]
                    if col.any():
                        be += pw[:, kk][:, None] * col[None, :]
                for bi, key in enumerate(_BARK_KEYS):
                    if key in want:
                        out[key][a:b] = be[:, bi]

    if "flux" in want:
        # zero flux at every doc's first frame (no cross-doc leakage)
        nz = doc_nf[doc_nf > 0]
        fstarts = np.concatenate(([0], np.cumsum(nz)[:-1]))
        out["flux"][fstarts] = 0.0
    return out, doc_nf


def hz_to_mel(hz):
    """2595 log10(1 + hz/700) (mel_scale.go:18-21)."""
    return 2595.0 * np.log10(1.0 + np.asarray(hz, dtype=np.float64) / 700.0)


def mel_to_hz(mel):
    """700 (10^(mel/2595) - 1) (mel_scale.go:23-26)."""
    return 700.0 * (10.0 ** (np.asarray(mel, dtype=np.float64) / 2595.0) - 1.0)


def hz_to_bark(hz):
    """Traunmueller: 26.81 hz/(1960+hz) - 0.53 (bark_scale.go:18-22)."""
    hz = np.asarray(hz, dtype=np.float64)
    return 26.81 * hz / (1960.0 + hz) - 0.53


def bark_to_hz(bark):
    """Inverse Traunmueller (bark_scale.go:24-28)."""
    bark = np.asarray(bark, dtype=np.float64)
    return 1960.0 * (bark + 0.53) / (26.28 - bark)


def _triangular_bank(hz_pts, fft_size: int, sample_rate: int) -> np.ndarray:
    """Triangular filters from warped-scale points: bin index
    floor((fftSize+1) hz / sampleRate + 0.5) clamped to fftSize/2,
    rising edge [left,center), falling edge [center,right) — the
    shared construction of mel_scale.go:28-87 / bark_scale.go:36-93."""
    num_filters = len(hz_pts) - 2
    bins = np.minimum(
        np.floor((fft_size + 1.0) * np.asarray(hz_pts) / sample_rate + 0.5)
        .astype(int),
        fft_size // 2,
    )
    n_bins = fft_size // 2 + 1
    fb = np.zeros((num_filters, n_bins))
    for m in range(1, num_filters + 1):
        left, center, right = bins[m - 1], bins[m], bins[m + 1]
        for k in range(left, min(center, n_bins)):
            if center != left:
                fb[m - 1, k] = (k - left) / (center - left)
        for k in range(center, min(right, n_bins)):
            if right != center:
                fb[m - 1, k] = (right - k) / (right - center)
    return fb


_LOW_FREQ = 0.0


def mel_filter_bank(
    num_filters: int,
    fft_size: int,
    sample_rate: int,
    high_freq: float,
) -> np.ndarray:
    """Triangular mel filter bank (mel_scale.go:28-87): equally-spaced
    mel points warped back to Hz."""
    lo, hi = hz_to_mel(_LOW_FREQ), hz_to_mel(high_freq)
    pts = lo + np.arange(num_filters + 2) * (hi - lo) / (num_filters + 1)
    return _triangular_bank(mel_to_hz(pts), fft_size, sample_rate)


BARK_FILTERS = 4
_BARK_KEYS = [f"bark{i}" for i in range(BARK_FILTERS)]


def bark_filter_bank(
    num_filters: int,
    fft_size: int,
    sample_rate: int,
    high_freq: float,
) -> np.ndarray:
    """Triangular bark filter bank (bark_scale.go:36-93): equally-
    spaced bark (Traunmueller) points warped back to Hz, same
    triangular construction as the mel bank."""
    lo, hi = hz_to_bark(_LOW_FREQ), hz_to_bark(high_freq)
    pts = lo + np.arange(num_filters + 2) * (hi - lo) / (num_filters + 1)
    return _triangular_bank(bark_to_hz(pts), fft_size, sample_rate)


_BARK_CACHE: dict[int, np.ndarray] = {}


def _bark_mat(num_bins: int) -> np.ndarray:
    if num_bins not in _BARK_CACHE:
        fft_size = 2 * (num_bins - 1)
        _BARK_CACHE[num_bins] = bark_filter_bank(
            BARK_FILTERS, fft_size, fft_size, num_bins - 1.0
        )
    return _BARK_CACHE[num_bins]


def dct_matrix(num_coeffs: int, num_filters: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (num_coeffs, num_filters)
    (mfcc.go:194-227): cos(pi k (n+0.5)/M) * sqrt((1 if k==0 else 2)/M)."""
    k = np.arange(num_coeffs)[:, None]
    n = np.arange(num_filters)[None, :]
    d = np.cos(np.pi * k * (n + 0.5) / num_filters)
    d[0] *= np.sqrt(1.0 / num_filters)
    d[1:] *= np.sqrt(2.0 / num_filters)
    return d


def lifter_weights(num_coeffs: int) -> np.ndarray:
    """Sinusoidal liftering weights, C0 unliftered (mfcc.go:230-245):
    w_i = 1 + (L/2) sin(pi i / L) for i >= 1, L = 22."""
    w = 1.0 + 11.0 * np.sin(np.pi * np.arange(num_coeffs) / 22.0)
    w[0] = 1.0
    return w


def mfcc_matrices(num_bins: int = 16):
    """(filter_bank, dct, lifter) for the histogram-as-spectrum MFCC
    analog: the B-bin histogram plays the magnitude spectrum of an
    fftSize = 2(B-1) transform at analog sampleRate 2(B-1), so the
    frequency axis is the bin index and highFreq = nyquist = B-1 —
    the NewMFCC defaults (mfcc.go:44-54) scaled to 16 bins
    (26 filters -> 8, 13 coeffs -> 6, lifter 22 kept)."""
    fft_size = 2 * (num_bins - 1)
    fb = mel_filter_bank(MFCC_FILTERS, fft_size, fft_size, num_bins - 1.0)
    return fb, dct_matrix(MFCC_COEFFS, MFCC_FILTERS), lifter_weights(MFCC_COEFFS)


_MFCC_CACHE: dict[int, tuple] = {}


def _mfcc_mats(num_bins: int):
    if num_bins not in _MFCC_CACHE:
        _MFCC_CACHE[num_bins] = mfcc_matrices(num_bins)
    return _MFCC_CACHE[num_bins]


# ------------------------------------------------------------- IIR filters


def bandpass_coefficients(
    sample_rate: int, center_freq: float, q: float
) -> tuple[float, float, float, float, float]:
    """RBJ-cookbook bandpass biquad, normalized by a0
    (bandpass.go:82-116). Returns (b0, b1, b2, a1, a2)."""
    w0 = 2.0 * np.pi * center_freq / sample_rate
    if w0 >= np.pi:
        w0 = np.pi * 0.99
    cos_w0, sin_w0 = np.cos(w0), np.sin(w0)
    alpha = sin_w0 / (2.0 * q)
    a0 = 1.0 + alpha
    return (
        alpha / a0,
        0.0,
        -alpha / a0,
        -2.0 * cos_w0 / a0,
        (1.0 - alpha) / a0,
    )


_DC_SAMPLE_RATE = 64
_DC_CUTOFF_FREQ = 0.5


def dc_pole() -> float:
    """Pole location from cutoff: R = 1 - 2 pi fc/fs, clamped to
    (0.001, 0.999) (dc_removal.go:83-99 computePoleLocation)."""
    r = 1.0 - (2.0 * np.pi * _DC_CUTOFF_FREQ / _DC_SAMPLE_RATE)
    if r >= 1.0:
        return 0.999
    if r <= 0.0:
        return 0.001
    return float(r)


def iir2_impulse(a1: float, a2: float, n: int) -> np.ndarray:
    """Impulse response of the AR part w[n] = u[n] - a1 w[n-1]
    - a2 w[n-2] (one tiny sequential loop of length max-doc-len, run
    once per Arrow batch — never per doc/sample)."""
    g = np.empty(max(n, 2))
    g[0] = 1.0
    g[1] = -a1
    for k in range(2, len(g)):
        g[k] = -a1 * g[k - 1] - a2 * g[k - 2]
    return g[:n]


def biquad_apply(
    x: np.ndarray,
    coeffs: tuple[float, float, float, float, float],
    g: np.ndarray | None = None,
) -> np.ndarray:
    """Zero-initial-state Direct Form II biquad (bandpass.go:123-143:
    w[n] = x - a1 w1 - a2 w2; y = b0 w + b1 w1 + b2 w2), vectorized as
    a convolution with the AR impulse response — per doc this is two
    C calls, no per-sample Python. Matches the sequential recursion to
    fp rounding (different summation order)."""
    b0, b1, b2, a1, a2 = coeffs
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if n == 0:
        return x
    if g is None or len(g) < n:
        g = iir2_impulse(a1, a2, n)
    w = np.convolve(x, g[:n])[:n]
    y = b0 * w
    y[1:] += b1 * w[:-1]
    y[2:] += b2 * w[:-2]
    return y


def dc_removal_apply(x: np.ndarray, pole: float = 0.995) -> np.ndarray:
    """DC blocker y[n] = x[n] - x[n-1] + R y[n-1] (dc_removal.go:
    100-115, default R=0.995 :36-41), zero initial state, vectorized:
    y = conv(first-difference, R^k). Valid while R^n stays in range —
    fine for any realistic doc length (R=0.995, n=10^4 -> 1.5e-22
    tail, still normal floats)."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if n == 0:
        return x
    d = np.empty(n)
    d[0] = x[0]
    d[1:] = x[1:] - x[:-1]
    r = pole ** np.arange(n, dtype=np.float64)
    return np.convolve(d, r)[:n]


# ---------------------------------------------------------------- minhash

_MERSENNE = (1 << 61) - 1
_POLY_BASE = np.int64(1_000_003)


def shingle_hashes_flat(
    flat: np.ndarray, doc_lens: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Polynomial rolling hashes of every k-token shingle for a BATCH
    of docs given concatenated token values (multiset — duplicates
    kept; min/sum sketches are duplicate-insensitive where needed).

    Docs with fewer than k tokens get one shingle, padded to k tokens
    with -1.  Returns (hashes int64, shingles-per-doc int64)."""
    t = np.asarray(flat, dtype=np.int64)
    doc_lens = np.asarray(doc_lens, dtype=np.int64)
    short = doc_lens < k
    if short.any():
        # pad short docs to k with -1 (rare path, per-doc)
        parts = []
        off = 0
        for n in doc_lens:
            seg = t[off : off + n]
            if n < k:
                seg = np.concatenate([seg, np.full(k - n, -1, dtype=np.int64)])
            parts.append(seg)
            off += n
        t = np.concatenate(parts) if parts else t
        doc_lens = np.maximum(doc_lens, k)
    starts, doc_ns = flat_frame_starts(doc_lens, k, 1)
    n = len(t)
    with np.errstate(over="ignore"):
        H = np.zeros(n - k + 1, dtype=np.int64)
        for j in range(k):
            H = H * _POLY_BASE + t[j : n - k + 1 + j]
    return H[starts], doc_ns


def minhash_batch(
    flat: np.ndarray,
    doc_lens: np.ndarray,
    k: int,
    num_hashes: int,
    seed: int,
) -> np.ndarray:
    """MinHash signatures for a batch of docs: (n_docs, num_hashes)
    int64. min over a multiset equals min over the set, so no
    per-doc dedup pass is needed. Vectorized: one (a*x+b) mod p pass
    + one minimum.reduceat per hash function."""
    sh, doc_ns = shingle_hashes_flat(flat, doc_lens, k)
    a, b = _hash_params(num_hashes, seed)
    n_docs = len(doc_ns)
    sig = np.full((n_docs, num_hashes), np.iinfo(np.int64).max, dtype=np.int64)
    if len(sh) == 0:
        return sig
    pos = (sh % _MERSENNE).astype(np.uint64)
    offsets = np.concatenate(([0], np.cumsum(doc_ns)[:-1]))
    nonempty = doc_ns > 0
    red_off = offsets[nonempty]
    au = a.astype(np.uint64)
    bu = b.astype(np.uint64)
    M = np.uint64(_MERSENNE)
    for h in range(num_hashes):
        hv = (au[h] * pos + bu[h]) % M
        mins = np.minimum.reduceat(hv.astype(np.int64), red_off)
        sig[nonempty, h] = mins
    return sig


def simhash_batch(
    flat: np.ndarray, doc_lens: np.ndarray, k: int
) -> np.ndarray:
    """64-bit SimHash per doc over k-token shingle hashes (Charikar):
    bit b of the signature = majority vote of bit b across shingle
    hashes. Returns int64[n_docs] (bit 63 kept zero to stay in
    non-negative int64 range for SQL friendliness)."""
    sh, doc_ns = shingle_hashes_flat(flat, doc_lens, k)
    n_docs = len(doc_ns)
    out = np.zeros(n_docs, dtype=np.int64)
    if len(sh) == 0:
        return out
    u = sh.astype(np.uint64)
    offsets = np.concatenate(([0], np.cumsum(doc_ns)[:-1]))
    nonempty = doc_ns > 0
    red_off = offsets[nonempty]
    half = doc_ns[nonempty].astype(np.float64) / 2.0
    for bit in range(63):
        ones = np.add.reduceat(
            ((u >> np.uint64(bit)) & np.uint64(1)).astype(np.int64), red_off
        )
        out[nonempty] |= (ones > half).astype(np.int64) << np.int64(bit)
    return out


def band_hashes(sig: np.ndarray, bands: int) -> np.ndarray:
    """LSH band keys: (n_docs, bands) int64, polynomial hash of each
    band's rows (sig must have num_hashes % bands == 0)."""
    n_docs, num_hashes = sig.shape
    r = num_hashes // bands
    # band i covers sig[:, i*r:(i+1)*r]
    bh = np.zeros((n_docs, bands), dtype=np.int64)
    with np.errstate(over="ignore"):
        for j in range(r):
            bh = bh * _POLY_BASE + sig[:, np.arange(bands) * r + j]
    return bh


def _hash_params(num_hashes: int, seed: int):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


# ---------------------------------------------------- graph components


def min_label_components(
    a: np.ndarray, b: np.ndarray, n: int, max_iter: int
) -> tuple[np.ndarray, int]:
    """Connected-component labels of an n-node graph, given as a
    SYMMETRIZED edge list of node codes in [0, n): every edge in both
    directions, no self-loops, every node on some edge — the edge
    table operators.fingerprint.connected_components builds.  Runs its
    distributed rounds on the driver: each round (a) takes the min
    label over a node and its neighbors and (b) jumps every label
    through its own label; the loop stops after the first round that
    moves no label, or after max_iter rounds.

    Returns (labels int64[n], changed): labels[i] = the smallest code
    reachable from i once converged; changed = labels the last round
    moved (0 = converged)."""
    comp = np.arange(n, dtype=np.int64)
    if n == 0:
        return comp, 0
    order = np.argsort(a)
    src = np.asarray(a, dtype=np.int64)[order]
    nbr = np.asarray(b, dtype=np.int64)[order]
    # every node owns a run of the sorted sources: run i is node i
    starts = np.flatnonzero(np.r_[True, src[1:] != src[:-1]])
    changed = n
    for _ in range(max_iter):
        step = np.minimum(comp, np.minimum.reduceat(comp[nbr], starts))
        jumped = step[step]
        changed = int(np.count_nonzero(jumped != comp))
        comp = jumped
        if not changed:
            break
    return comp, changed


# ---------------------------------------------------------------- xcorr


def _znorm(x: np.ndarray) -> np.ndarray:
    """z-normalize (stats/correlation.go:464-501)."""
    s = x.std()
    return (x - x.mean()) / s if s > 0 else x - x.mean()


def xcorr_normalized(a: np.ndarray, b: np.ndarray, max_lag: int,
                     fft_threshold: int = 1000) -> tuple[np.ndarray, np.ndarray]:
    """Normalized cross-correlation over lags [-L, L] (clamped).

    corr[lag] = mean(za[t] * zb[t+lag]) over the overlap region, with
    z-normalized inputs — the zero-normalized CC of
    stats/correlation.go:373-418. Method auto-switches to FFT above
    fft_threshold samples (stats/correlation.go:140-142).

    Sign convention: the peak sits at POSITIVE lag L when b is
    DELAYED by L relative to a (b[t] = a[t-L]).
    Returns (lags, corr)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    L = int(min(max_lag, len(a) - 1, len(b) - 1))
    L = max(L, 0)
    lags = np.arange(-L, L + 1)
    za, zb = _znorm(a), _znorm(b)
    # overlap length per lag (vectorized; no per-lag Python)
    ov = np.minimum(len(a), len(b) - lags) - np.maximum(0, -lags)
    if max(len(a), len(b)) > fft_threshold:
        n = len(za) + len(zb) - 1
        nfft = 1 << int(np.ceil(np.log2(max(n, 1))))
        fa = np.fft.rfft(za, nfft)
        fb = np.fft.rfft(zb, nfft)
        full = np.fft.irfft(fa * np.conj(fb), nfft)
        # full[k] = sum za[t] * zb[t-k] (k>=0; negative k wraps), so
        # sum za[t] zb[t+lag] = full[-lag mod nfft] — one fancy index
        s = full[(-lags) % nfft]
    else:
        # all lag sums in one C call: c[k] = sum za[j] zb[j-d] with
        # d = k-(len(zb)-1), and we want d = -lag
        c = np.correlate(za, zb, mode="full")
        s = c[len(zb) - 1 - lags]
    corr = np.where(ov > 0, s / np.where(ov > 0, ov, 1), 0.0)
    return lags, corr


def xcorr_peak_metrics(lags: np.ndarray, corr: np.ndarray) -> dict[str, float]:
    """Peak lag + quality metrics (stats/correlation.go:526-661)."""
    if len(corr) == 0:
        return {"lag": 0.0, "peak": 0.0, "sharpness": 0.0, "sidelobe": 0.0,
                "snr": 0.0, "second_peak": 0.0}
    i = int(np.argmax(np.abs(corr)))
    peak = float(abs(corr[i]))
    # sharpness: |second derivative| at peak
    if 0 < i < len(corr) - 1:
        sharp = float(abs(corr[i - 1] - 2 * corr[i] + corr[i + 1]))
    else:
        sharp = 0.0
    # second peak (exclude +-2 around main)
    mask = np.ones(len(corr), bool)
    mask[max(0, i - 2) : i + 3] = False
    second = float(np.abs(corr[mask]).max()) if mask.any() else 0.0
    sidelobe = peak / second if second > 0 else peak / 1e-9
    noise = float(np.abs(corr[mask]).mean()) if mask.any() else 1e-9
    snr = peak / noise if noise > 0 else 0.0
    return {"lag": float(lags[i]), "peak": peak, "sharpness": sharp,
            "sidelobe": min(sidelobe, 100.0), "snr": min(snr, 100.0),
            "second_peak": second}


def xcorr_confidence(m: dict[str, float]) -> float:
    """Weighted confidence (stats/alignment.go:183-243 weights
    0.55 peak + 0.22 sharpness + 0.12 sidelobe + 0.06 SNR), squashed
    to [0,1]."""
    conf = (
        0.55 * min(m["peak"], 1.0)
        + 0.22 * min(m["sharpness"] * 10.0, 1.0)
        + 0.12 * min(m["sidelobe"] / 10.0, 1.0)
        + 0.06 * min(m["snr"] / 20.0, 1.0)
    )
    return float(min(max(conf, 0.0), 1.0))


# ---------------------------------------------------------------- DTW


def dtw_align(a: np.ndarray, b: np.ndarray, band: int = 50) -> dict[str, float]:
    """Band-constrained DTW reproducing the reference arithmetic
    exactly (stats/dtw.go:55-233):

    - step: D[i,j] = |a_i - b_j| + min(D[i-1,j], D[i,j-1], D[i-1,j-1])
      (dtw.go:140-144 — the reference labels this "symmetric2" but it
      is a plain min; no diagonal double-weighting);
    - distance normalized by PATH LENGTH (dtw.go:88-91);
    - backtrack tie-break prefers vertical, then horizontal, then
      diagonal (strict < scan in dtw.go:199-215), path walks edges to
      the origin (dtw.go:169);
    - offset = mean over path of (RefIndex - QueryIndex)
      (alignment.go:530-541; the reference truncates to int frames,
      we keep the float mean).
    Confidence is an exp-decay simplification of the reference's
    4-factor blend (alignment.go:419-452).

    Vectorized as an anti-diagonal wavefront: every cell on i+j=k
    depends only on diagonals k-1 and k-2, so each diagonal is one
    fancy-indexed numpy op — no per-cell Python."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    q, r = len(a), len(b)
    if q == 0 or r == 0:
        return {"dist": np.inf, "offset": 0.0, "confidence": 0.0,
                "path_len": 0.0, "slope": 1.0}
    band = max(band, abs(q - r) + 1)
    D = np.full((q + 1, r + 1), np.inf)
    D[0, 0] = 0.0
    for k in range(2, q + r + 1):
        ilo = max(1, k - r, -((band - k) // 2))  # ceil((k-band)/2)
        ihi = min(q, k - 1, (k + band) // 2)
        if ilo > ihi:
            continue
        ii = np.arange(ilo, ihi + 1)
        jj = k - ii
        c = np.abs(a[ii - 1] - b[jj - 1])
        D[ii, jj] = c + np.minimum(
            np.minimum(D[ii - 1, jj], D[ii, jj - 1]), D[ii - 1, jj - 1]
        )
    # backtrack (dtw.go:164-216): O(path) scalar steps
    i, j = q, r
    disp_sum = 0.0
    steps = 0
    di = dj = 0
    while i > 0 or j > 0:
        disp_sum += j - i
        steps += 1
        if i == 0:
            j -= 1
            dj += 1
        elif j == 0:
            i -= 1
            di += 1
        else:
            v, h, d = D[i - 1, j], D[i, j - 1], D[i - 1, j - 1]
            if h < v and h <= d:
                j -= 1
                dj += 1
            elif d < v and d < h:
                i, j = i - 1, j - 1
                di += 1
                dj += 1
            else:  # vertical wins ties (first in the reference's scan)
                i -= 1
                di += 1
    dist = float(D[q, r] / steps) if steps else float(D[q, r])
    offset = disp_sum / steps if steps else 0.0
    conf = float(np.exp(-dist))
    # mean path slope dj/di — the DTW component of the time-stretch
    # estimate (extractors/alignment.go:448-476)
    slope = float(dj / di) if di > 0 else 1.0
    return {"dist": dist, "offset": offset, "confidence": conf,
            "path_len": float(steps), "slope": slope}


# ------------------------------------------------------ vectors / cosine

def vectors_matrix(vec) -> np.ndarray:
    """Arrow list-of-float column (Array or ChunkedArray) -> (n, dim)
    float64 matrix via the contiguous values buffer (list_flatten +
    reshape, zero-copy for float64) — never to_pylist(), which builds
    a Python object per element.  An empty column is (0, 0); a null
    row or rows of unequal length raise ValueError."""
    import pyarrow.compute as pc

    n = len(vec)
    if n == 0:
        return np.empty((0, 0))
    if vec.null_count:
        raise ValueError("null vector row")
    lens = pc.list_value_length(vec).to_numpy()
    dim = int(lens[0])
    if not (lens == dim).all():
        raise ValueError("ragged vector column")
    flat = pc.list_flatten(vec).to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(n, dim)


def list_flat(col) -> tuple[np.ndarray, np.ndarray]:
    """Arrow list column (an Array) -> (its values flattened into one
    numpy array, int64 per-row lengths) — the decode of every Arrow
    list kernel, never to_pylist().  A null row has length 0."""
    import pyarrow.compute as pc

    lens = pc.list_value_length(col)
    if lens.null_count:
        lens = lens.fill_null(0)
    return (
        col.flatten().to_numpy(zero_copy_only=False),
        lens.to_numpy().astype(np.int64),
    )


def cosine_block(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, d) x (m, d) -> (n, m) cosine similarities, bit-equal to the
    Catalyst fold functions.arrays.cosine_similarity
    (distance.go:48-70): every dot and squared norm accumulates over
    d in ascending order, s = dot / (|a| * |b|), and a zero (or NaN)
    denominator gives 0.0.  BLAS gemm would sum in a batch-size-
    dependent order, so the block is one outer product per k instead,
    tiled over the right side so each tile stays cache-resident
    across the d passes (the per-element order of adds is the same
    for every tile width)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n, d = a.shape
    m = b.shape[0]
    if b.shape[1] != d:
        raise ValueError(f"vector dims differ: {d} vs {b.shape[1]}")
    na = np.zeros(n)
    nb = np.zeros(m)
    for k in range(d):
        na += a[:, k] * a[:, k]
        nb += b[:, k] * b[:, k]
    dots = np.empty((n, m))
    tj = max(1, (1 << 17) // max(1, n))
    for j0 in range(0, m, tj):
        j1 = min(j0 + tj, m)
        tile = np.zeros((n, j1 - j0))
        for k in range(d):
            tile += np.outer(a[:, k], b[j0:j1, k])
        dots[:, j0:j1] = tile
    den = np.outer(np.sqrt(na), np.sqrt(nb))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, dots / den, 0.0)


# ------------------------------------------------- exact round emulation

def _half_up_units(x: np.ndarray, dp: int) -> np.ndarray:
    """The signed integer k (as float64) with k / 10^dp == Spark's
    round(x, dp): half-up on the SHORTEST decimal repr of x, away from
    zero for negatives (BigDecimal(Double.toString(x)).setScale(dp,
    HALF_UP)).  Fast path: sign * floor(|x| * 10^dp + 0.5); values
    whose scaled fractional part falls inside a float-error guard band
    around .5 are recomputed exactly via Decimal(repr(x)) (Python repr
    == Java Double.toString: both emit the shortest round-trip
    decimal).  Exact for |k| < 2^53."""
    from decimal import ROUND_HALF_UP, Decimal

    x = np.asarray(x, dtype=np.float64)
    ax = np.abs(x) * 10.0 ** dp
    frac = ax - np.floor(ax)
    # |ax - dec(x)*10^dp| <= ~2 ulp(ax); the 1e-6 absolute floor
    # catches the small-|x| regime where repr-vs-product drift is
    # dominated by the decimal tail of the repr itself
    tol = 1e-6 + ax * 4e-16
    slow = np.abs(frac - 0.5) <= tol
    k = np.floor(ax + 0.5)
    out = np.where(x >= 0, k, -k)
    for i in np.nonzero(slow)[0]:
        out[i] = float(
            Decimal(repr(float(x[i]))).scaleb(dp).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
    return out


def spark_round(x: np.ndarray, dp: int) -> np.ndarray:
    """Vectorized emulation of Spark's round(col, dp) on non-null
    finite doubles: _half_up_units(x, dp) / 10^dp — for |k| < 2^53 one
    correctly-rounded IEEE divide of two exact operands is the double
    Spark returns.  The kernelization protocol (content_detect
    precedent) additionally verifies bit-equality against the Catalyst
    expression on the real corpora before any swap."""
    # + 0.0 normalizes -0.0 -> +0.0: BigDecimal has no signed zero,
    # so Spark's round returns +0.0 for any tiny negative that rounds
    # to zero — and the driver's value hash is signbit-strict
    return _half_up_units(x, dp) / 10.0 ** dp + 0.0


_MICRO_DP = 9


def spark_round_micro(x: np.ndarray) -> np.ndarray:
    """int64 micro-units: the exact integer k with k/10^_MICRO_DP ==
    spark_round(x, dp) — emulates the Catalyst idiom
    round(round(x, dp) * 10^dp, 0).cast('long') for |k| < ~4e15
    (beyond that the double product k*10^dp loses integer
    precision; the micro-unit contracts here cap |x| far below
    that)."""
    return _half_up_units(x, _MICRO_DP).astype(np.int64)
