"""Spectral peak detection + parabolic refinement
(harmonic/spectral_peaks.go:36-156) as pure window/expression
relational ops over a (group..., bin, magnitude) spectrum table:

- local maximum: m[i] > m[i-1] AND m[i] > m[i+1] AND m[i] >=
  min_height (edge bins excluded, as upstream's i in [1, n-2]);
- parabolic interpolation: offset = (y3-y1) / (2(2 y2 - y1 - y3))
  when |denom| > 1e-10; refined frequency (bin+offset)*resolution and
  magnitude y2 + a offset^2 + b offset (:129-145);
- top max_peaks per group by magnitude descending (:90-99).

The reference's greedy min-distance dedup loop (:55-73) is sequential
and order-dependent; with its minimum distance of one bin (the
16-bin-analog default) it is a no-op, which is what this operator
implements.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .topk import topk_per_group


_GROUP_COLS = ["doc_id", "frame_idx"]


def spectral_peaks(
    spec: DataFrame,
    *,
    min_height: float = 0.0,
    max_peaks: int = 3,
) -> DataFrame:
    """Output: group cols + rank, bin, magnitude, refined_freq,
    refined_mag."""
    freq_resolution = 1.0
    w = Window.partitionBy(*_GROUP_COLS).orderBy("bin")
    m = F.col("m")
    d = spec.withColumn("__y1", F.lag("m").over(w)).withColumn(
        "__y3", F.lead("m").over(w)
    )
    cand = d.where(
        (m > F.col("__y1")) & (m > F.col("__y3")) & (m >= min_height)
    )
    denom = 2.0 * (2.0 * m - F.col("__y1") - F.col("__y3"))
    ok = F.abs(denom) > 1e-10
    offset = F.when(ok, (F.col("__y3") - F.col("__y1")) / denom).otherwise(
        F.lit(0.0)
    )
    a = 0.5 * (F.col("__y1") - 2.0 * m + F.col("__y3"))
    b = 0.5 * (F.col("__y3") - F.col("__y1"))
    refined_freq = (F.col("bin") + offset) * freq_resolution
    refined_mag = F.when(ok, m + a * offset * offset + b * offset).otherwise(m)
    scored = cand.select(
        *_GROUP_COLS,
        "bin",
        m.alias("magnitude"),
        refined_freq.alias("refined_freq"),
        refined_mag.alias("refined_mag"),
    )
    return topk_per_group(
        scored,
        _GROUP_COLS,
        [F.col("magnitude").desc(), F.col("bin").asc()],
        max_peaks,
    )


def assign_harmonics(peaks: DataFrame) -> DataFrame:
    """AssignHarmonics (spectral_peaks.go:153-181): for each peak,
    scan harmonics 1..20 of f0, keep candidates with relative error
    |f - h f0| / (h f0) < tolerance, pick the minimum ABSOLUTE error
    (ties -> smallest h, the reference's strict-< first-wins scan);
    harmonic = h - 1 (0-indexed) or -1 when none qualifies."""
    tolerance = 0.05
    max_harmonic = 20
    h = peaks.withColumn(
        "__h", F.explode(F.sequence(F.lit(1), F.lit(max_harmonic)))
    )
    exp = F.col("f0") * F.col("__h")
    err = F.abs(F.col("refined_freq") - exp)
    cand = h.withColumn("__err", err).where(err / exp < tolerance)
    best = topk_per_group(
        cand.select(*_GROUP_COLS, "bin", "__h", "__err"),
        [*_GROUP_COLS, "bin"],
        [F.col("__err").asc(), F.col("__h").asc()],
        1,
    ).select(*_GROUP_COLS, "bin", (F.col("__h") - 1).alias("__harm"))
    return peaks.join(best, [*_GROUP_COLS, "bin"], "left").withColumn(
        "harmonic", F.coalesce(F.col("__harm"), F.lit(-1)).cast("int")
    ).drop("__harm")


def harmonic_product_f0(spec: DataFrame) -> DataFrame:
    """Harmonic product spectrum F0 (harmonic_product.go:32-160):
    hps[i] = prod_{h=1..H} power[i*h], where downsampleSpectrum
    (harmonic_product.go:94-124) zero-fills beyond len//h — integer
    division, so any i >= num_bins // H has hps[i] = 0 upstream and
    can never win the strict-> peak scan; f0_bin = argmax of hps in
    [min_bin, max_bin] (first wins ties -> smallest bin), 0 when no
    positive value. (The reference's trailing local-max 'verification'
    returns bestBin on both branches — a dead check, reproduced by
    omission.)

    Relational: H-1 self-joins on bin multiples + one per-group top-1.
    Output: group cols + f0_bin (int) + hps (the winning product,
    0.0 for the no-candidate rows)."""
    num_bins = 16
    num_harmonics = 3
    min_bin = 1
    max_bin = 7
    pw = spec.select(
        *_GROUP_COLS,
        F.col("bin").alias("__b"),
        (F.col("m") * F.col("m")).alias("__p"),
    )
    cand = pw.where(
        (F.col("__b") >= min_bin)
        & (F.col("__b") <= max_bin)
        & (F.col("__b") < num_bins // num_harmonics)
    ).withColumnRenamed("__p", "__p1")
    prod = F.col("__p1")
    for h in range(2, num_harmonics + 1):
        ph = pw.select(
            *[F.col(c).alias(f"__g{h}_{c}") for c in _GROUP_COLS],
            F.col("__b").alias(f"__b{h}"),
            F.col("__p").alias(f"__p{h}"),
        )
        on = F.col(f"__b{h}") == F.col("__b") * h
        for c in _GROUP_COLS:
            on = on & (F.col(f"__g{h}_{c}") == F.col(c))
        cand = cand.join(ph, on).drop(
            f"__b{h}", *[f"__g{h}_{c}" for c in _GROUP_COLS]
        )
        prod = prod * F.col(f"__p{h}")
    scored = cand.select(
        *_GROUP_COLS, F.col("__b").alias("f0_bin"), prod.alias("hps")
    ).where(F.col("hps") > 0)
    best = topk_per_group(
        scored, _GROUP_COLS, [F.col("hps").desc(), F.col("f0_bin").asc()], 1
    ).drop("rank")
    return (
        spec.select(*_GROUP_COLS)
        .distinct()
        .join(best, _GROUP_COLS, "left")
        .select(
            *_GROUP_COLS,
            F.coalesce(F.col("f0_bin"), F.lit(0)).cast("int").alias(
                "f0_bin"
            ),
            F.coalesce("hps", F.lit(0.0)).alias("hps"),
        )
    )


def harmonic_series_analysis(peaks: DataFrame) -> DataFrame:
    """AnalyzeHarmonicSeries (spectral_peaks.go:200-268) over
    harmonic-assigned peaks (harmonic >= 0 only; groups with none are
    absent, matching the reference's empty map): harmonic count,
    fundamental magnitude (harmonic 0, else 0), total harmonic energy,
    odd/even energy ratio (+inf when even energy is 0), and the
    harmonic decay slope (linear regression of ln(mag + 1e-10) vs
    1-indexed harmonic number; NULL below 2 peaks)."""
    h = peaks.where(F.col("harmonic") >= 0)
    m = F.col("refined_mag").cast("double")
    e = m * m
    x = (F.col("harmonic") + 1).cast("double")
    y = F.log(m + 1e-10)
    odd = F.sum(F.when(F.pmod(F.col("harmonic") + 1, F.lit(2)) == 1, e)
                .otherwise(F.lit(0.0)))
    even = F.sum(F.when(F.pmod(F.col("harmonic") + 1, F.lit(2)) == 0, e)
                 .otherwise(F.lit(0.0)))
    n = F.count("*").cast("double")
    sx, sy = F.sum(x), F.sum(y)
    sxy, sxx = F.sum(x * y), F.sum(x * x)
    slope = F.when(
        F.count("*") >= 2,
        (n * sxy - sx * sy) / (n * sxx - sx * sx),
    )
    return h.groupBy(*_GROUP_COLS).agg(
        F.count("*").alias("num_harmonics"),
        F.coalesce(
            F.max(F.when(F.col("harmonic") == 0, m)), F.lit(0.0)
        ).alias("fundamental_magnitude"),
        F.sum(e).alias("total_harmonic_energy"),
        F.when(even > 0, odd / even)
        .otherwise(F.lit(float("inf")))
        .alias("odd_even_ratio"),
        slope.alias("harmonic_decay_slope"),
    )


def hpcp(peaks: DataFrame) -> DataFrame:
    """Harmonic pitch-class profile from spectral peaks
    (chroma/hpcp.go:147-310): pitch class = mod(69 + 12 log2(f/ref),
    12) scaled to `size`; each peak scatters weight*cos(pi d / W) into
    the bins within W/2 of its class (circular wrap + circular
    distance, :258-279 + :283-299 'cosine'); per-group unit-ENERGY
    normalization (:73, common.Energy). BandPreset boost and harmonic
    contributions are off — the defaults' MaxHarmonics is 0 and the
    band preset's 500 Hz split has no analog on the bin-index axis.

    Output: group cols + pitch_class (0..size-1) + hpcp (normalized),
    all `size` classes per group (zero-filled)."""
    size = 12
    ref_freq = 1.0
    window_semitones = 1.0
    min_freq = 1.0
    max_freq = 15.0
    wsize = window_semitones * size / 12.0
    f = F.col("refined_freq")
    pc = F.pmod(
        F.lit(69.0) + 12.0 * F.log2(f / ref_freq), F.lit(12.0)
    ) * (size / 12.0)
    p = peaks.where((f >= min_freq) & (f <= max_freq)).withColumn(
        "__pc", pc
    )
    cand = p.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col("__pc") - wsize / 2).cast("long"),
                F.ceil(F.col("__pc") + wsize / 2).cast("long"),
            )
        ),
    )
    rawd = F.abs(F.col("__bin").cast("double") - F.col("__pc"))
    dist = F.when(rawd > size / 2.0, F.lit(float(size)) - rawd).otherwise(
        rawd
    )
    weight = F.greatest(
        F.cos(F.lit(math.pi) * dist / wsize), F.lit(0.0)
    )
    contrib = (
        cand.where(dist <= wsize / 2)
        .groupBy(*_GROUP_COLS, F.pmod(F.col("__bin"), F.lit(size)).alias(
            "pitch_class"
        ))
        .agg(F.sum(F.col("refined_mag") * weight).alias("raw"))
    )
    # zero-filled 12-class grid per group + unit-energy normalization
    grid = (
        peaks.select(*_GROUP_COLS)
        .distinct()
        .withColumn(
            "pitch_class", F.explode(F.sequence(F.lit(0), F.lit(size - 1)))
        )
        .withColumn("pitch_class", F.col("pitch_class").cast("long"))
        .join(contrib, [*_GROUP_COLS, "pitch_class"], "left")
        .withColumn("raw", F.coalesce("raw", F.lit(0.0)))
    )
    w = Window.partitionBy(*_GROUP_COLS)
    energy = F.sqrt(F.sum(F.col("raw") * F.col("raw")).over(w))
    return grid.select(
        *_GROUP_COLS,
        "pitch_class",
        F.when(energy > 0, F.col("raw") / energy)
        .otherwise(F.lit(0.0))
        .alias("hpcp"),
    )


def cepstrum_f0(spec: DataFrame) -> DataFrame:
    """Cepstral F0 estimation (fundamental_estimation.go:96-147) over
    the histogram-as-spectrum analog: log power spectrum with the
    1e-10 floor (:110-119), real inverse DFT to the quefrency domain
    cep[q] = (1/N) * sum_k ln(max(p_k, 1e-10)) cos(2 pi k q / N)
    (:121-125 — ComputeInverseReal of a real symmetric-free input,
    real part kept), then findCepstralPeak (:239-252): plain argmax
    over q in [min_q, max_q] requiring cep[q] > -1.0 (the bestValue
    init), first-wins ties -> smallest q; f0 = sample_rate / q, 0.0
    when no quefrency qualifies.

    The signal->spectrum front end (Hann window + FFT, :100-108) is
    replaced by the histogram grid, the repo-wide spectral analog
    (same substitution as MFCC/HPS).  The cepstrum is rounded to 6 dp
    BEFORE the argmax so the DuckDB oracle's libm and the JVM agree
    on every comparison.

    Relational: one grid x quefrency-range join, one groupBy sum per
    (group, q), one per-group top-1.  Output: group cols + quefrency
    (int, 0 when none) + f0 (double)."""
    num_bins = 16
    min_q = 2
    max_q = 8
    sample_rate = 16.0
    n = float(num_bins)
    logp = F.log(F.greatest(F.col("m") * F.col("m"), F.lit(1e-10)))
    qs = spec.select(
        *_GROUP_COLS,
        F.col("bin").alias("__k"),
        logp.alias("__lp"),
    ).withColumn(
        "__q", F.explode(F.sequence(F.lit(min_q), F.lit(max_q)))
    )
    ang = (
        F.lit(2.0 * math.pi)
        * F.col("__k").cast("double")
        * F.col("__q").cast("double")
        / F.lit(n)
    )
    cep = qs.groupBy(*_GROUP_COLS, "__q").agg(
        F.round(F.sum(F.col("__lp") * F.cos(ang)) / n, 6).alias("__cep")
    )
    best = topk_per_group(
        cep.where(F.col("__cep") > -1.0),
        _GROUP_COLS,
        [F.col("__cep").desc(), F.col("__q").asc()],
        1,
    )
    return (
        spec.select(*_GROUP_COLS)
        .distinct()
        .join(best, _GROUP_COLS, "left")
        .select(
            *_GROUP_COLS,
            F.coalesce(F.col("__q"), F.lit(0)).cast("int").alias(
                "quefrency"
            ),
            F.when(
                F.col("__q").isNotNull(),
                F.lit(sample_rate) / F.col("__q").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("f0"),
        )
    )


def inharmonicity(spec: DataFrame, peaks: DataFrame) -> DataFrame:
    """Spectral-deviation inharmonicity (tonal/inharmonicity.go:
    218-467, the default method with the :150-163 parameters):

    - F0 = the lowest-bin refined peak (the harmonic family's
      convention, spectral_peaks.go:200-215), gated to the analog
      band [min_f0, max_f0] (the reference's 80-2000 Hz);
    - for each harmonic h with ideal = F0*h <= max_f0: argmax of the
      raw magnitude within +-tolerance*ideal bins (int-truncated
      window, first-wins ties), kept iff it is a strict interior
      local maximum, magnitude > min_strength, and
      |bin - ideal|/ideal < tolerance (findHarmonicPeak :377-419 +
      analyzeHarmonicStructure :341-366);
    - frames with fewer than min_harmonics accepted harmonics are
      dropped (the reference errors, :368-371);
    - B = sum(amp * dev * h^2) / sum(amp * h^4) (amplitude-weighted,
      expected deviation 0 for the general model, :422-447);
      stddev = sample stddev of deviations; confidence =
      min(1, (n/maxHarmonics) * mean(amp)) (:640-652).

    Physical plan: the num_bins-wide spectrum folds into ONE array
    per frame (a join-per-search-window draft evaluated the grid
    three times); the windowed argmax / local-max checks are array
    expressions, and only the per-harmonic explode + one aggregation
    remain."""
    num_bins = 16
    max_harmonics = 20
    min_harmonics = 3
    tolerance = 0.05
    min_strength = 0.01
    min_f0 = 1.0
    max_f0 = 15.0
    garr_df = spec.groupBy(*_GROUP_COLS).agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("bin").alias("b"),
                        F.col("m").cast("double").alias("m"),
                    )
                )
            ),
            lambda s: s["m"],
        ).alias("__g")
    )
    f0df = (
        peaks.groupBy(*_GROUP_COLS)
        .agg(F.round(F.min_by("refined_freq", "bin"), 6).alias("f0"))
        .where((F.col("f0") >= min_f0) & (F.col("f0") <= max_f0))
    )
    base = f0df.join(garr_df, _GROUP_COLS)
    h = base.withColumn(
        "h", F.explode(F.sequence(F.lit(1), F.lit(max_harmonics)))
    ).withColumn(
        "ideal", F.col("f0") * F.col("h").cast("double")
    ).where(F.col("ideal") <= max_f0)
    tol_bins = F.lit(tolerance) * F.col("ideal")
    sb = F.greatest(F.col("ideal") - tol_bins, F.lit(0.0)).cast("int")
    eb = F.least(
        F.col("ideal") + tol_bins, F.lit(float(num_bins - 1))
    ).cast("int")
    h = h.withColumn("__sb", sb).withColumn("__eb", eb)
    # windowed argmax over the array slice (first-wins ties via
    # array_position of the slice max), 1-based positions
    sl = F.slice(
        F.col("__g"), F.col("__sb") + 1, F.col("__eb") - F.col("__sb") + 1
    )
    mxs = F.array_max(sl)
    best_bin = (
        F.col("__sb") + F.array_position(sl, mxs).cast("int") - 1
    )
    h = h.withColumn("__bb", best_bin).withColumn("__bm", mxs)
    # strict interior local maximum + strength + tolerance gates
    at = lambda k: F.element_at(F.col("__g"), k + 1)  # noqa: E731
    dev = (F.col("__bb").cast("double") - F.col("ideal")) / F.col("ideal")
    acc = h.where(
        (F.col("__bb") >= 1)
        & (F.col("__bb") <= num_bins - 2)
        & (F.col("__bm") > at(F.col("__bb") - 1))
        & (F.col("__bm") > at(F.col("__bb") + 1))
        & (F.col("__bm") > min_strength)
        & (F.abs(dev) < tolerance)
    ).select(
        *_GROUP_COLS,
        "f0",
        F.col("h").cast("double").alias("hn"),
        F.col("__bm").alias("amp"),
        dev.alias("dev"),
    )
    ag = acc.groupBy(*_GROUP_COLS, "f0").agg(
        F.count("*").alias("n_harmonics"),
        F.sum(
            F.col("amp") * F.col("dev") * F.col("hn") * F.col("hn")
        ).alias("__num"),
        F.sum(
            F.col("amp")
            * F.col("hn")
            * F.col("hn")
            * F.col("hn")
            * F.col("hn")
        ).alias("__den"),
        F.avg("dev").alias("__dmean"),
        F.avg("amp").alias("__amean"),
    ).where(F.col("n_harmonics") >= min_harmonics)
    ss = acc.join(
        ag.select(*_GROUP_COLS, F.col("__dmean").alias("__dm2")),
        _GROUP_COLS,
    ).groupBy(*_GROUP_COLS).agg(
        F.sum(
            (F.col("dev") - F.col("__dm2"))
            * (F.col("dev") - F.col("__dm2"))
        ).alias("__ssd"),
        F.count("*").alias("__n2"),
    )
    r = ag.join(ss, _GROUP_COLS)
    b_coef = F.when(
        F.col("__den") > 0, F.col("__num") / F.col("__den")
    ).otherwise(F.lit(0.0))
    stddev = F.when(
        F.col("__n2") > 1,
        F.sqrt(F.col("__ssd") / (F.col("__n2").cast("double") - 1.0)),
    ).otherwise(F.lit(0.0))
    conf = F.least(
        F.lit(1.0),
        (F.col("n_harmonics").cast("double") / float(max_harmonics))
        * F.col("__amean"),
    )
    return r.select(
        *_GROUP_COLS,
        "f0",
        F.col("n_harmonics").cast("int").alias("n_harmonics"),
        b_coef.alias("inharmonicity"),
        stddev.alias("inharm_stddev"),
        conf.alias("confidence"),
    )

def harmonic_ratio_spectral(peaks: DataFrame) -> DataFrame:
    """Spectral harmonic-ratio analysis
    (tonal/harmonic_ratio.go:464-513 with the :130-146 parameters):

    - valid peaks = refined spectral peaks inside [min_freq,
      max_freq] (the reference's 80-8000 Hz band on the bin axis);
    - F0 from peaks (estimateF0FromPeaks :599-631): the top-5 peaks
      by magnitude are F0 candidates; each is scored
      sum_h (1 - dist/tol) * mag of the closest peak within
      tolerance*expected of each harmonic h <= min(trunc(max_freq /
      f0), 20) (evaluateF0Candidate :634-662); best by strict max in
      magnitude-rank order;
    - a peak is harmonic iff |freq - f0*round(freq/f0)| <
      tolerance * f0 * round(freq/f0) (isHarmonic :680-692,
      half-away-from-zero round);
    - ratio = 10 log10(harmonicE / noiseE) over peak-magnitude
      energies, 60 dB when noiseE = 0 (:494-501).

    Inputs pre-rounded to 6 dp (quantized interface).  Output: group
    cols + f0, harmonic_ratio, harmonic_energy, noise_energy,
    total_energy."""
    min_freq = 1.0
    max_freq = 15.0
    max_harmonics = 20
    tolerance = 0.1
    n_candidates = 5
    vp = peaks.select(
        *_GROUP_COLS,
        F.round(F.col("refined_freq"), 6).alias("__f"),
        F.round(F.col("refined_mag"), 6).alias("__m"),
    ).where((F.col("__f") >= min_freq) & (F.col("__f") <= max_freq))
    crank = F.row_number().over(
        Window.partitionBy(*_GROUP_COLS).orderBy(
            F.col("__m").desc(), F.col("__f").asc()
        )
    )
    cands = vp.withColumn("__cr", crank).where(
        F.col("__cr") <= n_candidates
    ).select(
        *[F.col(c).alias(f"__c_{c}") for c in _GROUP_COLS],
        F.col("__f").alias("__cf"),
        F.col("__cr"),
    )
    h = cands.withColumn(
        "__h", F.explode(F.sequence(F.lit(1), F.lit(max_harmonics)))
    ).where(
        F.col("__h")
        <= F.floor(F.lit(max_freq) / F.col("__cf")).cast("int")
    ).withColumn("__exp", F.col("__cf") * F.col("__h").cast("double"))
    on = None
    for c in _GROUP_COLS:
        e = F.col(f"__c_{c}") == F.col(c)
        on = e if on is None else (on & e)
    hp = h.join(vp, on)
    dist = F.abs(F.col("__f") - F.col("__exp"))
    closest = topk_per_group(
        hp.withColumn("__d", dist),
        [*[f"__c_{c}" for c in _GROUP_COLS], "__cf", "__cr", "__h"],
        [F.col("__d").asc(), F.col("__f").asc()],
        1,
    ).drop("rank")
    tol = F.lit(tolerance) * F.col("__exp")
    term = F.when(
        F.col("__d") < tol,
        (1.0 - F.col("__d") / tol) * F.col("__m"),
    ).otherwise(F.lit(0.0))
    scored = closest.groupBy(
        *[f"__c_{c}" for c in _GROUP_COLS], "__cf", "__cr"
    ).agg(F.sum(term).alias("__score"))
    best = topk_per_group(
        scored,
        [f"__c_{c}" for c in _GROUP_COLS],
        [F.col("__score").desc(), F.col("__cr").asc()],
        1,
    ).select(
        *[
            F.col(f"__c_{c}").alias(c) for c in _GROUP_COLS
        ],
        F.col("__cf").alias("f0"),
    )
    j = vp.join(best, _GROUP_COLS)
    hn = F.round(F.col("__f") / F.col("f0"), 0)
    expected = F.col("f0") * hn
    is_h = (hn > 0) & (
        F.abs(F.col("__f") - expected) < F.lit(tolerance) * expected
    )
    en = j.groupBy(*_GROUP_COLS, "f0").agg(
        F.sum(F.col("__m") * F.col("__m")).alias("total_energy"),
        F.sum(
            F.when(is_h, F.col("__m") * F.col("__m")).otherwise(
                F.lit(0.0)
            )
        ).alias("harmonic_energy"),
    )
    noise = F.col("total_energy") - F.col("harmonic_energy")
    ratio = F.when(
        noise > 0,
        10.0 * F.log10(F.col("harmonic_energy") / noise),
    ).otherwise(F.lit(60.0))
    return en.select(
        *_GROUP_COLS,
        "f0",
        ratio.alias("harmonic_ratio"),
        "harmonic_energy",
        noise.alias("noise_energy"),
        "total_energy",
    )


def harmonic_ratio_hnr(spec: DataFrame, peaks: DataFrame) -> DataFrame:
    """Mask-based HNR analysis (tonal/harmonic_ratio.go:297-385 with
    the :130-146 parameters):

    - F0 = the strongest refined peak with frequency >= min_freq
      (detectFundamentalFrequency :546-565 scans DetectPeaks'
      magnitude-descending order), falling back to the strongest
      overall; confidence = its magnitude;
    - harmonic peaks (findHarmonicPeaks :565-596): for h up to
      min(max_harmonics, trunc(max_freq/f0)) with f0*h <= max_freq,
      the raw-magnitude argmax within +-width bins of trunc(f0*h)
      (first-wins ties), kept iff a strict interior local maximum
      within tolerance*expected;
    - the harmonic MASK marks +-width bins around each harmonic
      peak; band energies (bins in [min_freq, max_freq]) split into
      harmonic/noise by the mask; ratio = 10 log10(h/n), 60 dB cap
      (:306-345);
    - periodicity = harmonic-classified magnitude fraction
      (:calculatePeriodicity), harmonicity = exp(-10 * mean relative
      deviation) over kept peaks, voicing = sigmoid(0.1*(HNR-10)),
      roughness = sum m_i m_j / (|f_i - f_j| + 1) over kept-peak
      pairs (Plomp-Levelt-style, :632-730).

    Output: group cols + f0, f0_confidence, harmonic_ratio,
    harmonic/noise/total energy, num_harmonics, periodicity,
    harmonicity, voicing, roughness."""
    num_bins = 16
    min_freq = 1.0
    max_freq = 15.0
    max_harmonics = 20
    tolerance = 0.1
    width = 3
    vp = peaks.select(
        *_GROUP_COLS,
        F.round(F.col("refined_freq"), 6).alias("__f"),
        F.round(F.col("refined_mag"), 6).alias("__m"),
    )
    rk = F.row_number().over(
        Window.partitionBy(*_GROUP_COLS).orderBy(
            F.col("__m").desc(), F.col("__f").asc()
        )
    )
    ranked = vp.withColumn("__rk", rk)
    above = ranked.where(F.col("__f") >= min_freq)
    first_above = topk_per_group(
        above, _GROUP_COLS, [F.col("__rk").asc()], 1
    ).select(*_GROUP_COLS, F.col("__f").alias("__fa"), F.col("__m").alias("__ma"))
    first_any = ranked.where(F.col("__rk") == 1).select(
        *_GROUP_COLS, F.col("__f").alias("__f1"), F.col("__m").alias("__m1")
    )
    f0df = first_any.join(first_above, _GROUP_COLS, "left").select(
        *_GROUP_COLS,
        F.coalesce("__fa", "__f1").alias("f0"),
        F.coalesce("__ma", "__m1").alias("f0_confidence"),
    ).where(F.col("f0") > 0)

    h = f0df.withColumn(
        "__h", F.explode(F.sequence(F.lit(1), F.lit(max_harmonics)))
    ).where(
        (
            F.col("__h")
            <= F.least(
                F.lit(float(max_harmonics)), F.lit(max_freq) / F.col("f0")
            ).cast("int")
        )
        & (F.col("f0") * F.col("__h") <= max_freq)
    ).withColumn("__exp", F.col("f0") * F.col("__h").cast("double")
    ).withColumn("__tb", F.col("__exp").cast("int"))
    g = spec.select(
        *[F.col(c).alias(f"__g_{c}") for c in _GROUP_COLS],
        F.col("bin").alias("__b"),
        F.col("m").alias("__gm"),
    )
    on = (F.col("__b") >= F.greatest(F.col("__tb") - width, F.lit(0))) & (
        F.col("__b") <= F.least(F.col("__tb") + width, F.lit(num_bins - 1))
    )
    for c in _GROUP_COLS:
        on = on & (F.col(f"__g_{c}") == F.col(c))
    win = h.join(g, on)
    nb = topk_per_group(
        win,
        [*_GROUP_COLS, "__h"],
        [F.col("__gm").desc(), F.col("__b").asc()],
        1,
    ).drop("rank")
    gl = spec.select(
        *[F.col(c).alias(f"__l_{c}") for c in _GROUP_COLS],
        F.col("bin").alias("__lb"),
        F.col("m").alias("__lm"),
    )
    gr = spec.select(
        *[F.col(c).alias(f"__r_{c}") for c in _GROUP_COLS],
        F.col("bin").alias("__rb"),
        F.col("m").alias("__rm"),
    )
    onl = F.col("__lb") == F.col("__b") - 1
    onr = F.col("__rb") == F.col("__b") + 1
    for c in _GROUP_COLS:
        onl = onl & (F.col(f"__l_{c}") == F.col(c))
        onr = onr & (F.col(f"__r_{c}") == F.col(c))
    hp = (
        nb.join(gl, onl)
        .join(gr, onr)
        .where(
            (F.col("__b") >= 1)
            & (F.col("__b") <= num_bins - 2)
            & (F.col("__gm") > F.col("__lm"))
            & (F.col("__gm") > F.col("__rm"))
            & (
                F.abs(F.col("__b").cast("double") - F.col("__exp"))
                < F.lit(tolerance) * F.col("__exp")
            )
        )
        .select(
            *_GROUP_COLS, "f0", "f0_confidence", "__h",
            F.col("__b").alias("__hb"),
            F.col("__gm").alias("__hm"),
            F.col("__exp"),
        )
    )
    # fold the kept harmonic peaks into ONE array row per frame:
    # count / mean-deviation / pairwise roughness become array
    # expressions and the +-width mask becomes an exists() predicate,
    # so the refined-peak chain is not re-evaluated per consumer (the
    # join-per-metric draft produced an 84-exchange plan)
    hparr = hp.groupBy(*_GROUP_COLS, "f0", "f0_confidence").agg(
        F.sort_array(
            F.collect_list(F.struct("__h", "__hb", "__hm"))
        ).alias("__harr")
    )
    harr = F.col("__harr")
    nh = F.size(harr)
    hnum = lambda x: F.round(x["__hb"].cast("double") / F.col("f0"), 0)  # noqa: E731
    dev_of = lambda x: (  # noqa: E731
        F.abs(x["__hb"].cast("double") - F.col("f0") * hnum(x))
        / (F.col("f0") * hnum(x))
    )
    avgdev = (
        F.aggregate(
            harr, F.lit(0.0), lambda acc, x: acc + dev_of(x)
        )
        / nh.cast("double")
    )
    rough = F.aggregate(
        harr,
        F.lit(0.0),
        lambda acc, x: acc
        + F.aggregate(
            F.filter(
                harr,
                lambda y: (y["__h"] > x["__h"])
                & (
                    F.abs(
                        x["__hb"].cast("double")
                        - y["__hb"].cast("double")
                    )
                    > 0
                ),
            ),
            F.lit(0.0),
            lambda a2, y: a2
            + (x["__hm"] * y["__hm"])
            / (
                F.abs(
                    x["__hb"].cast("double") - y["__hb"].cast("double")
                )
                + 1.0
            ),
        ),
    )
    hstats = hparr.select(
        *_GROUP_COLS,
        "f0",
        "f0_confidence",
        nh.alias("num_harmonics"),
        avgdev.alias("__avgdev"),
        rough.alias("roughness"),
        harr.alias("__harr"),
    )
    # band energies: grid x f0 with the mask as an exists() over the
    # (possibly absent) harmonic array
    gm = spec.select(
        *_GROUP_COLS, F.col("bin").alias("__b"), F.col("m").alias("__gm")
    ).join(f0df.select(*_GROUP_COLS, "f0"), _GROUP_COLS)
    ha = hstats.select(
        *[F.col(c).alias(f"__a_{c}") for c in _GROUP_COLS], "__harr"
    )
    ona = None
    for c in _GROUP_COLS:
        e = F.col(f"__a_{c}") == F.col(c)
        ona = e if ona is None else (ona & e)
    band = gm.where(
        (F.col("__b").cast("double") >= min_freq)
        & (F.col("__b").cast("double") <= max_freq)
    ).join(ha, ona, "left")
    masked = F.col("__harr").isNotNull() & F.exists(
        F.col("__harr"),
        lambda x: F.abs(F.col("__b") - x["__hb"]) <= width,
    )
    hn = F.round(F.col("__b").cast("double") / F.col("f0"), 0)
    is_h = (hn > 0) & (
        F.abs(F.col("__b").cast("double") - F.col("f0") * hn)
        < F.lit(tolerance) * (F.col("f0") * hn)
    )
    en = band.groupBy(*_GROUP_COLS).agg(
        F.sum(F.col("__gm") * F.col("__gm")).alias("total_energy"),
        F.sum(
            F.when(masked, F.col("__gm") * F.col("__gm")).otherwise(
                F.lit(0.0)
            )
        ).alias("harmonic_energy"),
        F.sum("__gm").alias("__ts"),
        F.sum(F.when(is_h, F.col("__gm")).otherwise(F.lit(0.0))).alias(
            "__hs"
        ),
    )
    r = (
        f0df.join(en, _GROUP_COLS, "left")
        .join(
            hstats.drop("f0", "f0_confidence", "__harr"),
            _GROUP_COLS,
            "left",
        )
    )
    noise = F.coalesce(F.col("total_energy"), F.lit(0.0)) - F.coalesce(
        F.col("harmonic_energy"), F.lit(0.0)
    )
    he = F.coalesce(F.col("harmonic_energy"), F.lit(0.0))
    # zero harmonic energy gives the reference -Inf (Go log10(0));
    # clamp to -60 dB, the mirror of the +60 noise-free cap
    # (documented deviation — DuckDB hard-errors and Spark nulls on
    # log10(0), and an infinity cannot ride the value hash)
    ratio = F.when(
        (noise > 0) & (he > 0), 10.0 * F.log10(he / noise)
    ).when((noise > 0) & (he <= 0), F.lit(-60.0)).otherwise(F.lit(60.0))
    periodicity = F.when(
        F.coalesce(F.col("__ts"), F.lit(0.0)) > 0,
        F.coalesce(F.col("__hs"), F.lit(0.0)) / F.col("__ts"),
    ).otherwise(F.lit(0.0))
    harmonicity = F.when(
        F.col("num_harmonics").isNotNull(),
        F.exp(-F.col("__avgdev") * 10.0),
    ).otherwise(F.lit(0.0))
    voicing = 1.0 / (1.0 + F.exp(-0.1 * (ratio - 10.0)))
    return r.select(
        *_GROUP_COLS,
        "f0",
        "f0_confidence",
        ratio.alias("harmonic_ratio"),
        he.alias("harmonic_energy"),
        noise.alias("noise_energy"),
        F.coalesce(F.col("total_energy"), F.lit(0.0)).alias("total_energy"),
        F.coalesce(F.col("num_harmonics"), F.lit(0)).cast("int").alias(
            "num_harmonics"
        ),
        periodicity.alias("periodicity"),
        harmonicity.alias("harmonicity"),
        voicing.alias("voicing"),
        F.coalesce(F.col("roughness"), F.lit(0.0)).alias("roughness"),
    )
