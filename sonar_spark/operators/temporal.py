"""Temporal long-tail operators (SURVEY §2.9): tempo estimation via
inter-onset-interval histogram (reference
algorithms/temporal/tempo_estimation.go:22-232), attack/decay times
around detected peaks (temporal/attack_decay.go:21-189), the
Hilbert-approximation envelope (temporal/envelope.go:76-103), and
fundamental-frequency / pitch detection and tracking.

Window functions + groupBy, except the per-frame pitch detector and
tracker, which run numpy / a per-stream state machine in mapInArrow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import arrow_batch, arrow_schema


def tempo_estimate(onsets: DataFrame) -> DataFrame:
    """Dominant inter-onset interval per key (tempo_estimation.go:
    51-76 histogram method): IOI = diff of consecutive onset
    positions; dominant = most frequent IOI (ties -> smallest IOI).

    Output: doc_id, n_onsets, dominant_ioi, tempo (events per unit =
    frames_per_unit / dominant_ioi), onset_density."""
    frames_per_unit = 1.0
    w = Window.partitionBy("doc_id").orderBy(F.col("frame_idx").asc())
    ioi = (F.col("frame_idx") - F.lag("frame_idx").over(w)).alias("ioi")
    i = onsets.select("doc_id", "frame_idx").withColumn("ioi", ioi).where(
        F.col("ioi").isNotNull()
    )
    hist = i.groupBy("doc_id", "ioi").agg(F.count("*").alias("c"))
    dom = hist.groupBy("doc_id").agg(
        F.max(F.struct(F.col("c"), (-F.col("ioi")).alias("nioi"))).alias("__s")
    ).select("doc_id", (-F.col("__s.nioi")).alias("dominant_ioi"))
    span = onsets.groupBy("doc_id").agg(
        F.count("*").alias("n_onsets"),
        (F.max("frame_idx") - F.min("frame_idx")).alias("__span"),
    )
    out = span.join(dom, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_onsets",
        "dominant_ioi",
        F.when(
            F.col("dominant_ioi") > 0,
            F.lit(frames_per_unit) / F.col("dominant_ioi"),
        ).alias("tempo"),
        F.when(
            F.col("__span") > 0, F.col("n_onsets") / F.col("__span")
        ).alias("onset_density"),
    )


_LOOKBACK = 10
_LEVEL = 0.5


def attack_decay(features: DataFrame, peaks: DataFrame) -> DataFrame:
    """Attack/decay times around detected peaks (attack_decay.go:
    21-189; the 10-frame lookback cap mirrors extractors/speech.go:
    734-739): attack = frames from the last sub-level frame before the
    peak (within lookback); decay = frames to the first sub-level
    frame after (within lookback). Null when the signal never crosses
    the level inside the capped window.

    Implemented with collect_list over a bounded row window + array
    higher-order functions — one shuffle, no Python."""
    w = Window.partitionBy("doc_id").orderBy(F.col("frame_idx").asc())
    ov = F.struct(F.col("frame_idx").alias("o"), F.col("rms_energy").alias("v"))
    ctx = features.select("doc_id", "frame_idx", "rms_energy").withColumn(
        "__back", F.collect_list(ov).over(w.rowsBetween(-_LOOKBACK, -1))
    ).withColumn("__fwd", F.collect_list(ov).over(w.rowsBetween(1, _LOOKBACK)))
    p = peaks.select(
        F.col("doc_id"), F.col("frame_idx"), F.col("rms_energy").alias("__peak_v")
    )
    j = p.join(ctx, ["doc_id", "frame_idx"])
    thr = F.col("__peak_v") * _LEVEL
    below_back = F.filter(F.col("__back"), lambda s: s["v"] <= thr)
    below_fwd = F.filter(F.col("__fwd"), lambda s: s["v"] <= thr)
    attack = F.when(
        F.size(below_back) > 0,
        F.col("frame_idx") - F.element_at(below_back, -1)["o"],
    )
    decay = F.when(
        F.size(below_fwd) > 0,
        F.element_at(below_fwd, 1)["o"] - F.col("frame_idx"),
    )
    return j.select(
        "doc_id",
        "frame_idx",
        F.col("__peak_v").alias("peak_value"),
        attack.alias("attack_frames"),
        decay.alias("decay_frames"),
    )


def hnr(vals: DataFrame, expected: DataFrame) -> DataFrame:
    """Harmonic-to-noise ratio (voice_quality.go:232-296):
    autocorrelation acf[lag] = mean(v[i] v[i+lag]) over the series,
    peak searched in lag within +-25% (integer L/4) of the expected
    fundamental lag, HNR = 10 log10(max / (acf0 - max)) when
    0 < max < acf0, else 0. Docs whose expected lag falls outside the
    series (L > n-1) get 0 (the reference's early return).

    Relational: one tiny per-doc lag table exploded from the expected
    lag, a positional self-join for the lagged products, two
    aggregations — no per-sample Python."""
    base = vals.groupBy("doc_id").agg(
        F.count("*").alias("__n"),
        (F.sum(F.col("v") * F.col("v")) / F.count("*")).alias("__acf0"),
    )
    e = expected.join(base, "doc_id")
    ok = e.where(F.col("L") <= F.col("__n") - 1)
    sr = F.floor(F.col("L") / 4)
    lags = ok.select(
        "doc_id",
        "__acf0",
        F.explode(
            F.sequence(
                F.greatest(F.lit(1).cast("long"), F.col("L") - sr),
                F.least(F.col("__n") - 1, F.col("L") + sr),
            )
        ).alias("__lag"),
    )
    a = vals.select("doc_id", F.col("pos").alias("__pa"), F.col("v").alias("__va"))
    b = vals.select("doc_id", F.col("pos").alias("__pb"), F.col("v").alias("__vb"))
    prod = (
        lags.join(a, "doc_id")
        .join(
            b.withColumnRenamed("doc_id", "__kb"),
            (F.col("__kb") == F.col("doc_id"))
            & (F.col("__pb") == F.col("__pa") + F.col("__lag")),
        )
        .drop("__kb")
    )
    acf = prod.groupBy("doc_id", "__acf0", "__lag").agg(
        F.avg(F.col("__va") * F.col("__vb")).alias("__acf")
    )
    agg = acf.groupBy("doc_id", "__acf0").agg(
        F.greatest(F.max("__acf"), F.lit(0.0)).alias("__max")
    )
    h = F.when(
        (F.col("__max") > 0) & (F.col("__max") < F.col("__acf0")),
        10.0 * F.log10(F.col("__max") / (F.col("__acf0") - F.col("__max"))),
    ).otherwise(F.lit(0.0))
    found = agg.select("doc_id", h.alias("hnr_db"))
    # docs filtered out (L > n-1, or no positive-range lags) -> 0.0
    return (
        expected.select("doc_id")
        .join(found, "doc_id", "left")
        .select("doc_id", F.coalesce("hnr_db", F.lit(0.0)).alias("hnr_db"))
    )


def estimate_fundamental(vals: DataFrame) -> DataFrame:
    """F0 estimation by autocorrelation
    (fundamental_estimation.go:30-57 + :148-173 + :219-236): acf[lag]
    = mean lagged product for lag in [int(sr/maxF0),
    min(int(sr/minF0), n-1)]; best lag = the highest LOCAL maximum
    (strict >, acf[lag-1] and acf[lag+1] both available, first wins
    ties -> smallest lag); f0 = sr / bestLag, 0 when no local max.
    Normalization by acf[0] is skipped — argmax is scale-invariant.

    Token analog: sample_rate = 1 tick/token, F0 range [1/32, 1/4]
    cycles/token -> lags 4..32."""
    sample_rate = 1.0
    min_f0 = 1.0 / 32.0
    max_f0 = 1.0 / 4.0
    min_lag = max(int(sample_rate / max_f0), 1)
    max_lag_cfg = int(sample_rate / min_f0)
    base = vals.groupBy("doc_id").agg(F.count("*").alias("__n"))
    # acf computed for [min_lag - 1, min(max_lag, n-1)] so the
    # local-max check has both neighbors where the reference does
    lag_hi = F.least(F.lit(max_lag_cfg), F.col("__n") - 1)
    lags = base.where(lag_hi >= min_lag).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(max(min_lag - 1, 0)).cast("long"), lag_hi)
        ).alias("__lag"),
    )
    a = vals.select("doc_id", F.col("pos").alias("__pa"), F.col("v").alias("__va"))
    b = vals.select(
        F.col("doc_id").alias("__kb"),
        F.col("pos").alias("__pb"),
        F.col("v").alias("__vb"),
    )
    acf = (
        lags.join(a, "doc_id")
        .join(
            b,
            (F.col("__kb") == F.col("doc_id"))
            & (F.col("__pb") == F.col("__pa") + F.col("__lag")),
        )
        .groupBy("doc_id", "__lag")
        .agg(F.avg(F.col("__va") * F.col("__vb")).alias("__acf"))
    )
    w = Window.partitionBy("doc_id").orderBy("__lag")
    nb = acf.withColumn("__p", F.lag("__acf").over(w)).withColumn(
        "__x", F.lead("__acf").over(w)
    )
    peaks = nb.where(
        (F.col("__lag") >= min_lag)
        & F.col("__p").isNotNull()
        & F.col("__x").isNotNull()
        & (F.col("__acf") > F.col("__p"))
        & (F.col("__acf") > F.col("__x"))
    )
    from .topk import topk_per_group

    best = topk_per_group(
        peaks.select("doc_id", "__lag", "__acf"),
        "doc_id",
        [F.col("__acf").desc(), F.col("__lag").asc()],
        1,
    )
    f0 = best.select(
        "doc_id", (F.lit(float(sample_rate)) / F.col("__lag")).alias("f0")
    )
    return (
        vals.select("doc_id")
        .distinct()
        .join(f0, "doc_id", "left")
        .select("doc_id", F.coalesce("f0", F.lit(0.0)).alias("f0"))
    )


def estimate_yin(vals: DataFrame) -> DataFrame:
    """Simplified YIN F0 (fundamental_estimation.go:60-96 + the
    difference function :176-196, CMNDF :198-217 and parabolic
    interpolation :238-258): diff[lag] = mean squared lagged
    difference; cmndf[lag] = diff[lag] * lag / cumsum(diff[1..lag])
    (1.0 when the cumsum is 0); the FIRST lag in [minLag, maxLag]
    with cmndf < threshold wins, refined by parabolic interpolation
    over cmndf (un-refined at the array edges or a ~0 denominator);
    candidates whose refined lag is <= 0 are skipped exactly like the
    reference's continue-scan; f0 = sr / refined lag, 0 when none."""
    sample_rate = 1.0
    min_f0 = 1.0 / 32.0
    max_f0 = 1.0 / 4.0
    threshold = 0.15
    min_lag = max(int(sample_rate / max_f0), 1)
    max_lag_cfg = int(sample_rate / min_f0)
    base = vals.groupBy("doc_id").agg(F.count("*").alias("__n"))
    lag_hi = F.least(
        F.lit(max_lag_cfg).cast("long"),
        F.floor(F.col("__n") / 2).cast("long") - 1,
    )
    lags = base.where(lag_hi >= 1).select(
        "doc_id",
        lag_hi.alias("__hi"),
        F.explode(F.sequence(F.lit(1).cast("long"), lag_hi)).alias("__lag"),
    )
    a = vals.select("doc_id", F.col("pos").alias("__pa"), F.col("v").alias("__va"))
    b = vals.select(
        F.col("doc_id").alias("__kb"),
        F.col("pos").alias("__pb"),
        F.col("v").alias("__vb"),
    )
    diff = (
        lags.join(a, "doc_id")
        .join(
            b,
            (F.col("__kb") == F.col("doc_id"))
            & (F.col("__pb") == F.col("__pa") + F.col("__lag")),
        )
        .groupBy("doc_id", "__hi", "__lag")
        .agg(
            F.avg(
                (F.col("__va") - F.col("__vb"))
                * (F.col("__va") - F.col("__vb"))
            ).alias("__d")
        )
    )
    w = Window.partitionBy("doc_id").orderBy("__lag")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = diff.withColumn("__cum", F.sum("__d").over(wc)).withColumn(
        "__cmndf",
        F.when(
            F.col("__cum") > 0,
            F.col("__d") * F.col("__lag") / F.col("__cum"),
        ).otherwise(F.lit(1.0)),
    )
    nb = c.withColumn("__y1", F.lag("__cmndf").over(w)).withColumn(
        "__y3", F.lead("__cmndf").over(w)
    )
    # cmndf[0] = 1.0 exists conceptually: the lag-1 row's left
    # neighbor is that constant
    y1 = F.when(F.col("__lag") == 1, F.lit(1.0)).otherwise(F.col("__y1"))
    denom = 2.0 * (2.0 * F.col("__cmndf") - y1 - F.col("__y3"))
    interp = F.when(
        F.col("__y3").isNull() | (F.abs(denom) < 1e-10),
        F.col("__lag").cast("double"),
    ).otherwise(
        F.col("__lag") + (F.col("__y3") - y1) / denom
    )
    cand = nb.where(
        (F.col("__lag") >= min_lag) & (F.col("__cmndf") < threshold)
    ).withColumn("__interp", interp).where(F.col("__interp") > 0)
    from .topk import topk_per_group

    best = topk_per_group(
        cand.select("doc_id", "__lag", "__interp"),
        "doc_id",
        [F.col("__lag").asc()],
        1,
    )
    f0 = best.select(
        "doc_id", (F.lit(float(sample_rate)) / F.col("__interp")).alias("f0")
    )
    return (
        vals.select("doc_id")
        .distinct()
        .join(f0, "doc_id", "left")
        .select("doc_id", F.coalesce("f0", F.lit(0.0)).alias("f0"))
    )


def _onset_periods(feats: DataFrame, onsets: DataFrame) -> DataFrame:
    """(doc_id, __period, plen, amp): each onset (doc_id, frame_idx)
    starts a period (a running onset count over the frames, in frame
    order); per period, its length in frames and its amplitude
    sqrt(mean(rms_energy^2)).  Frames before the first onset belong
    to no period."""
    marks = onsets.select("doc_id", "frame_idx", F.lit(1).alias("__is_onset"))
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    f = feats.join(marks, ["doc_id", "frame_idx"], "left").withColumn(
        "__period", F.sum(F.coalesce(F.col("__is_onset"), F.lit(0))).over(w)
    )
    return (
        f.where(F.col("__period") >= 1)
        .groupBy("doc_id", "__period")
        .agg(
            F.count("*").cast("double").alias("plen"),
            F.sqrt(F.avg(F.col("rms_energy") * F.col("rms_energy"))).alias("amp"),
        )
    )


def voice_quality(feats: DataFrame, onsets: DataFrame) -> DataFrame:
    """Jitter + shimmer (speech/voice_quality.go:160-231) over
    onset-delimited periods: each onset starts a period; period
    length = frame count, period amplitude = sqrt(mean(signal^2));
    jitter = mean |consecutive length diff| / mean length * 100,
    shimmer = the same over amplitudes; 0 when fewer than 2 periods.

    Relational shape: one running-count window assigns frames to
    periods, one aggregation per period, one per-doc aggregation —
    the '[window funcs after pitch UDF]' mapping SURVEY §2.13 calls
    for, with onsets standing in for pitch periods."""
    wp = Window.partitionBy("doc_id").orderBy("__period")
    d = _onset_periods(feats, onsets).withColumn(
        "dlen", F.abs(F.col("plen") - F.lag("plen").over(wp))
    ).withColumn("damp", F.abs(F.col("amp") - F.lag("amp").over(wp)))
    agg = d.groupBy("doc_id").agg(
        F.count("*").alias("n_periods"),
        F.avg("plen").alias("mean_len"),
        F.avg("amp").alias("mean_amp"),
        F.sum("dlen").alias("sum_dlen"),
        F.sum("damp").alias("sum_damp"),
    )
    n = F.col("n_periods").cast("double")
    jitter = F.when(
        (F.col("n_periods") >= 2) & (F.col("mean_len") != 0),
        (F.col("sum_dlen") / (n - 1.0)) / F.col("mean_len") * 100.0,
    ).otherwise(F.lit(0.0))
    shimmer = F.when(
        (F.col("n_periods") >= 2) & (F.col("mean_amp") != 0),
        (F.col("sum_damp") / (n - 1.0)) / F.col("mean_amp") * 100.0,
    ).otherwise(F.lit(0.0))
    return agg.select(
        "doc_id",
        "n_periods",
        jitter.alias("jitter_pct"),
        shimmer.alias("shimmer_pct"),
    )


def envelope_hilbert(df: DataFrame) -> DataFrame:
    """Hilbert-approximation envelope (envelope.go:76-103): imaginary
    part approximated by the central difference ((x[i+1]-x[i-1])/2,
    forward/backward at the edges), envelope = sqrt(x^2 + imag^2).
    Pure lag/lead window expressions — one shuffle on the key.
    Single-row groups get imag = 0 (the reference indexes signal[1]
    unconditionally at i=0 and would panic there)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    v = F.col("v").cast("double")
    prv = F.lag("v").over(w).cast("double")
    nxt = F.lead("v").over(w).cast("double")
    imag = (
        F.when(prv.isNull(), F.coalesce(nxt - v, F.lit(0.0)))
        .when(nxt.isNull(), v - prv)
        .otherwise((nxt - prv) / 2.0)
    )
    return df.withColumn("envelope", F.sqrt(v * v + imag * imag))


# NSDF pitch detection on the token-length series: the reference's
# defaults (pitch_detection.go) on the token analog — sample-rate
# analog 32, pitch band 1-16, autocorrelation peak threshold 0.3, the
# MinConfidence gate 0.5, and the salience boost / keep bands (its
# 200-800 / 100-1000 Hz bands scaled by sr_analog/8000).
_SAMPLE_RATE = 32.0
_MIN_FREQ, _MAX_FREQ = 1.0, 16.0
_AUTOCORR_THRESHOLD = 0.3
_MIN_CONFIDENCE = 0.5
_BOOST_BAND = (0.8, 3.2)
_KEEP_BAND = (0.4, 4.0)


def pitch_nsdf(vals: DataFrame) -> DataFrame:
    """NSDF (McLeod-style) pitch detection
    (tonal/pitch_detection.go:485-553 + postProcessResult :767-875):

    - nsdf[tau] = 2 sum_j x_j x_{j+tau} / (sum x_j^2 + sum x_{j+tau}^2)
      over j < n/2, tau < n/2;
    - candidates: strict interior local maxima above the 0.3
      autocorrelation threshold with frequency = sr/tau inside the
      pitch band; best by confidence (ties -> smallest lag; the
      reference's unstable sort leaves ties unspecified);
    - clarity = (best - second)/best (best alone -> its confidence);
      strength = (periodicity + voicing)/2 (both equal confidence,
      as written); salience = confidence boosted 1.2x inside the
      perceptual band / cut 0.8x outside the keep band, capped at 1;
    - the octave-correction history is empty on a single-series call
      (applyOctaveCorrection returns unchanged, :793-800);
    - the MinConfidence = 0.5 gate zeroes pitch + confidence AFTER
      clarity/strength/salience are computed (:781-787).

    All sums are exact integer arithmetic on the token-length
    series, so both engines agree on every comparison without
    rounding.  Output: doc_id, pitch, confidence, clarity, strength,
    salience."""
    d = vals.select(
        "doc_id", F.col("pos").alias("__p"), F.col("v").cast("double").alias("__v")
    )
    half = d.groupBy("doc_id").agg(
        F.floor(F.count("*") / 2).cast("int").alias("__hn")
    )
    a = d.join(F.broadcast(half), "doc_id").where(F.col("__p") < F.col("__hn"))
    taus = half.withColumn(
        "tau", F.explode(F.sequence(F.lit(0), F.col("__hn") - 1))
    ).select(F.col("doc_id").alias("__kt"), "tau")
    at = a.join(taus, F.col("__kt") == F.col("doc_id")).drop("__kt")
    b = d.select(
        F.col("doc_id").alias("__kb"),
        F.col("__p").alias("__pb"),
        F.col("__v").alias("__vb"),
    )
    j = at.join(
        b,
        (F.col("__kb") == F.col("doc_id"))
        & (F.col("__pb") == F.col("__p") + F.col("tau")),
    )
    s = j.groupBy("doc_id", "tau").agg(
        F.sum(F.col("__v") * F.col("__vb")).alias("__acf"),
        F.sum(F.col("__v") * F.col("__v")).alias("__m1"),
        F.sum(F.col("__vb") * F.col("__vb")).alias("__m2"),
    )
    nsdf = F.when(
        F.col("__m1") + F.col("__m2") > 0,
        2.0 * F.col("__acf") / (F.col("__m1") + F.col("__m2")),
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy("doc_id").orderBy("tau")
    x = s.select("doc_id", "tau", nsdf.alias("__nd")).select(
        "doc_id",
        "tau",
        "__nd",
        F.lag("__nd").over(w).alias("__pv"),
        F.lead("__nd").over(w).alias("__nx"),
    )
    freq = F.lit(_SAMPLE_RATE) / F.col("tau").cast("double")
    cand = x.where(
        (F.col("tau") >= 1)
        & (F.col("__nd") > F.col("__pv"))
        & (F.col("__nd") > F.col("__nx"))
        & (F.col("__nd") > _AUTOCORR_THRESHOLD)
        & (freq >= _MIN_FREQ)
        & (freq <= _MAX_FREQ)
    ).select("doc_id", "tau", F.col("__nd").alias("__conf"), freq.alias("__f"))
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("__conf").desc(), F.col("tau").asc()
        )
    )
    top2 = cand.withColumn("__rn", rn).where(F.col("__rn") <= 2)
    agg = top2.groupBy("doc_id").agg(
        F.max(F.when(F.col("__rn") == 1, F.col("__f"))).alias("__pitch"),
        F.max(F.when(F.col("__rn") == 1, F.col("__conf"))).alias("__c1"),
        F.max(F.when(F.col("__rn") == 2, F.col("__conf"))).alias("__c2"),
    )
    base = d.select("doc_id").distinct().join(agg, "doc_id", "left")
    conf = F.coalesce(F.col("__c1"), F.lit(0.0))
    pitch = F.coalesce(F.col("__pitch"), F.lit(0.0))
    clarity = F.when(
        F.col("__c2").isNotNull() & (conf > 0),
        (conf - F.col("__c2")) / conf,
    ).otherwise(
        F.when(F.col("__c1").isNotNull(), conf).otherwise(F.lit(0.0))
    )
    strength = (conf + conf) / 2.0
    sal0 = conf
    sal1 = F.when(
        (pitch >= _BOOST_BAND[0]) & (pitch <= _BOOST_BAND[1]),
        sal0 * 1.2,
    ).otherwise(sal0)
    sal2 = F.when(
        (pitch < _KEEP_BAND[0]) | (pitch > _KEEP_BAND[1]), sal1 * 0.8
    ).otherwise(sal1)
    salience = F.least(sal2, F.lit(1.0))
    gated = conf < _MIN_CONFIDENCE
    return base.select(
        "doc_id",
        F.when(gated, F.lit(0.0)).otherwise(pitch).alias("pitch"),
        F.when(gated, F.lit(0.0)).otherwise(conf).alias("confidence"),
        clarity.alias("clarity"),
        strength.alias("strength"),
        salience.alias("salience"),
    )


def voice_quality_full(
    feats: DataFrame,
    onsets: DataFrame,
    hnr_df: DataFrame,
) -> DataFrame:
    """The full AnalyzeVoiceQuality result surface
    (voice_quality.go:56-115 + helpers :428-527): jitter/shimmer over
    the onset-delimited period table, per-period F0 = period_rate /
    period_length (the pitch-track analog on the frame axis), mean
    F0 + range (:calculateF0Statistics), F0/amplitude stability =
    max(0, 1 - cv) (coefficient of variation, 0 below 2 periods),
    HNR joined from the autocorrelation analyzer (0 when
    undetermined), overall quality = (jitterScore + shimmerScore +
    hnrScore + f0Stability)/4 (:428-437), analysis quality =
    (min(1, n/10) + f0Stability + min(1, max(0, hnr/15)))/3
    (:440-452).  Docs with fewer than 3 periods are dropped
    (:66-68, the reference errors).  Variances use the explicit
    E[x^2] - mean^2 form, clamped at 0, identically on both engines
    (the Go two-pass differs only below the 6-dp rounding)."""
    period_rate = 8.0
    pp = _onset_periods(feats, onsets)
    f0v = F.lit(period_rate) / F.col("plen")
    wp = Window.partitionBy("doc_id").orderBy("__period")
    d = pp.withColumn(
        "dlen", F.abs(F.col("plen") - F.lag("plen").over(wp))
    ).withColumn("damp", F.abs(F.col("amp") - F.lag("amp").over(wp)))
    agg = d.groupBy("doc_id").agg(
        F.count("*").alias("n_periods"),
        F.avg("plen").alias("__mean_len"),
        F.avg("amp").alias("__mean_amp"),
        F.sum("dlen").alias("__sum_dlen"),
        F.sum("damp").alias("__sum_damp"),
        F.avg(f0v).alias("mean_f0"),
        (F.max(f0v) - F.min(f0v)).alias("f0_range"),
        F.avg(f0v * f0v).alias("__f0_sq"),
        F.avg(F.col("amp") * F.col("amp")).alias("__amp_sq"),
    ).where(F.col("n_periods") >= 3)
    n = F.col("n_periods").cast("double")
    jitter = F.when(
        F.col("__mean_len") != 0,
        (F.col("__sum_dlen") / (n - 1.0)) / F.col("__mean_len") * 100.0,
    ).otherwise(F.lit(0.0))
    shimmer = F.when(
        F.col("__mean_amp") != 0,
        (F.col("__sum_damp") / (n - 1.0)) / F.col("__mean_amp") * 100.0,
    ).otherwise(F.lit(0.0))

    def stab(mean_col, sq_col):
        var = F.greatest(sq_col - mean_col * mean_col, F.lit(0.0))
        cv = F.sqrt(var) / mean_col
        return F.when(
            (F.col("n_periods") >= 2) & (mean_col != 0),
            F.greatest(F.lit(0.0), 1.0 - cv),
        ).otherwise(F.lit(0.0))

    f0_stab = stab(F.col("mean_f0"), F.col("__f0_sq"))
    amp_stab = stab(F.col("__mean_amp"), F.col("__amp_sq"))
    h = hnr_df.select(
        F.col("doc_id").alias("__hk"), F.col("hnr_db").alias("__hnr")
    )
    j = agg.join(h, F.col("__hk") == F.col("doc_id"), "left").withColumn(
        "__hnr", F.coalesce("__hnr", F.lit(0.0))
    )
    jitter_score = F.greatest(F.lit(0.0), 1.0 - jitter / 5.0)
    shimmer_score = F.greatest(F.lit(0.0), 1.0 - shimmer / 10.0)
    hnr_score = F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), F.col("__hnr") / 20.0)
    )
    overall = (jitter_score + shimmer_score + hnr_score + f0_stab) / 4.0
    analysis = (
        F.least(F.lit(1.0), n / 10.0)
        + f0_stab
        + F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.col("__hnr") / 15.0))
    ) / 3.0
    return j.select(
        "doc_id",
        "n_periods",
        jitter.alias("jitter_pct"),
        shimmer.alias("shimmer_pct"),
        F.col("__hnr").alias("hnr_db"),
        "mean_f0",
        "f0_range",
        f0_stab.alias("f0_stability"),
        amp_stab.alias("amp_stability"),
        overall.alias("overall_quality"),
        analysis.alias("analysis_quality"),
    )


OCTAVE_RATIOS = (0.5, 2.0, 1.0 / 3.0, 3.0)
# the stream post-processor's median smoothing window and history cap
# (pitch_detection.go:881-921)
_MEDIAN_FILTER = 3
_MAX_HISTORY = 20


def _median_positive(values: list[float]) -> float:
    """calculateMedian (pitch_detection.go:978-1007): drop zeros,
    sort, average the middle two on even counts; 0.0 when nothing
    positive survives."""
    filt = sorted(v for v in values if v > 0)
    n = len(filt)
    if n == 0:
        return 0.0
    if n % 2 == 0:
        return (filt[n // 2 - 1] + filt[n // 2]) / 2.0
    return filt[n // 2]


class PitchTracker:
    """Scalar port of the reference's per-stream pitch
    post-processing state (ProcessAudioStream
    pitch_detection.go:1016-1029 driving DetectPitch :225-279): the
    pitchHistory + previousPitch of one stream.  ``step`` processes
    one frame, in order —

    - octave correction (:793-827): with >= 3 of the last 5 history
      pitches, the FIRST ratio in {0.5, 2, 1/3, 3} whose expected
      pitch med*r is within 10% of the raw pitch breaks the loop,
      swapping to med*r only if the raw pitch is strictly farther
      from the median (F0Multiple = r, else 1);
    - salience (:857-873) recomputed on the corrected pitch;
    - the MinConfidence gate (:783-787) zeroes pitch + confidence
      AFTER correction;
    - history append of the gated pitch, capped at the last 20
      (:881-890) — the history stores pre-smoothing values;
    - temporal smoothing (:904-921): median of the last 3 history
      entries (zeros dropped) once 3 exist, else exponential
      0.3*current + 0.7*previous-smoothed;
    - stability (:923-963) = max(0, 1 - cv) over the positive
      history pitches (sample stddev, n-1), 0 below 3 history / 2
      valid entries.

    Input per frame: (pitch, confidence), 6-dp pre-rounded — the
    quantized interface the DuckDB recursive-CTE oracle replays.
    Returns (pitch_corrected, pitch_smoothed, f0_multiple, salience,
    stability).  ``reset`` starts a new stream."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.hist: list[float] = []
        self.prev_smoothed = 0.0

    def step(self, p: float, c: float):
        import math

        hist = self.hist
        f0m = 1.0
        if p != 0.0 and len(hist) > 0:
            recent = hist[-5:]
            if len(recent) >= 3:
                med = _median_positive(recent)
                for r in OCTAVE_RATIOS:
                    e = med * r
                    # Go computes |p-e|/e with e=0 -> +Inf -> false
                    if e != 0.0 and abs(p - e) / e < 0.1:
                        if abs(p - med) > abs(e - med):
                            p, f0m = e, r
                        break
        sal = c
        if _BOOST_BAND[0] <= p <= _BOOST_BAND[1]:
            sal *= 1.2
        if p < _KEEP_BAND[0] or p > _KEEP_BAND[1]:
            sal *= 0.8
        sal = min(sal, 1.0)
        if c < _MIN_CONFIDENCE:
            p, c = 0.0, 0.0
        hist.append(p)
        if len(hist) > _MAX_HISTORY:
            del hist[: len(hist) - _MAX_HISTORY]
        sm = p
        if len(hist) > 1:
            # Go gates on len(getRecentPitches(MedianFilter)) >= 3: a
            # shorter history falls through to exponential smoothing
            # (pitch_detection.go:905-921).
            if len(hist) >= _MEDIAN_FILTER:
                sm = _median_positive(hist[-_MEDIAN_FILTER:])
            else:
                sm = 0.3 * p + 0.7 * self.prev_smoothed
        st = 0.0
        if len(hist) >= 3:
            valid = [x for x in hist if x > 0]
            if len(valid) >= 2:
                mean = sum(valid) / len(valid)
                var = sum((x - mean) * (x - mean) for x in valid) / (
                    len(valid) - 1
                )
                if mean > 0:
                    st = max(0.0, 1.0 - math.sqrt(var) / mean)
        self.prev_smoothed = sm
        return (p, sm, f0m, sal, st)


def pitch_track(det: DataFrame) -> DataFrame:
    """Pitch temporal post-processing over per-frame raw detections
    (see :class:`PitchTracker`).

    Shape: ONE shuffle (repartition on the key) + sortWithinPartitions
    + mapInArrow streaming a per-key state machine over the sorted
    rows.  A grouped map would pay the ~4-8 ms fixed per-GROUP Arrow
    cost (the as-of/r1 finding) — at 5k one-doc groups that is
    20-40 s of pure overhead, 10x the actual work.
    The post-processor is strictly forward (each frame depends only
    on prior state), so a doc whose rows straddle an Arrow batch
    boundary carries its history across batches in the generator
    closure.  Output: doc_id, frame_idx, pitch_corrected, pitch
    (smoothed), f0_multiple, salience, stability."""
    inp = (
        det.select(
            F.col("doc_id").alias("__k"),
            F.col("frame_idx").cast("int").alias("__f"),
            F.col("pitch").cast("double").alias("__pp"),
            F.col("confidence").cast("double").alias("__pc"),
        )
        .repartition("__k")
        .sortWithinPartitions("__k", "__f")
    )
    out_schema = (
        "doc_id long, frame_idx int, pitch_corrected double,"
        " pitch double, f0_multiple double, salience double,"
        " stability double"
    )

    out = arrow_schema(out_schema)

    def gen(batches):
        cur = None  # current key
        tr = PitchTracker()
        for batch in batches:
            rows = []
            for k, f, p, c in zip(
                *(col.to_numpy(zero_copy_only=False).tolist()
                  for col in batch.columns)
            ):
                if k != cur:
                    cur = k
                    tr.reset()
                rows.append((k, f, *tr.step(p, c)))
            yield arrow_batch(out, zip(*rows))

    return inp.mapInArrow(gen, out_schema)


# frame shape of the per-frame detector (W=32 hop=4 over the token
# series) and the frames per numpy chunk, which bounds each worker's
# working set to O(chunk x window)
_WINDOW, _HOP = 32, 4
_CHUNK = 8192


def pitch_nsdf_tokens(toks: DataFrame) -> DataFrame:
    """Per-frame NSDF raw detection (pitch_detection.go:485-550)
    straight off the TOKEN table — the vectorized form of
    :func:`pitch_nsdf` for frame streams (the frame_features_flat
    discipline).

    The generic operator shapes NSDF as a positional self-join
    (series x taus x lagged values): correct for variable-length
    series, but W/2 x W/2 joined rows PER FRAME through a shuffle.
    With W a plan-time constant a frame chunk becomes one (N, W)
    matrix and the tau loop W/2 vectorized row reductions — narrow,
    no shuffle, no join.  Frames are gathered from each batch's
    concatenated token stream through ``kernels.flat_frame_starts`` in
    fixed-size chunks, so the overlapping-window data amplification
    (8x at W=32 hop=4) never materializes as Arrow arrays.  All sums
    are exact integer arithmetic on token lengths, so the nsdf values
    are bit-identical to the join form regardless of summation order.

    Best candidate per frame = strict interior local maximum above
    the threshold inside the frequency band, highest nsdf first and
    smallest lag on ties (argmax returns the first maximum).  Output:
    doc_id, frame_idx, pitch, confidence (ungated; the stream
    post-processor applies the MinConfidence gate after octave
    correction)."""
    import numpy as np

    from .. import kernels

    half = _WINDOW // 2
    band = [
        i
        for i in range(1, half - 1)
        if _MIN_FREQ <= _SAMPLE_RATE / i <= _MAX_FREQ
    ]
    out_schema = (
        "doc_id long, frame_idx long, pitch double,"
        " confidence double"
    )

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        idxW = np.arange(_WINDOW)
        for batch in batches:
            ids = batch.column(batch.schema.get_field_index("doc_id"))
            flat, lens = kernels.list_flat(
                batch.column(batch.schema.get_field_index("tokens"))
            )
            flat = flat.astype(np.float64)
            starts, doc_nf = kernels.flat_frame_starts(
                lens, _WINDOW, _HOP
            )
            total = int(doc_nf.sum())
            if total == 0:
                continue
            nf_start = np.concatenate(([0], np.cumsum(doc_nf)[:-1]))
            fidx = np.arange(total, dtype=np.int64) - np.repeat(
                nf_start, doc_nf
            )
            take = np.repeat(
                np.arange(len(lens), dtype=np.int64), doc_nf
            )
            pitch = np.empty(total)
            conf = np.empty(total)
            for a in range(0, total, _CHUNK):
                b = min(a + _CHUNK, total)
                fr = flat[starts[a:b, None] + idxW]
                head = fr[:, :half]
                m1 = (head * head).sum(axis=1)
                nd = np.zeros((b - a, half))
                for tau in range(half):
                    seg = fr[:, tau : tau + half]
                    den = m1 + (seg * seg).sum(axis=1)
                    np.divide(
                        2.0 * (head * seg).sum(axis=1),
                        den,
                        out=nd[:, tau],
                        where=den > 0,
                    )
                valid = np.zeros((b - a, half), dtype=bool)
                for i in band:
                    valid[:, i] = (
                        (nd[:, i] > nd[:, i - 1])
                        & (nd[:, i] > nd[:, i + 1])
                        & (nd[:, i] > _AUTOCORR_THRESHOLD)
                    )
                score = np.where(valid, nd, -np.inf)
                best = score.argmax(axis=1)
                has = score[np.arange(b - a), best] > -np.inf
                pitch[a:b] = np.where(
                    has, _SAMPLE_RATE / np.maximum(best, 1), 0.0
                )
                conf[a:b] = np.where(
                    has, nd[np.arange(b - a), best], 0.0
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(ids, pa.array(take)),
                    pa.array(fidx),
                    pa.array(pitch),
                    pa.array(conf),
                ],
                names=["doc_id", "frame_idx", "pitch", "confidence"],
            )

    return toks.select("doc_id", "tokens").mapInArrow(
        gen, schema=out_schema
    )
