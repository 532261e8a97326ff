"""Formant analysis from the LPC spectral envelope
(speech/format.go:148-357).

The reference extracts formants as peaks of the LPC spectral envelope
(findFormantsFromLPC, format.go:148-194), NOT from polynomial roots:

- local maxima of the nfft/2+1-point envelope with relative height
  > 0.1 of the per-signal max (findSpectralPeaks :197-228);
- frequency = bin * sampleRate / nfft, kept in [minFreq, sr/2];
- bandwidth = half-height width: nearest bin left/right whose
  envelope <= peak/2 (stays at the peak bin when none), times the
  frequency resolution, clamped to [50, 500] Hz
  (estimateFormantBandwidth :231-270);
- confidence = freqFactor * min(amplitude, 1) * bwFactor with the
  piecewise factors of calculateFormantConfidence (:273-298);
- sort by frequency, truncate to maxFormants BEFORE validation
  (:185-192), then drop confidence < 0.2 (validateFormants
  :301-329), then the greedy min-200 Hz spacing chain that REPLACES
  the last kept formant when a too-close candidate has higher
  confidence (ensureProperSpacing :332-357).

Everything is relational: window lag/lead for local maxima, one
bounded join for the half-height search, and a Catalyst aggregate()
fold for the spacing chain (<= maxFormants elements per key).  All
peak logic runs on the 6-dp-rounded envelope so the DuckDB oracle's
libm and the JVM's agree bit-for-bit on every comparison.

formant_summary adds the reference's vocal-tract-length estimate
(estimateVocalTractLength :359-391: VTL_n = (2n-1) * 35000 / (4 F_n)
averaged over confident formants with 10 <= VTL <= 25, default 17.5)
and the 4-component analysis quality (calculateAnalysisQuality
:394-425).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lpc import lpc_envelope

_SPEED_OF_SOUND = 35000.0  # cm/s (format.go:366)


def _confidence(freq, amp, bw):
    """calculateFormantConfidence (format.go:273-298): product of the
    frequency, amplitude, and bandwidth factors, in the reference's
    multiplication order."""
    freqf = (
        F.when((freq >= 300.0) & (freq <= 3500.0), F.lit(1.0))
        .when((freq >= 100.0) & (freq <= 5000.0), F.lit(0.7))
        .otherwise(F.lit(0.3))
    )
    ampf = F.least(amp, F.lit(1.0))
    bwf = (
        F.when((bw >= 50.0) & (bw <= 300.0), F.lit(1.0))
        .when((bw >= 30.0) & (bw <= 500.0), F.lit(0.8))
        .otherwise(F.lit(0.5))
    )
    return F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), freqf * ampf * bwf)
    )


def formants(coeffs: DataFrame) -> DataFrame:
    """Per-key formants from LPC coefficients (columns a1..a{order}).
    Output: doc_id, formant_idx (1-based, frequency order after the
    spacing chain), frequency, bandwidth, amplitude, confidence."""
    order = 4
    nfft = 32
    sample_rate = 8000.0
    max_formants = 4
    min_freq = 50.0
    min_spacing = 200.0
    freq_res = float(sample_rate) / float(nfft)
    max_freq = float(sample_rate) / 2.0

    env = lpc_envelope(coeffs, nfft=nfft, order=order).select(
        "doc_id", "k_idx", F.round("envelope", 6).alias("e6")
    )
    w = Window.partitionBy("doc_id").orderBy("k_idx")
    wk = Window.partitionBy("doc_id")
    x = env.select(
        "doc_id",
        "k_idx",
        "e6",
        F.lag("e6").over(w).alias("__prv"),
        F.lead("e6").over(w).alias("__nxt"),
        F.max("e6").over(wk).alias("__mx"),
    )
    freq = F.col("k_idx").cast("double") * F.lit(freq_res)
    pk = x.where(
        (F.col("k_idx") >= 1)
        & (F.col("k_idx") <= nfft // 2 - 1)
        & (F.col("e6") > F.col("__prv"))
        & (F.col("e6") > F.col("__nxt"))
        & (F.col("__mx") > 0)
        & (F.col("e6") / F.col("__mx") > 0.1)
        & (freq >= min_freq)
        & (freq <= max_freq)
    ).select(
        "doc_id",
        F.col("k_idx").alias("__pk"),
        F.col("e6").alias("__amp"),
        (F.col("e6") / F.lit(2.0)).alias("__half"),
    )

    # Half-height bandwidth: nearest envelope bin at or below half
    # height on each side; stays at the peak bin when none exists.
    e2 = env.select(
        F.col("doc_id").alias("__k2"), F.col("k_idx").alias("__kb"),
        F.col("e6").alias("__eb"),
    )
    bwj = pk.join(e2, F.col("__k2") == F.col("doc_id")).groupBy(
        "doc_id", "__pk", "__amp", "__half"
    ).agg(
        F.max(
            F.when(
                (F.col("__kb") < F.col("__pk"))
                & (F.col("__eb") <= F.col("__half")),
                F.col("__kb"),
            )
        ).alias("__l"),
        F.min(
            F.when(
                (F.col("__kb") > F.col("__pk"))
                & (F.col("__eb") <= F.col("__half")),
                F.col("__kb"),
            )
        ).alias("__r"),
    )
    bw_raw = (
        F.coalesce(F.col("__r"), F.col("__pk"))
        - F.coalesce(F.col("__l"), F.col("__pk"))
    ).cast("double") * F.lit(freq_res)
    bw = F.least(F.greatest(bw_raw, F.lit(50.0)), F.lit(500.0))
    freq_p = F.col("__pk").cast("double") * F.lit(freq_res)
    cand = bwj.select(
        "doc_id",
        freq_p.alias("frequency"),
        bw.alias("bandwidth"),
        F.col("__amp").alias("amplitude"),
        _confidence(freq_p, F.col("__amp"), bw).alias("confidence"),
    )

    # Sort by frequency, truncate to maxFormants BEFORE the
    # confidence filter (format.go:185-192 then :301-329).
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("frequency")
    )
    valid = (
        cand.withColumn("__rn", rn)
        .where(F.col("__rn") <= max_formants)
        .where(F.col("confidence") >= 0.2)
        .drop("__rn")
    )

    # Greedy spacing chain (format.go:332-357): keep the first; a
    # candidate < minSpacing above the last kept REPLACES it iff its
    # confidence is higher.  <= maxFormants elements per key, so a
    # Catalyst aggregate() fold over the sorted struct array.
    arr = valid.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct("frequency", "bandwidth", "amplitude", "confidence")
            )
        ).alias("__c")
    )
    kept = F.aggregate(
        F.slice(F.col("__c"), 2, F.greatest(F.size("__c") - 1, F.lit(0))),
        F.array(F.element_at(F.col("__c"), 1)),
        lambda acc, x: F.when(
            x["frequency"] - F.element_at(acc, -1)["frequency"]
            >= min_spacing,
            F.concat(acc, F.array(x)),
        )
        .when(
            x["confidence"] > F.element_at(acc, -1)["confidence"],
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(x)
            ),
        )
        .otherwise(acc),
    )
    return arr.select("doc_id", F.posexplode(kept).alias("__i", "__f")).select(
        "doc_id",
        (F.col("__i") + 1).alias("formant_idx"),
        F.col("__f.frequency").alias("frequency"),
        F.col("__f.bandwidth").alias("bandwidth"),
        F.col("__f.amplitude").alias("amplitude"),
        F.col("__f.confidence").alias("confidence"),
    )


def formant_summary(coeffs: DataFrame, fmts: DataFrame) -> DataFrame:
    """Per-key num_formants, vocal-tract length, and analysis quality
    (format.go:359-425) from the LPC table (resid_e, stable) and the
    formants() output.  Keys with LPC but no formants get the
    reference's no-formant results (vtl 17.5, quality 0)."""
    vtl_i = (
        (2.0 * F.col("formant_idx").cast("double") - 1.0)
        * F.lit(_SPEED_OF_SOUND)
        / (4.0 * F.col("frequency"))
    )
    per = fmts.groupBy("doc_id").agg(
        F.count("*").alias("__nf"),
        F.avg("confidence").alias("__avg_conf"),
        F.sum(
            F.when(
                (F.col("frequency") > 0)
                & (F.col("confidence") > 0.3)
                & (vtl_i >= 10.0)
                & (vtl_i <= 25.0),
                vtl_i,
            )
        ).alias("__vtl_sum"),
        F.count(
            F.when(
                (F.col("frequency") > 0)
                & (F.col("confidence") > 0.3)
                & (vtl_i >= 10.0)
                & (vtl_i <= 25.0),
                1,
            )
        ).alias("__vtl_n"),
    )
    base = coeffs.select("doc_id", "resid_e", "stable")
    j = base.join(per, "doc_id", "left")
    nf = F.coalesce(F.col("__nf"), F.lit(0))
    vtl = F.when(
        F.col("__vtl_n") > 0, F.col("__vtl_sum") / F.col("__vtl_n")
    ).otherwise(F.lit(17.5))
    lpc_q = F.when(
        F.col("resid_e") > 0,
        F.greatest(
            F.lit(0.0),
            1.0 - F.least(F.lit(1.0), F.col("resid_e")),
        ),
    ).otherwise(F.lit(1.0))
    quality = F.when(
        nf == 0, F.lit(0.0)
    ).otherwise(
        (
            F.least(nf.cast("double") / 3.0, F.lit(1.0))
            + F.col("__avg_conf")
            + lpc_q
            + F.col("stable").cast("double")
        )
        / 4.0
    )
    return j.select(
        "doc_id",
        nf.cast("int").alias("num_formants"),
        vtl.alias("vtl"),
        quality.alias("quality"),
    )
