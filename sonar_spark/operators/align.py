"""Pairwise temporal alignment: normalized cross-correlation with
FFT auto-switch, peak/quality metrics, confidence scoring, and the
hybrid corr->DTW two-phase (SURVEY §2.6/§3.2; reference
algorithms/stats/alignment.go:60-341, correlation.go:131-449,
dtw.go:55-233).

Plan shape (the reference's hybrid heuristic as orchestration,
alignment.go:308-337): phase 1 runs cheap cross-correlation on every
pair; phase 2 re-runs only low-confidence pairs (conf <= threshold)
through band-constrained DTW and blends. Selective recompute = a
filter + second per-row Arrow kernel + union — no custom Catalyst
rule.

Input representation: one row per pair with both series materialized
as array<double> (built by build_doc_series + a join). Per-pair
kernels are inherently sequential; each pair is one numpy call inside
an Arrow batch (no per-element Python).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import kernels
from ..config import AlignmentConfig
from ..session import map_rows

_ALIGN_SCHEMA = (
    "pair_id string, lag double, peak double, sharpness double, "
    "sidelobe double, snr double, second_peak double, confidence double, "
    "method string, dtw_dist double, dtw_offset double, offset double, "
    "time_stretch double"
)

# phase-1 confidence at or below which a pair is re-scored with DTW
# (the hybrid fallback trigger, alignment.go:316)
_HYBRID_CONF_THRESHOLD = 0.7


def build_doc_series(feats: DataFrame, signal: str = "rms_energy") -> DataFrame:
    """Per-doc ordered feature series: (doc_id, series array<double>).
    One shuffle (groupBy key); ordering via sort_array over
    (order, value) structs — deterministic under any partitioning."""
    return feats.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("frame_idx").alias("o"), F.col(signal).alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("series")
    )


def align_pairs(
    pairs: DataFrame,
    cfg: AlignmentConfig = AlignmentConfig(),
) -> DataFrame:
    """Align every (series_a, series_b) pair.

    Phase 1: normalized xcorr (FFT above 1000 samples), peak lag
    + quality metrics + weighted confidence (0.55/0.22/0.12/0.06,
    alignment.go:234-240). Phase 2: rows with confidence <=
    0.7 re-scored with Sakoe-Chiba DTW (band 50)
    (symmetric2); blended confidence 0.6*corr + 0.4*dtw and offset
    from the DTW path mean displacement (alignment.go:308-337,
    530-541). Output one row per pair."""

    def phase1(pid, sa, sb):
        sa = np.asarray(sa, dtype=np.float64)
        sb = np.asarray(sb, dtype=np.float64)
        lags, corr = kernels.xcorr_normalized(sa, sb, cfg.max_lag)
        m = kernels.xcorr_peak_metrics(lags, corr)
        conf = kernels.xcorr_confidence(m)
        # time-stretch estimate: length ratio only in the
        # xcorr phase (extractors/alignment.go:448-476)
        ratio = len(sb) / len(sa) if len(sa) else 1.0
        return [
            (pid, m["lag"], m["peak"], m["sharpness"], m["sidelobe"],
             m["snr"], m["second_peak"], conf, "xcorr", None, None,
             m["lag"], ratio)
        ]

    def phase2(pid, lag, peak, sharp, side, snr, second, p1conf, sa, sb):
        sa = np.asarray(sa, dtype=np.float64)
        sb = np.asarray(sb, dtype=np.float64)
        d = kernels.dtw_align(sa, sb)
        conf = 0.6 * p1conf + 0.4 * d["confidence"]
        off = 0.6 * lag + 0.4 * d["offset"]
        ratio = len(sb) / len(sa) if len(sa) else 1.0
        # 0.7 length-ratio + 0.3 DTW path slope blend
        # (extractors/alignment.go:448-476)
        stretch = 0.7 * ratio + 0.3 * d["slope"]
        return [
            (pid, lag, peak, sharp, side, snr, second, conf,
             "hybrid", d["dist"], d["offset"], off, stretch)
        ]

    inp = pairs.select("pair_id", "series_a", "series_b")
    p1 = map_rows(inp, phase1, _ALIGN_SCHEMA)
    # selective recompute: join the low-confidence subset back to its
    # input series, run DTW, union with the confident subset
    low = p1.where(F.col("confidence") <= _HYBRID_CONF_THRESHOLD)
    high = p1.where(F.col("confidence") > _HYBRID_CONF_THRESHOLD)
    low_inp = low.join(inp, "pair_id").select(
        "pair_id", "lag", "peak", "sharpness", "sidelobe", "snr",
        "second_peak", "confidence", "series_a", "series_b",
    )
    return high.unionByName(map_rows(low_inp, phase2, _ALIGN_SCHEMA))


def align_pairs_dtw(pairs: DataFrame) -> DataFrame:
    """DTW-only alignment of every pair (the forced-method path the
    multi-feature extractor uses for chroma features,
    extractors/alignment.go:346-352 with method AlignmentDTW).

    Output: pair_id, offset (mean path displacement), confidence
    (exp-decay of path-normalized distance), similarity (same decay —
    the distance-similarity component of alignment.go:383-404
    simplified), quality (path efficiency max(len)/path_len clamped,
    alignment.go:436-440), dtw_dist."""

    def run(pid, sa, sb):
        sa = np.asarray(sa, dtype=np.float64)
        sb = np.asarray(sb, dtype=np.float64)
        d = kernels.dtw_align(sa, sb)
        eff = (
            min(max(len(sa), len(sb)) / d["path_len"], 1.0)
            if d["path_len"]
            else 0.0
        )
        return [
            (pid, d["offset"], d["confidence"], d["confidence"], eff,
             d["dist"])
        ]

    return map_rows(
        pairs.select("pair_id", "series_a", "series_b"),
        run,
        "pair_id string, offset double, confidence double, "
        "similarity double, quality double, dtw_dist double",
    )


# priority weights of selectBestAlignment
# (extractors/alignment.go:415-426: corr_energy 1.0, dtw_chroma 0.7,
# unknown feature types 0.5)
BEST_SELECT_WEIGHTS = {"corr_energy": 1.0, "dtw_chroma": 0.7}


def select_best_alignment(results: DataFrame) -> DataFrame:
    """selectBestAlignment (extractors/alignment.go:412-445): score =
    weight(feature_type) * (0.4 confidence + 0.4 similarity +
    0.2 quality); keep the argmax row per pair. Pure expressions +
    one per-pair top-1 window."""
    from .topk import topk_per_group

    wcol = F.coalesce(
        *[
            F.when(F.col("feature_type") == k, F.lit(float(v)))
            for k, v in BEST_SELECT_WEIGHTS.items()
        ],
        F.lit(0.5),  # default for unknown feature types (:433-435)
    )
    score = wcol * (
        0.4 * F.col("confidence")
        + 0.4 * F.col("similarity")
        + 0.2 * F.col("quality")
    )
    scored = results.withColumn("score", score)
    best = topk_per_group(
        scored,
        "pair_id",
        [F.col("score").desc(), F.col("feature_type").asc()],
        1,
    )
    return best.drop("rank")


def multi_feature_align(
    pairs: DataFrame,
    cfg: AlignmentConfig = AlignmentConfig(),
) -> DataFrame:
    """performMultiFeatureAlignment (extractors/alignment.go:300-356):
    align each pair on MULTIPLE feature series — cross-correlation for
    the energy series, DTW for the chroma(-analog) series — then
    weighted best-select.

    pairs carries per-feature series columns <name>_a / <name>_b
    (e.g. energy_a, energy_b, chroma_a, chroma_b). Returns one row per
    pair: the winning alignment with its feature_type and score."""
    per_feature = []
    for ftype, col in (("corr_energy", "energy"), ("dtw_chroma", "chroma")):
        sub = pairs.select(
            "pair_id",
            F.col(f"{col}_a").alias("series_a"),
            F.col(f"{col}_b").alias("series_b"),
        )
        if ftype.startswith("corr"):
            r = align_pairs(sub, cfg).select(
                "pair_id",
                F.col("offset"),
                "confidence",
                # corr similarity = peak; quality = sidelobe/10 clamped
                # (the corr components of alignment.go:383-404)
                F.least(F.col("peak"), F.lit(1.0)).alias("similarity"),
                F.least(F.col("sidelobe") / 10.0, F.lit(1.0)).alias(
                    "quality"
                ),
            )
        else:
            r = align_pairs_dtw(sub).select(
                "pair_id", "offset", "confidence", "similarity", "quality"
            )
        per_feature.append(r.withColumn("feature_type", F.lit(ftype)))
    allr = per_feature[0]
    for r in per_feature[1:]:
        allr = allr.unionByName(r)
    return select_best_alignment(allr)


def consistency_trials(
    pairs: DataFrame, cfg: AlignmentConfig = AlignmentConfig()
) -> DataFrame:
    """Alignment consistency check (reference stats/alignment.go:
    710-801): re-align each pair 3 times with a deterministic
    sin-based ~1% perturbation of series_b (:737-749), then aggregate
    offset statistics. Embarrassingly parallel: rows replicated with a
    trial_id column, one align_pairs pass, one groupBy.

    Output: pair_id, n_trials, offset_mean, offset_std, offset_range,
    consistency (1 - range/max_lag, clamped to [0,1])."""
    perturb = 0.01
    t = pairs.withColumn("__trial", F.explode(F.sequence(F.lit(0), F.lit(2))))
    perturbed = t.withColumn(
        "series_b",
        F.zip_with(
            "series_b",
            F.sequence(F.lit(0), F.size("series_b") - 1),
            lambda v, i: v
            * (
                1.0
                + perturb
                * F.sin(F.col("__trial") * F.lit(7.0) + i.cast("double"))
            ),
        ),
    ).withColumn(
        "pair_id", F.concat(F.col("pair_id"), F.lit("#"), F.col("__trial"))
    )
    aligned = align_pairs(perturbed, cfg)
    base = F.split(F.col("pair_id"), "#").getItem(0)
    agg = aligned.groupBy(base.alias("pair_id")).agg(
        F.count("*").alias("n_trials"),
        F.avg("offset").alias("offset_mean"),
        F.coalesce(F.stddev_pop("offset"), F.lit(0.0)).alias("offset_std"),
        (F.max("offset") - F.min("offset")).alias("offset_range"),
    )
    return agg.withColumn(
        "consistency",
        F.greatest(
            F.lit(0.0),
            F.lit(1.0) - F.col("offset_range") / F.lit(float(cfg.max_lag)),
        ),
    )
