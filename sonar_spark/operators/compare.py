"""Fingerprint comparison + FindBestMatches top-k (SURVEY §2.8;
reference fingerprint/comparison.go:133-263).

Semantics reproduced:
- per-feature-group similarity, each reducing a (mean,std) stats
  vector pair to a cosine (compareSequenceStats, comparison.go:827-842)
  or a minhash-agreement estimate;
- weighted mean over groups by per-content weight table
  (comparison.go:1055-1104; token-domain groups energy/moments/minhash);
- content filter early-exit: differing source => similarity 0 row
  skipped before any math (comparison.go:160-166) — expressed as a
  join predicate so Catalyst pushes it into the join;
- match classification thresholds {.95,.85,.75,.6}
  (comparison.go:1040-1052);
- FindBestMatches: similarity threshold 0.6 + per-query rank, top
  50 candidates (comparison.go:197-263).

Physical: catalog side broadcast when small (local: always); the only
shuffle is the per-query top-k window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import ComparisonConfig
from ..functions.arrays import cosine_similarity
from .topk import topk_per_group

ENERGY_STATS = ["rms_energy_mean", "rms_energy_std", "crest_mean", "crest_std"]
MOMENT_STATS = [
    "mean_mean", "mean_std", "std_mean", "std_std",
    "skew_mean", "skew_std", "kurt_mean", "kurt_std",
]
# per-coefficient (mean, std) of the MFCC-analog frame features — the
# extractMFCCStatistics comparison role (comparison.go:774-800 +
# compareSequenceStats :827-842); used when present in the input
MFCC_STATS = [f"mfcc{i}_{s}" for i in range(6) for s in ("mean", "std")]
# per-doc mean chroma vector — the compareChromaFeatures role
# (comparison.go:673-688: cosine of the mean chroma vectors); used
# when present in the input
CHROMA_STATS = [f"chroma{i}" for i in range(12)]
# FindBestMatches defaults (comparison.go:197-263) and the match-class
# thresholds (comparison.go:1040-1052)
_SIMILARITY_THRESHOLD = 0.6
_K = 3  # matches kept per query
_MATCH_THRESHOLDS = (0.95, 0.85, 0.75, 0.6)


def _stats_vec(prefix: str, cols: list[str]) -> Column:
    return F.array(*[F.col(f"{prefix}{c}").cast("double") for c in cols])


def match_class(sim: Column) -> Column:
    """Reference match-class thresholds (comparison.go:1040-1052)."""
    t = _MATCH_THRESHOLDS
    return (
        F.when(sim >= t[0], "excellent")
        .when(sim >= t[1], "good")
        .when(sim >= t[2], "fair")
        .when(sim >= t[3], "poor")
        .otherwise("no_match")
    )


def compare_topk(
    query: DataFrame,
    catalog: DataFrame,
    cfg: ComparisonConfig = ComparisonConfig(),
    *,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """query/catalog: doc_stats output, optionally joined with a
    minhash column (doc_id, source, <feature>_mean/_std ...,
    [minhash array<long>]).

    `candidates` (query_id, match_id) restricts scoring to the given
    pair set — the SURVEY §3.3 scale path where an LSH band join
    prunes the otherwise-quadratic pair space (the reference itself
    brute-forces every catalog entry, comparison.go:197-263; the
    all-pairs default reproduces that as the small-catalog baseline).
    With candidates the plan is: pair set (one LSH shuffle upstream)
    -> two hash joins to attach both fingerprints -> scoring — linear
    in the candidate count, no quadratic anywhere.

    Output: query_id, match_id, rank, similarity, match_class,
    sim_energy, sim_moments[, sim_minhash][, sim_mfcc]."""
    # MFCC / minhash groups participate when the fingerprints carry
    # them (availability semantics of comparison.go:168-196: only
    # present feature groups are scored)
    has_mfcc = all(c in query.columns for c in MFCC_STATS)
    has_chroma = all(c in query.columns for c in CHROMA_STATS)
    has_minhash = "minhash" in query.columns
    stat_cols = (
        ENERGY_STATS
        + MOMENT_STATS
        + (MFCC_STATS if has_mfcc else [])
        + (CHROMA_STATS if has_chroma else [])
    )
    has_nf = "n_frames" in query.columns
    qcols = (
        [F.col("doc_id").alias("query_id"), F.col("source").alias("q_source")]
        + [F.col(c).alias(f"q_{c}") for c in stat_cols]
        + ([F.col("minhash").alias("q_minhash")] if has_minhash else [])
        + ([F.col("n_frames").alias("q_n_frames")] if has_nf else [])
    )
    ccols = (
        [F.col("doc_id").alias("match_id"), F.col("source").alias("c_source")]
        + [F.col(c).alias(f"c_{c}") for c in stat_cols]
        + ([F.col("minhash").alias("c_minhash")] if has_minhash else [])
        + ([F.col("n_frames").alias("c_n_frames")] if has_nf else [])
    )
    q = query.select(*qcols)
    c = catalog.select(*ccols)
    # content filter, the early-exit analog: pushed into the join,
    # never scored
    cond = (F.col("query_id") != F.col("match_id")) & (
        F.col("q_source") == F.col("c_source")
    )
    if candidates is not None:
        pairs = candidates.select("query_id", "match_id")
        j = pairs.join(q, "query_id").join(c, "match_id").where(cond)
    else:
        j = q.join(F.broadcast(c), cond)

    groups = [
        ("energy", cosine_similarity(
            _stats_vec("q_", ENERGY_STATS), _stats_vec("c_", ENERGY_STATS))),
        ("moments", cosine_similarity(
            _stats_vec("q_", MOMENT_STATS), _stats_vec("c_", MOMENT_STATS))),
    ]
    if has_chroma:
        groups.append(("chroma", cosine_similarity(
            _stats_vec("q_", CHROMA_STATS), _stats_vec("c_", CHROMA_STATS))))
    if has_minhash:
        sim_minhash = F.aggregate(
            F.zip_with(
                "q_minhash", "c_minhash", lambda x, y: (x == y).cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) / F.size("q_minhash")
        groups.append(("minhash", sim_minhash))
    if has_mfcc:
        groups.append(("mfcc", cosine_similarity(
            _stats_vec("q_", MFCC_STATS), _stats_vec("c_", MFCC_STATS))))
    ng = len(groups)

    # per-content weight table (comparison.go:1055-1104) as a literal
    # map resolved at plan build; weighted mean over present groups
    def group_weight(name: str):
        cases = [
            F.when(F.col("q_source") == src, F.lit(float(w.get(name, 1 / ng))))
            for src, w in cfg.weights.items()
        ]
        return F.coalesce(*cases, F.lit(1 / ng))

    weights = [group_weight(name) for name, _ in groups]
    wsum = weights[0]
    for w in weights[1:]:
        wsum = wsum + w
    sim = sum(
        (w * s for w, (_, s) in zip(weights[1:], groups[1:])),
        weights[0] * groups[0][1],
    ) / wsum

    # quality metrics (comparison.go:892-1037, the reference
    # formulas): noise = min(1, sqrt(SAMPLE variance of the per-group
    # similarities)) (estimateNoiseLevel :939-960, gonum sample
    # variance); availability/coverage = present groups / 6 feature
    # types (:896-919); temporal alignment from the duration analog
    # n_frames when the fingerprints carry it (:922-929, 0.5
    # otherwise per the unknown-default convention); confidence =
    # the tiered formula of calculateConfidence (:1011-1037) with
    # content-type match true under the content filter.
    mean_g = sum((s for _, s in groups[1:]), groups[0][1]) / float(ng)
    if ng > 1:
        noise = F.least(
            F.lit(1.0),
            F.sqrt(
                sum(
                    (F.pow(s - mean_g, 2) for _, s in groups[1:]),
                    F.pow(groups[0][1] - mean_g, 2),
                )
                / float(ng - 1)
            ),
        )
    else:
        noise = F.lit(0.0)
    availability = F.lit(ng / 6.0)
    has_frames = "n_frames" in query.columns
    if has_frames:
        qn = F.col("q_n_frames").cast("double")
        cn = F.col("c_n_frames").cast("double")
        mx = F.greatest(qn, cn)
        temporal_alignment = F.when(
            mx > 0,
            1.0 - F.least(F.lit(1.0), F.abs(qn - cn) / mx),
        ).otherwise(F.lit(1.0))
    else:
        temporal_alignment = F.lit(0.5)
    confidence = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.lit(0.5)
            + F.when(sim > 0.8, F.lit(0.3))
            .when(sim > 0.6, F.lit(0.2))
            .otherwise(F.lit(0.0))
            + F.lit(0.1)
            + F.lit(ng * 0.05)
            + availability * 0.1
            - noise * 0.1,
        ),
    )
    scored = j.select(
        "query_id",
        "match_id",
        *[s.alias(f"sim_{name}") for name, s in groups],
        sim.alias("similarity"),
        noise.alias("sim_noise"),
        availability.alias("data_availability"),
        availability.alias("feature_coverage"),
        temporal_alignment.alias("temporal_alignment"),
        confidence.alias("confidence"),
    ).where(F.col("similarity") >= _SIMILARITY_THRESHOLD)
    ranked = topk_per_group(
        scored,
        "query_id",
        [F.col("similarity").desc(), F.col("match_id").asc()],
        _K,
    )
    return ranked.withColumn(
        "match_class", match_class(F.col("similarity"))
    )


def similarity_statistics(results: DataFrame) -> DataFrame:
    """Summary statistics over comparison results per query
    (GetSimilarityStatistics, comparison.go:1154-1205): mean, min,
    max, median, std."""
    return results.groupBy("query_id").agg(
        F.count("*").alias("n"),
        F.avg("cosine_sim").alias("mean_sim"),
        F.min("cosine_sim").alias("min_sim"),
        F.max("cosine_sim").alias("max_sim"),
        F.percentile("cosine_sim", 0.5).alias("median_sim"),
        F.coalesce(F.stddev_pop("cosine_sim"), F.lit(0.0)).alias("std_sim"),
    )
