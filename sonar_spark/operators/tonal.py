"""Key estimation by profile correlation
(tonal/key_estimation.go:286-345 estimateKeyProfile +
:391-404 correlateWithProfile + :405-433 profile tables): Pearson
correlation of the 12-class chroma/HPCP vector against all 24
key-shifted major/minor templates, best key by confidence.

The deep tonal stack is otherwise §2.13-deferred; this operator is
the template-dot-product core SURVEY maps to "template dot-products =
matmul", expressed as one broadcast join against the 288-row constant
template table + two aggregations — no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .topk import topk_per_group

# Krumhansl-Schmuckler empirical profiles (key_estimation.go:405-412)
KRUMHANSL_MAJOR = [
    6.35, 2.23, 3.48, 2.33, 4.38, 4.09, 2.52, 5.19, 2.39, 3.66, 2.29, 2.88,
]
KRUMHANSL_MINOR = [
    6.33, 2.68, 3.52, 5.38, 2.60, 3.53, 2.54, 4.75, 3.98, 2.69, 3.34, 3.17,
]


def key_template_rows() -> list[tuple[int, str, int, float]]:
    """(key, mode, pitch_class, value) for all 24 shifted templates:
    shiftedProfile[i] = profile[(i + key) % 12]
    (correlateWithProfile, key_estimation.go:391-404)."""
    rows = []
    for key in range(12):
        for mode, prof in (("major", KRUMHANSL_MAJOR),
                           ("minor", KRUMHANSL_MINOR)):
            for i in range(12):
                rows.append((key, mode, i, prof[(i + key) % 12]))
    return rows


# Chord quality templates (chord_detection.go:268-375): pattern over
# pitch classes at root 0, matching weight, consonance constant
CHORD_TEMPLATES = {
    "major": ([0, 4, 7], 1.0, 0.9),
    "minor": ([0, 3, 7], 1.0, 0.85),
    "diminished": ([0, 3, 6], 0.8, 0.3),
    "augmented": ([0, 4, 8], 0.7, 0.4),
    "dominant7": ([0, 4, 7, 10], 0.9, 0.7),
    "major7": ([0, 4, 7, 11], 0.85, 0.8),
    "minor7": ([0, 3, 7, 10], 0.85, 0.75),
    "sus2": ([0, 2, 7], 0.7, 0.6),
    "sus4": ([0, 5, 7], 0.7, 0.6),
    "power": ([0, 7], 0.6, 0.8),
}


def chord_template_rows() -> list[tuple[str, int, int, float, float]]:
    """(quality, root, pitch_class, tv, weight): the root-rotated
    binary patterns (rotatePattern, chord_detection.go:712-718 —
    rotated[(i + root) % 12] = pattern[i], i.e. class (interval +
    root) % 12 is active)."""
    rows = []
    for quality, (intervals, weight, _cons) in CHORD_TEMPLATES.items():
        for root in range(12):
            active = {(iv + root) % 12 for iv in intervals}
            for pc in range(12):
                rows.append(
                    (quality, root, pc, 1.0 if pc in active else 0.0,
                     weight)
                )
    return rows


_GROUP_COLS = ["doc_id", "frame_idx"]


def detect_chords(chroma: DataFrame) -> DataFrame:
    """Chord detection by template matching
    (chord_detection.go:586-733): score(quality, root) = weight *
    dot(chroma, rotated binary pattern), best per group (ties ->
    quality asc, root asc; the reference iterates an unordered map).
    Bass detection / inversions are omitted (no bass-register analog
    on the histogram spectrum); the chroma input is already
    unit-energy (the HPCP normalizer), so normalizeChroma is a no-op.

    Output: group cols + chord_root, chord_quality, score."""
    spark = chroma.sparkSession
    tpl = spark.createDataFrame(
        chord_template_rows(),
        "quality string, root int, pc int, tv double, weight double",
    )
    j = chroma.join(F.broadcast(tpl), F.col("pitch_class") == F.col("pc"))
    s = j.groupBy(*_GROUP_COLS, "quality", "root").agg(
        (
            F.sum(F.col("hpcp").cast("double") * F.col("tv"))
            * F.max("weight")
        ).alias("score")
    )
    best = topk_per_group(
        s,
        _GROUP_COLS,
        [F.col("score").desc(), F.col("quality").asc(), F.col("root").asc()],
        1,
    )
    return best.drop("rank").select(
        *_GROUP_COLS,
        F.col("root").alias("chord_root"),
        F.col("quality").alias("chord_quality"),
        "score",
    )


def estimate_key(chroma: DataFrame) -> DataFrame:
    """chroma: one row per (group..., pitch_class 0..11, value).
    Output: group cols + key (0..11), mode, confidence (the Pearson r
    of the winning template; 0 on zero-variance input, the
    PearsonCorrelationFunc convention). Ties break deterministically
    (confidence desc, mode asc, key asc) — the reference's unstable
    sort leaves ties unspecified."""
    scored = key_scores(chroma, _GROUP_COLS)
    best = topk_per_group(
        scored,
        _GROUP_COLS,
        [F.col("confidence").desc(), F.col("mode").asc(),
         F.col("key").asc()],
        1,
    )
    return best.drop("rank")


def key_scores(chroma: DataFrame, group_cols: list[str]) -> DataFrame:
    """All 24 per-template Pearson correlations (the
    correlationScores table of estimateKeyProfile,
    key_estimation.go:300-371).  Output: group cols + key, mode,
    confidence."""
    spark = chroma.sparkSession
    tpl = spark.createDataFrame(
        key_template_rows(), "key int, mode string, pc int, tv double"
    )
    j = chroma.join(
        F.broadcast(tpl), F.col("pitch_class") == F.col("pc")
    )
    x = F.col("hpcp").cast("double")
    y = F.col("tv")
    s = j.groupBy(*group_cols, "key", "mode").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    ssa = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    ssb = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    num = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    r = F.when((ssa <= 0) | (ssb <= 0), F.lit(0.0)).otherwise(
        num / F.sqrt(ssa * ssb)
    )
    return s.select(*group_cols, "key", "mode", r.alias("confidence"))


def key_estimation_full(chroma: DataFrame) -> DataFrame:
    """Key estimation with the clarity/ambiguity quality metrics
    (key_estimation.go:300-371 + calculateClarity :517-533 +
    calculateAmbiguity :535-558): clarity = (best - second)/best over
    the 24 correlation scores (0 when best <= 0), ambiguity = Shannon
    entropy of the POSITIVE scores normalized by log2(24).  One
    aggregation over the score table; ties as in estimate_key."""
    import math as _m

    scored = key_scores(chroma, _GROUP_COLS)
    rk = F.row_number().over(
        Window.partitionBy(*_GROUP_COLS).orderBy(
            F.col("confidence").desc(), F.col("mode").asc(),
            F.col("key").asc(),
        )
    )
    t = scored.withColumn("__rk", rk)
    pos = F.when(F.col("confidence") > 0, F.col("confidence"))
    ag = t.groupBy(*_GROUP_COLS).agg(
        F.max(
            F.when(
                F.col("__rk") == 1,
                F.struct("key", "mode", "confidence"),
            )
        ).alias("__b"),
        F.max(
            F.when(F.col("__rk") == 2, F.col("confidence"))
        ).alias("__c2"),
        F.sum(pos).alias("__psum"),
        F.sum(
            F.when(
                F.col("confidence") > 0,
                F.col("confidence") * F.log2(F.col("confidence")),
            ).otherwise(F.lit(0.0))
        ).alias("__plogp"),
    )
    c1 = F.col("__b.confidence")
    clarity = F.when(
        c1 > 0, (c1 - F.col("__c2")) / c1
    ).otherwise(F.lit(0.0))
    # entropy of p_i = s_i / S over positive scores:
    # -sum p log2 p = log2(S) - (sum s log2 s) / S
    ambiguity = F.when(
        F.coalesce(F.col("__psum"), F.lit(0.0)) > 0,
        (
            F.log2(F.col("__psum"))
            - F.col("__plogp") / F.col("__psum")
        )
        / F.lit(_m.log2(24.0)),
    ).otherwise(F.lit(0.0))
    return ag.select(
        *_GROUP_COLS,
        F.col("__b.key").alias("key"),
        F.col("__b.mode").alias("mode"),
        c1.alias("confidence"),
        clarity.alias("clarity"),
        ambiguity.alias("ambiguity"),
    )


def chord_inversion_rows() -> list[tuple[str, int, int, int, float]]:
    """(quality, root, inv_idx, bass_class, weight): one row per
    chord-template inversion (generateInversions,
    chord_detection.go:376-404).  Inversion inv's pattern differs
    from the root-position pattern only at the bass class
    (root + intervals[inv]) % 12, whose weight is 1.5 instead of 1.0
    (inv = 0 IS the root-position pattern), so
    invScore = rootScore + 0.5 * weight * chroma[bass_class] for
    inv > 0 — the delta form this relational plan uses."""
    rows = []
    for quality, (intervals, weight, _cons) in CHORD_TEMPLATES.items():
        for root in range(12):
            for inv_idx, iv in enumerate(intervals):
                rows.append(
                    (quality, root, inv_idx, (root + iv) % 12, weight)
                )
    return rows


def bass_from_f0(f0: DataFrame) -> DataFrame:
    """Bass-note analog of detectBassNote (chord_detection.go:565-584):
    the reference low-pass pitch-detects and maps the pitch to a
    chroma class via frequencyToChroma (:928-943, MIDI truncation).
    Analog: the harmonic-product fundamental bin IS the pitch (same
    bin-index frequency axis the HPCP uses, ref_freq = 1), the HPS
    search band [1, 7] is the BassFreqRange analog, and confidence is
    1.0 whenever a fundamental exists (the HPS found a positive
    product) else 0.0 — mirroring the <0.3-confidence and
    out-of-range rejections that both return (0, 0.0)."""
    f = F.col("f0_bin").cast("double")
    return f0.select(
        *_GROUP_COLS,
        F.when(
            f > 0,
            F.pmod(F.floor(F.lit(69.0) + 12.0 * F.log2(f)), F.lit(12)),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("bass_pc"),
        F.when(f > 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("bass_conf"),
    )


def detect_chords_full(chroma: DataFrame, bass: DataFrame) -> DataFrame:
    """The reference's DEFAULT chord-detection path
    (chord_detection.go:586-642 templateMatching with
    UseBassDetection + UseInversions on, defaults :223-237):

    - base score(quality, root) = weight * dot(chroma, rotated
      pattern);
    - bass bonus (+BassWeight * bassConf, :735-750) when the bass
      class is any chord tone and bassConf > 0.3, added BEFORE the
      MinChordStrength >= 0.2 gate;
    - detectInversion (:752-781): among inversions whose expected
      bass (root + intervals[inv]) % 12 equals the bass class, the
      best inversion-pattern score (strict >, ascending inv order,
      best init 0.0); it REPLACES the candidate's score iff it beats
      the bonus-included score (:625-633) — note the inversion score
      itself carries no bass bonus, as written;
    - best candidate per group by confidence = min(score, 1)
      (:453-455 sorts on the capped value); ties broken quality asc,
      root asc — the reference iterates an unordered map, so its tie
      order is unspecified.

    Physical plan: the chroma front end is scanned ONCE — the single
    template aggregation computes the weighted dot product, the
    bass-class chroma value (for the inversion delta), and chord-tone
    membership of the bass class together, so inversion rescoring
    needs only the tiny broadcast inversion table, no second chroma
    pass (an earlier draft re-joined chroma twice and re-derived the
    whole HPCP subtree 5x — 53 exchanges at sf0.01).

    Output: group cols + chord_root, chord_quality, inversion,
    bass_pc, confidence, strength."""
    min_strength = 0.2
    bass_weight = 0.3
    spark = chroma.sparkSession
    tpl = spark.createDataFrame(
        chord_template_rows(),
        "quality string, root int, pc int, tv double, weight double",
    )
    inv = spark.createDataFrame(
        chord_inversion_rows(),
        "quality string, root int, inv_idx int, bass_class int,"
        " weight double",
    )
    b = bass.select(
        *[F.col(c).alias(f"__b_{c}") for c in _GROUP_COLS],
        "bass_pc",
        F.coalesce("bass_conf", F.lit(0.0)).alias("bass_conf"),
    )
    bcond = None
    for c in _GROUP_COLS:
        e = F.col(f"__b_{c}") == F.col(c)
        bcond = e if bcond is None else (bcond & e)
    cb = chroma.join(b, bcond).drop(*[f"__b_{c}" for c in _GROUP_COLS])
    j = cb.join(F.broadcast(tpl), F.col("pitch_class") == F.col("pc"))
    # ONE aggregation: weighted dot, chroma value at the bass class,
    # and whether the bass class is a chord tone of (quality, root)
    s = j.groupBy(
        *_GROUP_COLS, "quality", "root", "bass_pc", "bass_conf"
    ).agg(
        (
            F.sum(F.col("hpcp").cast("double") * F.col("tv"))
            * F.max("weight")
        ).alias("score_raw"),
        F.max("weight").alias("weight"),
        F.max(
            F.when(
                F.col("pitch_class") == F.col("bass_pc"),
                F.col("hpcp").cast("double"),
            )
        ).alias("__c_bass"),
        F.max(
            F.when(
                (F.col("pitch_class") == F.col("bass_pc"))
                & (F.col("tv") == 1.0),
                1,
            ).otherwise(0)
        ).alias("__is_tone"),
    )
    engaged = F.col("bass_conf") > 0.3
    score2 = F.col("score_raw") + F.when(
        engaged & (F.col("__is_tone") == 1),
        F.lit(bass_weight) * F.col("bass_conf"),
    ).otherwise(F.lit(0.0))
    cand = s.withColumn("score2", score2).where(
        F.col("score2") >= min_strength
    )

    # inversion scoring against the tiny broadcast inversion table:
    # the pattern differs from root position only by +0.5*weight at
    # the bass class, already captured as __c_bass above.  The best
    # inversion is folded into ONE aggregation right after the
    # broadcast join (max on (score, -inv) = strict-max with
    # first-inversion ties), so the candidate subtree is evaluated
    # exactly once — no join-back.
    inv_score = F.col("score_raw") + F.when(
        F.col("inv_idx") > 0,
        F.lit(0.5) * F.col("weight") * F.col("__c_bass"),
    ).otherwise(F.lit(0.0))
    valid = (
        engaged
        & (F.col("bass_class") == F.col("bass_pc"))
        & (inv_score > 0)
    )
    fin = (
        cand.join(F.broadcast(inv.drop("weight")), ["quality", "root"])
        .groupBy(
            *_GROUP_COLS, "quality", "root", "bass_pc", "score2"
        )
        .agg(
            F.max(
                F.when(
                    valid,
                    F.struct(
                        inv_score.alias("s"),
                        (-F.col("inv_idx")).alias("negi"),
                    ),
                )
            ).alias("__bi")
        )
    )
    use_inv = F.col("__bi").isNotNull() & (
        F.col("__bi.s") > F.col("score2")
    )
    fin = fin.withColumn(
        "__binv", (-F.col("__bi.negi")).cast("int")
    ).withColumn("__binv_score", F.col("__bi.s"))
    strength = F.when(use_inv, F.col("__binv_score")).otherwise(
        F.col("score2")
    )
    fin = fin.select(
        *_GROUP_COLS,
        "quality",
        "root",
        "bass_pc",
        F.when(use_inv, F.col("__binv")).otherwise(F.lit(0)).alias(
            "inversion"
        ),
        F.least(strength, F.lit(1.0)).alias("confidence"),
        strength.alias("strength"),
    )
    top2 = topk_per_group(
        fin,
        _GROUP_COLS,
        [
            F.col("confidence").desc(),
            F.col("quality").asc(),
            F.col("root").asc(),
        ],
        2,
    )
    # best candidate + the runner-up's capped confidence (clarity
    # input, calculateQualityMetrics chord_detection.go:813-818) in
    # one aggregation — no second candidate-subtree evaluation
    best = top2.groupBy(*_GROUP_COLS).agg(
        F.max(
            F.when(
                F.col("rank") == 1,
                F.struct(
                    "root", "quality", "inversion", "bass_pc",
                    "confidence", "strength",
                ),
            )
        ).alias("__b"),
        F.max(
            F.when(F.col("rank") == 2, F.col("confidence"))
        ).alias("confidence2"),
    )
    return best.select(
        *_GROUP_COLS,
        F.col("__b.root").alias("chord_root"),
        F.col("__b.quality").alias("chord_quality"),
        F.col("__b.inversion").cast("int").alias("inversion"),
        F.col("__b.bass_pc").cast("int").alias("bass_pc"),
        F.col("__b.confidence").alias("confidence"),
        F.col("__b.strength").alias("strength"),
        "confidence2",
    )


EXTENSION_INTERVALS = [2, 5, 9, 10, 11]  # 9th, 11th, 13th, b7, maj7
DISSONANT_PAIRS = [
    (i, j)
    for i in range(12)
    for j in range(i + 1, 12)
    if (j - i) in (1, 6, 11)
]


def chord_analysis(best: DataFrame, chroma: DataFrame) -> DataFrame:
    """Chord quality metrics + extension analysis — the remaining
    default-path steps of DetectChord (chord_detection.go:808-896):

    - clarity = best - second capped confidence (best alone -> its
      confidence); ambiguity = 1 - clarity (:813-819);
    - consonance = the winning quality's template constant
      (:822-825); stability = confidence (fresh-detector history,
      :827-833);
    - tension = sum of chroma[i]*chroma[j] over raw-interval
      dissonant pairs (j-i in {1, 6, 11}) with both classes > 0.2,
      capped at 1 (:1012-1035) — 18 plan-time-unrolled terms in the
      reference's loop order;
    - extensions: intervals {2, 5, 9, 10, 11} whose class
      (root+iv)%12 has chroma > 0.3 and which are not chord tones of
      the winning quality; MaxExtension = 13 admits them all
      (:858-896).  Emitted as the ascending comma-joined interval
      list — a deterministic rendering of the reference's SET (its
      map-iteration order is unspecified).

    best: detect_chords_full output (with confidence2).  One chroma
    aggregation pivots the 12 classes wide; everything else is
    column expressions."""
    spark = best.sparkSession
    piv = chroma.groupBy(*_GROUP_COLS).agg(
        *[
            F.max(
                F.when(
                    F.col("pitch_class") == i,
                    F.col("hpcp").cast("double"),
                )
            ).alias(f"__cv{i}")
            for i in range(12)
        ]
    )
    j = best.join(piv, _GROUP_COLS)
    conf = F.col("confidence")
    clarity = F.when(
        F.col("confidence2").isNotNull(), conf - F.col("confidence2")
    ).otherwise(conf)
    cons = F.lit(None).cast("double")
    for q, (_iv, _w, c) in CHORD_TEMPLATES.items():
        cons = F.when(F.col("chord_quality") == q, F.lit(c)).otherwise(cons)
    tension_terms = []
    for i, jj in DISSONANT_PAIRS:
        ci, cj = F.col(f"__cv{i}"), F.col(f"__cv{jj}")
        tension_terms.append(
            F.when((ci > 0.2) & (cj > 0.2), ci * cj).otherwise(F.lit(0.0))
        )
    tension = tension_terms[0]
    for t in tension_terms[1:]:
        tension = tension + t
    tension = F.least(tension, F.lit(1.0))
    arr = F.array(*[F.col(f"__cv{i}") for i in range(12)])
    ext_parts = []
    for iv in sorted(EXTENSION_INTERVALS):
        qual_without = [
            q for q, (ivs, _w, _c) in CHORD_TEMPLATES.items()
            if iv not in ivs
        ]
        val = F.element_at(
            arr,
            (F.pmod(F.col("chord_root") + iv, F.lit(12)) + 1).cast("int"),
        )
        ext_parts.append(
            F.when(
                (val > 0.3)
                & F.col("chord_quality").isin(qual_without),
                F.lit(str(iv)),
            )
        )
    extensions = F.concat_ws(",", *ext_parts)
    return j.select(
        *_GROUP_COLS,
        "chord_root",
        "chord_quality",
        conf.alias("confidence"),
        clarity.alias("clarity"),
        (1.0 - clarity).alias("ambiguity"),
        cons.alias("consonance"),
        conf.alias("stability"),
        tension.alias("tension"),
        extensions.alias("extensions"),
    )
