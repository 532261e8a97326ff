"""Sessionization / segmentation operators (SURVEY §2.9).

Reference semantics:
- run-length grouping of consecutive below/above-threshold frames into
  segments (DetectSilence, reference
  algorithms/temporal/silence_detection.go:44-75);
- sessionize-by-gap over timestamps (the silence-gap rule applied to
  event streams — min-interval debounce of
  algorithms/temporal/onset_detection.go:97-120).

All pure window functions: one shuffle on the partition key, then
whole-stage-codegen lag/sum — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


_GAP = 1800


def sessionize_by_gap(df: DataFrame) -> DataFrame:
    """Assign 0-based per-key session ids: a new session starts when
    the gap to the previous event exceeds _GAP seconds (strictly greater).

    session_id = cumulative sum of new-session flags over
    (partition by key order by ts) — the run-length-encoding pattern
    of silence_detection.go:44-75 applied to event time.
    Ordering tie-break: rows with equal ts never open a new session.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts_sec").asc())
    new_sess = F.when(
        (F.col("ts_sec") - F.lag("ts_sec").over(w)) > _GAP, F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def segment_runs(df: DataFrame, flag: str = "is_silent", min_run: int = 1) -> DataFrame:
    """Group consecutive equal-flag rows into segments and return one
    row per segment with run length >= min_run (DetectSilence run
    grouping, silence_detection.go:44-75).

    Output: key, flag, seg_id, seg_start, seg_end (inclusive order
    values), run_len.
    """
    w = Window.partitionBy("doc_id").orderBy(F.col("frame_idx").asc())
    changed = F.when(
        F.lag(flag).over(w).isNull() | (F.col(flag) != F.lag(flag).over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    seg = df.withColumn(
        "seg_id", F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    out = (
        seg.groupBy("doc_id", "seg_id", flag)
        .agg(
            F.min("frame_idx").alias("seg_start"),
            F.max("frame_idx").alias("seg_end"),
            F.count("*").alias("run_len"),
        )
        .where(F.col("run_len") >= min_run)
    )
    return out


_MIN_RUN = 2


def detect_silence(
    features: DataFrame,
    *,
    threshold: Column | float | None = None,
) -> DataFrame:
    """Silence segments: frames with energy below threshold grouped
    into runs >= min_run (DetectSilence, silence_detection.go:20-75).

    threshold=None uses the adaptive per-doc rule mean - 2*stddev with
    fallback 0.1*mean (AdaptiveThreshold, silence_detection.go:196-232),
    computed with one extra aggregate + broadcast-joined back.
    """
    if threshold is None:
        stats = features.groupBy("doc_id").agg(
            F.avg("rms_energy").alias("__mu"),
            F.stddev_pop("rms_energy").alias("__sd"),
        )
        thr = F.when(
            (F.col("__mu") - 2 * F.col("__sd")) > 0,
            F.col("__mu") - 2 * F.col("__sd"),
        ).otherwise(0.1 * F.col("__mu"))
        flagged = (
            features.join(F.broadcast(stats), "doc_id")
            .withColumn("is_silent", (F.col("rms_energy") < thr).cast("int"))
            .drop("__mu", "__sd")
        )
    else:
        thr = threshold if isinstance(threshold, Column) else F.lit(float(threshold))
        flagged = features.withColumn(
            "is_silent", (F.col("rms_energy") < thr).cast("int")
        )
    segs = segment_runs(flagged, min_run=_MIN_RUN)
    return segs.where(F.col("is_silent") == 1).drop("is_silent")


_ZCR_LOW = 0.0
_ZCR_HIGH = 0.9
_VAD_MIN_RUN = 3


def detect_voice_activity(
    features: DataFrame,
    *,
    energy_thr: Column | float = 0.0,
) -> DataFrame:
    """Voice-activity segments: energy >= threshold AND
    zcr_low <= zcr <= zcr_high, grouped into runs >= min_run
    (DetectVoiceActivity, reference silence_detection.go:78-135 —
    compound predicate + the same run-length machinery as silence).

    Output: doc_id, seg_start, seg_end, run_len (active segments only)."""
    thr = energy_thr if isinstance(energy_thr, Column) else F.lit(float(energy_thr))
    flagged = features.withColumn(
        "is_active",
        (
            (F.col("rms_energy") >= thr)
            & (F.col("zcr") >= _ZCR_LOW)
            & (F.col("zcr") <= _ZCR_HIGH)
        ).cast("int"),
    )
    segs = segment_runs(flagged, flag="is_active", min_run=_VAD_MIN_RUN)
    return segs.where(F.col("is_active") == 1).drop("is_active")


_TOLERANCE = 2


def combine_onsets(onsets_a: DataFrame, onsets_b: DataFrame) -> DataFrame:
    """DetectOnsetsComplex's union-of-methods combine + tolerance
    dedupe (onset_detection.go:122-183): sorted union of both onset
    sets, then the greedy chain — keep an onset iff its distance to
    the LAST KEPT onset exceeds _TOLERANCE (equivalent to the
    reference's any-kept check on a sorted list, since the last kept
    is always the nearest).

    The greedy chain is a sequential fold, expressed as a Catalyst
    aggregate() over the per-key sorted onset array — legitimate
    because onset counts per doc are tiny (tens), unlike frame or
    token counts."""
    u = (
        onsets_a.select("doc_id", "frame_idx")
        .unionByName(onsets_b.select("doc_id", "frame_idx"))
        .distinct()
    )
    arr = u.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.col("frame_idx").cast("long"))).alias("__o")
    )
    kept = F.aggregate(
        F.slice(F.col("__o"), 2, F.greatest(F.size("__o") - 1, F.lit(0))),
        F.array(F.element_at(F.col("__o"), 1)),
        lambda acc, x: F.when(
            x - F.element_at(acc, -1) > _TOLERANCE,
            F.concat(acc, F.array(x)),
        ).otherwise(acc),
    )
    return arr.select("doc_id", F.explode(kept).alias("frame_idx"))


_MIN_INTERVAL = 1


def detect_onsets(
    features: DataFrame,
    *,
    signal: str = "flux",
    threshold_scale: float = 1.5,
) -> DataFrame:
    """Onset detection via local-maxima peak picking on a per-frame
    signal (flux), with min-interval debounce (DetectOnsets,
    onset_detection.go:26-56,97-120; peak picker energy.go:228-247).

    A frame is an onset candidate if signal > lag AND signal >= lead
    AND signal > threshold_scale * per-doc mean. Candidates closer
    than _MIN_INTERVAL frames to the previous kept onset are debounced
    via sessionize-by-gap (keep the first of each run).
    """
    w = Window.partitionBy("doc_id").orderBy(F.col("frame_idx").asc())
    mu = Window.partitionBy("doc_id")
    cand = (
        features.withColumn("__prev", F.lag(signal).over(w))
        .withColumn("__next", F.lead(signal).over(w))
        .withColumn("__thr", threshold_scale * F.avg(signal).over(mu))
        .where(
            (F.col(signal) > F.col("__prev"))
            & (F.col(signal) >= F.coalesce(F.col("__next"), F.lit(float("-inf"))))
            & (F.col(signal) > F.col("__thr"))
        )
    )
    # debounce: candidates within min_interval of the previous candidate
    # are grouped; keep the strongest per group (combineOnsets tolerance
    # dedupe, onset_detection.go:149-183)
    wc = Window.partitionBy("doc_id").orderBy(F.col("frame_idx").asc())
    gap = F.col("frame_idx") - F.lag("frame_idx").over(wc)
    grp = F.sum(F.when(gap < _MIN_INTERVAL, F.lit(0)).otherwise(F.lit(1))).over(
        wc.rowsBetween(Window.unboundedPreceding, 0)
    )
    onsets = (
        cand.withColumn("__grp", grp)
        .groupBy("doc_id", "__grp")
        .agg(
            F.max(
                F.struct(F.col(signal).alias("v"), F.col("frame_idx").alias("o"))
            ).alias("__s")
        )
        .select(
            "doc_id",
            F.col("__s.o").alias("frame_idx"),
            F.col("__s.v").alias(signal),
        )
    )
    return onsets
