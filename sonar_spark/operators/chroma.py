"""Chroma-space analysis: Tonnetz projection + trajectory
(chroma/tonnetz.go:49-237) and optimal circular-shift similarity
(chroma/chroma_vector.go:189-217).

Tonnetz: each pitch class has a fixed 2-D coordinate — x from the
circle-of-fifths table (tonnetz.go:55-68), y OVERRIDDEN by the
final switch (tonnetz.go:88-97: {C,E,G#} -> 0, {G,B,D#} -> sqrt3/2,
{A#,D,F#} -> -sqrt3/2, {C#,F,A} -> sqrt3; the preceding major-third
loop's value is dead).  A chroma frame projects to the
energy-weighted centroid (ComputeTonnetzCentroid :138-163, (0,0)
when total weight <= 1e-10); the per-frame centroid sequence is the
trajectory (:166-187), and AnalyzeTonnetzMovement (:190-237) reduces
it to distance/velocity/stability statistics.

Centroids are rounded to 6 dp before the trajectory statistics so
the DuckDB oracle agrees bit-for-bit on every downstream comparison
(same quantized-interface convention as the LPC envelope).

All of it is relational: a 12-row broadcast coordinate table, one
groupBy per frame, a lag window over frames, and per-doc aggregates
— the exact shape that scales to a billion frames (the coordinate
join is constant, the windows partition by doc).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import map_rows

_SQRT3 = math.sqrt(3.0)

# (pitch_class, x, y) — tonnetz.go:55-68 fifths x; :88-97 y override
TONNETZ_COORDS = [
    (0, 0.0, 0.0),
    (1, -5.0, _SQRT3),
    (2, 2.0, -_SQRT3 / 2.0),
    (3, -3.0, _SQRT3 / 2.0),
    (4, 4.0, 0.0),
    (5, -1.0, _SQRT3),
    (6, 6.0, -_SQRT3 / 2.0),
    (7, 1.0, _SQRT3 / 2.0),
    (8, -4.0, 0.0),
    (9, 3.0, _SQRT3),
    (10, -2.0, -_SQRT3 / 2.0),
    (11, 5.0, _SQRT3 / 2.0),
]


_GROUP_COLS = ["doc_id", "frame_idx"]


def tonnetz_centroids(chroma: DataFrame) -> DataFrame:
    """Per-group Tonnetz centroid of the 12-class chroma vector
    (ComputeTonnetzCentroid, tonnetz.go:138-163): weighted mean of
    the fixed coordinates, (0, 0) when total weight <= 1e-10.
    Output: group cols + centroid_x, centroid_y (6-dp rounded)."""
    spark = chroma.sparkSession
    coords = spark.createDataFrame(
        TONNETZ_COORDS, "pc int, x double, y double"
    )
    j = chroma.join(F.broadcast(coords), F.col("pitch_class") == F.col("pc"))
    w = F.col("hpcp").cast("double")
    ag = j.groupBy(*_GROUP_COLS).agg(
        F.sum(F.col("x") * w).alias("__wx"),
        F.sum(F.col("y") * w).alias("__wy"),
        F.sum(w).alias("__tw"),
    )
    cx = F.when(F.col("__tw") > 1e-10, F.col("__wx") / F.col("__tw")).otherwise(
        F.lit(0.0)
    )
    cy = F.when(F.col("__tw") > 1e-10, F.col("__wy") / F.col("__tw")).otherwise(
        F.lit(0.0)
    )
    return ag.select(
        *_GROUP_COLS,
        F.round(cx, 6).alias("centroid_x"),
        F.round(cy, 6).alias("centroid_y"),
    )


def tonnetz_movement(traj: DataFrame) -> DataFrame:
    """Movement statistics over the per-key centroid trajectory
    (AnalyzeTonnetzMovement, tonnetz.go:190-237): total distance, max
    velocity, mean velocity, velocity variance (two-pass, as
    written), harmonic stability 1/(1+var), and path efficiency
    displacement/total (NULL when total <= 1e-10).  Keys with fewer
    than 2 frames are excluded (the reference returns an empty map).

    Per-step distances are rounded to 6 dp before aggregation
    (quantized interface)."""
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = traj.select(
        "doc_id",
        "frame_idx",
        F.col("centroid_x").alias("__x"),
        F.col("centroid_y").alias("__y"),
        F.lag("centroid_x").over(w).alias("__px"),
        F.lag("centroid_y").over(w).alias("__py"),
        F.first("centroid_x").over(w).alias("__x0"),
        F.first("centroid_y").over(w).alias("__y0"),
        F.row_number().over(w).alias("__rn"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("__nf"),
    )
    dx = F.col("__x") - F.col("__px")
    dy = F.col("__y") - F.col("__py")
    steps = d.where(F.col("__px").isNotNull()).select(
        "doc_id",
        "__rn",
        "__nf",
        F.round(F.sqrt(dx * dx + dy * dy), 6).alias("__v"),
        F.when(
            F.col("__rn") == F.col("__nf"),
            F.round(
                F.sqrt(
                    (F.col("__x") - F.col("__x0"))
                    * (F.col("__x") - F.col("__x0"))
                    + (F.col("__y") - F.col("__y0"))
                    * (F.col("__y") - F.col("__y0"))
                ),
                6,
            ),
        ).alias("__disp"),
    )
    mean_w = Window.partitionBy("doc_id")
    s2 = steps.withColumn("__mean", F.avg("__v").over(mean_w))
    ag = s2.groupBy("doc_id").agg(
        F.sum("__v").alias("total_distance"),
        F.max("__v").alias("max_velocity"),
        F.max("__mean").alias("mean_velocity"),
        F.avg(
            (F.col("__v") - F.col("__mean"))
            * (F.col("__v") - F.col("__mean"))
        ).alias("velocity_variance"),
        F.max("__disp").alias("__disp"),
    )
    return ag.select(
        "doc_id",
        "total_distance",
        "max_velocity",
        "mean_velocity",
        "velocity_variance",
        (1.0 / (1.0 + F.col("velocity_variance"))).alias(
            "harmonic_stability"
        ),
        F.when(
            F.col("total_distance") > 1e-10,
            F.col("__disp") / F.col("total_distance"),
        ).alias("path_efficiency"),
    )


_PAIR_ON = ["qid", "mid"]


def chroma_shift_optimal(left: DataFrame, right: DataFrame) -> DataFrame:
    """Optimal circular shift of the left chroma against the right
    (ShiftOptimal, chroma_vector.go:189-205, cosine metric): for each
    shift s, similarity = 1 - CosineDistance(shift(cv1, s), cv2) / 2
    where shift(cv)[i] = cv[(i+s) % size] (:207-217) and
    CosineDistance is 1 - dot/(|a||b|), 1.0 on a zero norm
    (stats CosineDistanceFunc); best = strict-max over ascending
    shifts starting at 0.0, so (0, 0.0) when nothing beats zero.

    left/right: (pair key cols..., class, value) long tables with the
    pair key columns aligned.  Output: pair cols + best_shift +
    best_similarity."""
    size = 12
    lk = [F.col(c).alias(f"__l_{c}") for c in _PAIR_ON]
    l = left.select(
        *lk,
        F.col("pitch_class").alias("__lc"),
        F.col("mv").cast("double").alias("__lv"),
    ).withColumn("__s", F.explode(F.sequence(F.lit(0), F.lit(size - 1))))
    r = right.select(
        *_PAIR_ON,
        F.col("pitch_class").alias("__rc"),
        F.col("mv").cast("double").alias("__rv"),
    )
    # shifted cv1[i] = cv1[(i + s) % size]: the left value at class
    # (i + s) % size lands at position i, which must match cv2[i].
    cond = (
        F.col("__rc")
        == F.pmod(F.col("__lc") - F.col("__s") + size, F.lit(size))
    )
    for c in _PAIR_ON:
        cond = cond & (F.col(f"__l_{c}") == F.col(c))
    j = l.join(r, cond)
    ag = j.groupBy(*_PAIR_ON, "__s").agg(
        F.sum(F.col("__lv") * F.col("__rv")).alias("__dot"),
        F.sum(F.col("__lv") * F.col("__lv")).alias("__na"),
        F.sum(F.col("__rv") * F.col("__rv")).alias("__nb"),
    )
    dist = F.when(
        (F.col("__na") == 0) | (F.col("__nb") == 0), F.lit(1.0)
    ).otherwise(
        1.0 - F.col("__dot") / (F.sqrt("__na") * F.sqrt("__nb"))
    )
    sims = ag.select(
        *_PAIR_ON,
        F.col("__s"),
        (1.0 - dist / 2.0).alias("__sim"),
    )
    # strict-max with ascending-shift ties as ONE aggregation
    # (max on (sim, -s)); a topk window + join-back re-evaluated the
    # whole shift-join subtree twice
    fold = sims.groupBy(*_PAIR_ON).agg(
        F.max(
            F.when(
                F.col("__sim") > 0,
                F.struct(
                    F.col("__sim").alias("sim"),
                    (-F.col("__s")).alias("negs"),
                ),
            )
        ).alias("__b")
    )
    return fold.select(
        *_PAIR_ON,
        F.coalesce((-F.col("__b.negs")).cast("int"), F.lit(0)).alias(
            "best_shift"
        ),
        F.coalesce(F.col("__b.sim"), F.lit(0.0)).alias(
            "best_similarity"
        ),
    )


def chroma_cross_similarity(left: DataFrame, right: DataFrame) -> DataFrame:
    """Chroma sequence similarity, matrix-aggregate methods
    (chroma_similarity.go:110-197 direct, :162-194 binary, :361-396
    QMax, :399-445 OTI) between two chroma SEQUENCES per pair:

    - direct: mean of the Q x R cross-similarity matrix (cosine
      similarity = 1 - CosineDistance/2 per frame pair);
    - binary: fraction of entries > BinaryThreshold (0.4);
    - qmax: max over per-diagonal maxima == the global matrix max,
      reproduced as written;
    - oti: for each of 12 circular query transpositions, the total
      similarity over the |i-j| <= radius band divided by Q*R (the
      reference divides by the FULL matrix size even though only the
      band is summed — reproduced as written), best by strict max
      over ascending shifts starting at 0.0.

    Input chroma values should be pre-rounded (quantized interface).
    Output: pair cols + sim_direct, sim_binary, qmax, oti_shift,
    oti_similarity."""
    binary_threshold = 0.4
    oti_radius = 10
    size = 12
    lk = [F.col(c).alias(f"__l_{c}") for c in _PAIR_ON]
    l = left.select(
        *lk,
        F.col("frame_idx").alias("__li"),
        F.col("pitch_class").alias("__lc"),
        F.col("cv").cast("double").alias("__lv"),
    ).withColumn("__s", F.explode(F.sequence(F.lit(0), F.lit(size - 1))))
    r = right.select(
        *_PAIR_ON,
        F.col("frame_idx").alias("__rj"),
        F.col("pitch_class").alias("__rc"),
        F.col("cv").cast("double").alias("__rv"),
    )
    cond = (
        F.col("__rc")
        == F.pmod(F.col("__lc") - F.col("__s") + size, F.lit(size))
    )
    for c in _PAIR_ON:
        cond = cond & (F.col(f"__l_{c}") == F.col(c))
    j = l.join(r, cond)
    cell = j.groupBy(*_PAIR_ON, "__s", "__li", "__rj").agg(
        F.sum(F.col("__lv") * F.col("__rv")).alias("__dot"),
        F.sum(F.col("__lv") * F.col("__lv")).alias("__na"),
        F.sum(F.col("__rv") * F.col("__rv")).alias("__nb"),
    )
    dist = F.when(
        (F.col("__na") == 0) | (F.col("__nb") == 0), F.lit(1.0)
    ).otherwise(
        1.0 - F.col("__dot") / (F.sqrt("__na") * F.sqrt("__nb"))
    )
    sims = cell.select(
        *_PAIR_ON, "__s", "__li", "__rj", (1.0 - dist / 2.0).alias("__sim")
    )
    # ONE per-(pair, shift) aggregation, then ONE per-pair fold: the
    # direct/binary/qmax metrics ride the s = 0 row and the OTI best
    # is a max-struct (avg desc, shift asc) — an earlier draft hung
    # separate aggregations + a topk join off `sims`, re-evaluating
    # the whole cross-join subtree per consumer (97 exchanges).
    per_shift = (
        sims.withColumn(
            "__in_band",
            (F.abs(F.col("__li") - F.col("__rj")) <= oti_radius).cast(
                "double"
            ),
        )
        .groupBy(*_PAIR_ON, "__s")
        .agg(
            F.avg("__sim").alias("__d"),
            F.avg(
                (F.col("__sim") > binary_threshold).cast("double")
            ).alias("__bin"),
            F.max("__sim").alias("__qm"),
            (F.sum(F.col("__sim") * F.col("__in_band")) / F.count("*"))
            .alias("__avg"),
        )
    )
    fold = per_shift.groupBy(*_PAIR_ON).agg(
        F.max(F.when(F.col("__s") == 0, F.col("__d"))).alias(
            "sim_direct"
        ),
        F.max(F.when(F.col("__s") == 0, F.col("__bin"))).alias(
            "sim_binary"
        ),
        F.max(F.when(F.col("__s") == 0, F.col("__qm"))).alias("qmax"),
        F.max(
            F.when(
                F.col("__avg") > 0,
                F.struct(
                    F.col("__avg").alias("a"),
                    (-F.col("__s")).alias("negs"),
                ),
            )
        ).alias("__ob"),
    )
    return fold.select(
        *_PAIR_ON,
        "sim_direct",
        "sim_binary",
        "qmax",
        F.coalesce((-F.col("__ob.negs")).cast("int"), F.lit(0)).alias(
            "oti_shift"
        ),
        F.coalesce(F.col("__ob.a"), F.lit(0.0)).alias(
            "oti_similarity"
        ),
    )


def _dp_kernel(method: str):
    """Per-pair DP ports of chroma_similarity.go — Smith-Waterman
    local alignment (:198-267 + traceback :472-497) and DTW
    (:270-353 + traceback :500-527).  Each pair's matrix is tiny
    (frames x frames); pairs are the parallel unit.

    The cosine cost matrix is one kernels.cosine_block pass over the
    12 pitch classes (closes the round-3 perf-weak: per-cell Python
    cosine calls cost ~100x the needed CPU); only the inherently
    sequential DP recurrence stays a loop, over plain Python floats.
    A zero-norm frame has cosine 0, so its SW similarity is 0.5 and
    its DTW cost 1.0."""
    import math

    from ..kernels import cosine_block

    def sw(qs, rs):
        Q, R = len(qs), len(rs)
        # elementwise identical to the scalar form
        # 1 - (1 - dot/(sqrt(na)*sqrt(nb)))/2
        siml = (1.0 - (1.0 - cosine_block(qs, rs)) / 2.0).tolist()
        scores = [[0.0] * (R + 1) for _ in range(Q + 1)]
        tb = [[0] * (R + 1) for _ in range(Q + 1)]
        max_score, mi, mj = 0.0, 0, 0
        for i in range(1, Q + 1):
            srow, sprev = scores[i], scores[i - 1]
            trow, crow = tb[i], siml[i - 1]
            for j in range(1, R + 1):
                match = sprev[j - 1] + crow[j - 1]
                delete = sprev[j] - 0.1
                insert = srow[j - 1] - 0.1
                mv = max(0.0, match, delete, insert)
                srow[j] = mv
                if mv > max_score:
                    max_score, mi, mj = mv, i, j
                # Go switch order: match, then delete, then insert
                if mv == match:
                    trow[j] = 1
                elif mv == delete:
                    trow[j] = 2
                elif mv == insert:
                    trow[j] = 3
        # traceback (:472-497)
        plen = 0
        i, j = mi, mj
        while i > 0 and j > 0 and scores[i][j] > 0:
            plen += 1
            d = tb[i][j]
            if d == 1:
                i -= 1
                j -= 1
            elif d == 2:
                i -= 1
            elif d == 3:
                j -= 1
            else:
                break
        sim_norm = max_score / plen if plen else float("nan")
        return max_score, plen, sim_norm

    def dtw(qs, rs):
        Q, R = len(qs), len(rs)
        cost = (1.0 - cosine_block(qs, rs)).tolist()
        acc = [[0.0] * R for _ in range(Q)]
        acc[0][0] = cost[0][0]
        for i in range(1, Q):
            acc[i][0] = acc[i - 1][0] + cost[i][0]
        for j in range(1, R):
            acc[0][j] = acc[0][j - 1] + cost[0][j]
        for i in range(1, Q):
            arow, aprev, crow = acc[i], acc[i - 1], cost[i]
            for j in range(1, R):
                arow[j] = crow[j] + min(
                    aprev[j], arow[j - 1], aprev[j - 1]
                )
        # traceback (:500-527): (0,0) is NOT appended
        plen = 0
        i, j = Q - 1, R - 1
        while i > 0 or j > 0:
            plen += 1
            if i == 0:
                j -= 1
            elif j == 0:
                i -= 1
            elif (
                acc[i - 1][j - 1] <= acc[i - 1][j]
                and acc[i - 1][j - 1] <= acc[i][j - 1]
            ):
                i -= 1
                j -= 1
            elif acc[i - 1][j] <= acc[i][j - 1]:
                i -= 1
            else:
                j -= 1
        d = acc[Q - 1][R - 1] / plen if plen else float("nan")
        return float(acc[Q - 1][R - 1]), plen, math.exp(-d)

    return sw if method == "sw" else dtw


def chroma_dp_similarity(pairs: DataFrame, *, method: str = "dtw") -> DataFrame:
    """Smith-Waterman / DTW chroma sequence similarity
    (chroma_similarity.go:198-353) over per-pair chroma sequences.
    pairs: (pair cols..., qseq array<array<double>>, rseq ...) with
    frames in order and values pre-rounded (quantized interface).

    One kernel call per pair row (map_rows) — pairs are the parallel
    unit; each DP matrix is frames^2 (tiny).  Output: pair cols +
    score (SW max score / DTW corner cost), path_len, similarity (SW
    length-normalized max / DTW exp(-distance/path); the NaN of a
    zero-length path reaches Spark as NULL)."""
    kern = _dp_kernel(method)
    key_fields = pairs.select(*_PAIR_ON).schema.fields
    out_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in key_fields)
        + ", score double, path_len int, similarity double"
    )

    def run(*row):
        *keys, qs, rs = row
        qa = [np.asarray(v, dtype=np.float64) for v in qs]
        ra = [np.asarray(v, dtype=np.float64) for v in rs]
        return [(*keys, *kern(qa, ra))]

    return map_rows(pairs.select(*_PAIR_ON, "qseq", "rseq"), run, out_schema)


# ---------------------------------------------------------- ChromaCQT

CQT_SR = 32.0          # analog sample rate on the token axis
CQT_FMIN = 2.0         # 2 octaves below CQT_FMAX
CQT_FMAX = 8.0
CQT_BPO = 12           # bins per octave (semitone resolution)
CQT_Q = 2.0            # quality factor (analog of the 25.0 default,
                       # scaled so kernels fit <= 100-token series)
CQT_HOP = 8
CQT_TUNING = 440.0


def chroma_cqt_kernel_rows():
    """Plan-time CQT kernel literals (chroma_cqt.go:96-165).

    The reference FFTs each Gaussian-windowed complex-exponential
    kernel and dots it against the frame FFT; by Parseval that
    equals fftSize * the time-domain inner product, and the
    unit-sum chroma normalization (:241-254) cancels the constant,
    so the analog evaluates the dot in the time domain directly.
    Kernel recipe per CQT bin k (f = fmin * 2^(k/bpo)):
    length int(Q*sr/f), +1 if even, clamped to [3, sr/2] (:147-165
    — the odd-ensure precedes the clamp, as written); center = L/2;
    w(n) = exp(-(n-c)^2 / (2 sigma^2)) with sigma = sr/(2 pi f/Q);
    conj(kernel)(n) = w e^{-i phi}, phi = 2 pi f (n-c)/sr.  Chroma
    class = round(69 + 12 log2(f/440)) mod 12 (:257-269).

    Returns (k, chroma_class, n, cw, sw) with cw = w cos(phi),
    sw = w sin(phi) — dot re = sum x*cw, im = -sum x*sw.  The same
    Python doubles are embedded in the Spark plan and the DuckDB
    VALUES list, so both engines use bit-identical kernels."""
    import math as _m

    num_octaves = _m.log2(CQT_FMAX / CQT_FMIN)
    total_bins = int(num_octaves * CQT_BPO)
    rows = []
    for k in range(total_bins):
        f = CQT_FMIN * (2.0 ** (k / CQT_BPO))
        L = int(CQT_Q * CQT_SR / f)
        if L % 2 == 0:
            L += 1
        L = max(3, min(L, int(CQT_SR / 2)))
        midi = 69.0 + 12.0 * _m.log2(f / CQT_TUNING)
        # Go math.Round: half away from zero
        cls = int(_m.floor(midi + 0.5)) if midi >= 0 else -int(
            _m.floor(-midi + 0.5)
        )
        cls %= 12
        if cls < 0:
            cls += 12
        bw = f / CQT_Q
        sigma = CQT_SR / (2.0 * _m.pi * bw)
        c = L // 2
        for n in range(L):
            t = float(n - c)
            w = _m.exp(-(t * t) / (2.0 * sigma * sigma))
            phi = 2.0 * _m.pi * f * t / CQT_SR
            rows.append((k, cls, n, w * _m.cos(phi), w * _m.sin(phi)))
    return rows


def chroma_cqt(vals: DataFrame) -> DataFrame:
    """CQT chromagram (chroma_cqt.go:69-269) over a positional value
    series: numFrames = max((n - CQT_HOP) / CQT_HOP, 1) frames at CQT_HOP
    spacing (:168-172), per-frame CQT magnitudes via the literal
    kernel table (one broadcast join — the kernel is a plan-time
    constant, exactly the reference's precomputed kernel matrix),
    energy fold to 12 chroma classes, unit-sum normalization.

    Output: doc_id, frame_idx, pitch_class (0-11, zero-filled), chroma.
    """
    spark = vals.sparkSession
    kern = spark.createDataFrame(
        chroma_cqt_kernel_rows(),
        "k int, cls int, n int, cw double, sw double",
    )
    d = vals.select(
        "doc_id", F.col("pos").alias("__p"), F.col("v").cast("double").alias("__v")
    )
    nfr = d.groupBy("doc_id").agg(
        F.greatest(
            ((F.count("*") - CQT_HOP) / CQT_HOP).cast("long"), F.lit(1)
        ).alias("__nf")
    )
    frames = nfr.withColumn(
        "frame_idx",
        F.explode(F.sequence(F.lit(0), (F.col("__nf") - 1).cast("int"))),
    ).select("doc_id", "frame_idx")
    fk = frames.crossJoin(F.broadcast(kern))
    jcond = F.col("__p") == F.col("frame_idx") * CQT_HOP + F.col("n")
    dd = d.select(
        F.col("doc_id").alias("__k2"), "__p", "__v"
    )
    j = fk.join(
        dd, (F.col("__k2") == F.col("doc_id")) & jcond, "left"
    ).fillna({"__v": 0.0})
    cq = j.groupBy("doc_id", "frame_idx", "k", "cls").agg(
        F.sum(F.col("__v") * F.col("cw")).alias("__re"),
        (-F.sum(F.col("__v") * F.col("sw"))).alias("__im"),
    )
    mag = F.sqrt(F.col("__re") * F.col("__re") + F.col("__im") * F.col("__im"))
    en = cq.select(
        "doc_id", "frame_idx", "cls", (mag * mag).alias("__e")
    ).groupBy("doc_id", "frame_idx", "cls").agg(F.sum("__e").alias("__ce"))
    tot = Window.partitionBy("doc_id", "frame_idx")
    norm = en.withColumn("__tot", F.sum("__ce").over(tot)).select(
        "doc_id",
        "frame_idx",
        F.col("cls").alias("pitch_class"),
        F.when(
            F.col("__tot") > 1e-10, F.col("__ce") / F.col("__tot")
        ).otherwise(F.col("__ce")).alias("chroma"),
    )
    classes = frames.withColumn(
        "pitch_class", F.explode(F.sequence(F.lit(0), F.lit(11)))
    )
    return classes.join(norm, ["doc_id", "frame_idx", "pitch_class"], "left").select(
        "doc_id",
        "frame_idx",
        "pitch_class",
        F.coalesce("chroma", F.lit(0.0)).alias("chroma"),
    )


# ------------------------------------------- pitch-class profile

FIFTHS_ORDER = [0, 7, 2, 9, 4, 11, 6, 1, 8, 3, 10, 5]
DIATONIC_PCS = [0, 2, 4, 5, 7, 9, 11]
CHROMATIC_PCS = [1, 3, 6, 8, 10]
MAJOR_TRIAD = [0, 4, 7]
MINOR_TRIAD = [0, 3, 7]


def fifths_template() -> list[float]:
    """exp(-0.3 i) declining template (pitch_class.go:395-399)."""
    import math as _m

    return [_m.exp(-float(i) * 0.3) for i in range(12)]


def pitch_class_profile(chroma: DataFrame) -> DataFrame:
    """Per-key pitch-class profile (CreateProfile,
    pitch_class.go:39-70): chroma summed across frames, unit-sum
    normalized (>1e-10 guard), 6-dp rounded (quantized interface).
    Output: doc_id + p0..p11 wide columns."""
    s = chroma.groupBy("doc_id", "pitch_class").agg(
        F.sum(F.col("hpcp").cast("double")).alias("__s")
    )
    tot = Window.partitionBy("doc_id")
    p = s.withColumn("__tot", F.sum("__s").over(tot)).select(
        "doc_id",
        "pitch_class",
        F.round(
            F.when(
                F.col("__tot") > 1e-10, F.col("__s") / F.col("__tot")
            ).otherwise(F.col("__s")),
            6,
        ).alias("__p"),
    )
    return p.groupBy("doc_id").pivot("pitch_class", list(range(12))).agg(
        F.first("__p")
    ).select(
        "doc_id", *[F.coalesce(F.col(str(i)), F.lit(0.0)).alias(f"p{i}")
               for i in range(12)]
    )


def profile_pitch_classes(prof: DataFrame) -> DataFrame:
    """ExtractPitchClasses (pitch_class.go:73-103): classes with
    profile energy >= threshold, salience = energy / mean of the two
    circular neighbors (energy itself when the neighbor mean
    <= 1e-10), confidence = min(1, energy * salience)."""
    threshold = 0.05
    rows = []
    for pc in range(12):
        e = F.col(f"p{pc}")
        nb = (F.col(f"p{(pc + 11) % 12}") + F.col(f"p{(pc + 1) % 12}")) / 2.0
        sal = F.when(nb > 1e-10, e / nb).otherwise(e)
        rows.append(
            F.struct(
                F.lit(pc).alias("pitch_class"),
                e.alias("energy"),
                sal.alias("salience"),
                F.least(F.lit(1.0), e * sal).alias("confidence"),
            )
        )
    ex = prof.select("doc_id", F.explode(F.array(*rows)).alias("__r")).select(
        "doc_id",
        F.col("__r.pitch_class").alias("pitch_class"),
        F.col("__r.energy").alias("energy"),
        F.col("__r.salience").alias("salience"),
        F.col("__r.confidence").alias("confidence"),
    )
    return ex.where(F.col("energy") >= threshold)


def key_relationships(prof: DataFrame) -> DataFrame:
    """Profile-derived measures (pitch_class.go:39-70 derived stats +
    AnalyzeKeyRelationships :133-154): Shannon entropy, circular
    centroid/spread, uniformity, circle-of-fifths Pearson against
    the exp(-0.3 i) template, max tonic-dominant product, max
    geometric-mean major/minor triad strengths, max diatonic energy
    fraction — every 12-term sum unrolled in the reference's loop
    order (i = 0..11), so the DuckDB oracle's identical unrolling is
    bit-identical."""
    import math as _m

    def p(i):
        return F.col(f"p{i}")

    def ssum(terms):
        e = terms[0]
        for t in terms[1:]:
            e = e + t
        return e

    entropy = -ssum(
        [
            F.when(p(i) > 1e-10, p(i) * F.log2(p(i))).otherwise(F.lit(0.0))
            for i in range(12)
        ]
    ) + F.lit(0.0)
    ssin = ssum(
        [p(i) * _m.sin(2.0 * _m.pi * i / 12.0) for i in range(12)]
    )
    scos = ssum(
        [p(i) * _m.cos(2.0 * _m.pi * i / 12.0) for i in range(12)]
    )
    ang = F.atan2(ssin, scos)
    centroid = (
        F.when(ang < 0, ang + 2.0 * _m.pi).otherwise(ang)
        * 12.0
        / (2.0 * _m.pi)
    )
    d = prof.withColumn("__c", centroid)

    def circ(i):
        ad = F.abs(F.lit(float(i)) - F.col("__c"))
        return F.least(ad, 12.0 - ad)

    swd = ssum([p(i) * circ(i) * circ(i) for i in range(12)])
    tw = ssum([p(i) for i in range(12)])
    spread = F.when(tw > 1e-10, F.sqrt(swd / tw)).otherwise(F.lit(0.0))
    mean_u = 1.0 / 12.0
    var_u = ssum([(p(i) - mean_u) * (p(i) - mean_u) for i in range(12)]) / 12.0
    uniformity = 1.0 - F.sqrt(var_u / (mean_u * mean_u))

    tmpl = fifths_template()
    ordered = [p(pc) for pc in FIFTHS_ORDER]
    mean_a = ssum(ordered) / 12.0
    mean_b = sum(tmpl) / 12.0
    num = ssum(
        [(ordered[i] - mean_a) * (tmpl[i] - mean_b) for i in range(12)]
    )
    ssa = ssum([(ordered[i] - mean_a) * (ordered[i] - mean_a) for i in range(12)])
    ssb = sum((t - mean_b) ** 2 for t in tmpl)
    den = F.sqrt(ssa * F.lit(ssb))
    fifth_corr = F.when(den > 1e-10, num / den).otherwise(F.lit(0.0))

    tonic_dom = F.greatest(
        *[p(t) * p((t + 7) % 12) for t in range(12)], F.lit(0.0)
    )

    def triad(intervals):
        terms = []
        for root in range(12):
            prod = p((root + intervals[0]) % 12)
            for iv in intervals[1:]:
                prod = prod * p((root + iv) % 12)
            terms.append(F.pow(prod, 1.0 / len(intervals)))
        return F.greatest(*terms, F.lit(0.0))

    def diatonic():
        terms = []
        for root in range(12):
            dia = ssum([p((root + iv) % 12) for iv in DIATONIC_PCS])
            chrm = ssum([p((root + iv) % 12) for iv in CHROMATIC_PCS])
            terms.append(
                F.when(dia + chrm > 1e-10, dia / (dia + chrm)).otherwise(
                    F.lit(0.0)
                )
            )
        return F.greatest(*terms, F.lit(0.0))

    return d.select(
        "doc_id",
        entropy.alias("entropy"),
        F.col("__c").alias("centroid"),
        spread.alias("spread"),
        uniformity.alias("uniformity"),
        fifth_corr.alias("fifth_correlation"),
        tonic_dom.alias("tonic_dominant_strength"),
        triad(MAJOR_TRIAD).alias("major_triad_strength"),
        triad(MINOR_TRIAD).alias("minor_triad_strength"),
        diatonic().alias("diatonic_strength"),
    )


def chroma_vector_stats(chroma: DataFrame) -> DataFrame:
    """Per-vector chroma statistics (ComputeStats,
    chroma_vector.go:96-143 + computeSparsity/-Uniformity :300-341 +
    common.FindPeaks math.go:265-301):

    - moments per stats/moments.go Analyze: population central
      moments / n, SAMPLE variance (n-1), skew = m3/sd^3 and excess
      kurtosis = m4/sd^4 - 3, both 0 when sd = 0 (the nil
      standardized-moments path);
    - max/min/range; max_index = FIRST index achieving the max (the
      strict-> scan) = the dominant chroma (FindDominantChroma
      :280-293 agrees);
    - num_peaks: strict interior local maxima >= 0.1*max (the
      minDistance=1 constraint in FindPeaks is unreachable —
      adjacent strict maxima cannot exist);
    - sparsity = fraction below 0.01*max; uniformity =
      1 / (1 + population variance around sum/size), 1.0 on a zero
      vector.

    The vector pivots to `size` wide columns and EVERY sum is
    unrolled in index order, so both engines run identical double
    arithmetic (an avg() aggregate differs in summation order at the
    last ulp and was observed flipping a 6-dp rounding boundary).
    The Go Welford mean is replaced by the classic two-pass
    (sub-rounding deviation, documented).  Output: group cols + the
    12 statistics."""
    size = 12
    piv = chroma.groupBy(*_GROUP_COLS).agg(
        *[
            F.max(
                F.when(
                    F.col("pitch_class") == i,
                    F.col("cv").cast("double"),
                )
            ).alias(f"__c{i}")
            for i in range(size)
        ]
    )

    def c(i):
        return F.col(f"__c{i}")

    def ssum(terms):
        e = terms[0]
        for t in terms[1:]:
            e = e + t
        return e

    n = float(size)
    mean = ssum([c(i) for i in range(size)]) / n
    piv = piv.withColumn("__mu", mean)
    mu = F.col("__mu")
    var = ssum([(c(i) - mu) * (c(i) - mu) for i in range(size)]) / (
        n - 1.0
    )
    m3 = ssum(
        [(c(i) - mu) * (c(i) - mu) * (c(i) - mu) for i in range(size)]
    ) / n
    m4 = ssum(
        [
            (c(i) - mu) * (c(i) - mu) * (c(i) - mu) * (c(i) - mu)
            for i in range(size)
        ]
    ) / n
    sm = ssum([c(i) for i in range(size)])
    exp_u = sm / n
    piv = piv.withColumn("__eu", exp_u)
    eu = F.col("__eu")
    uvar = ssum([(c(i) - eu) * (c(i) - eu) for i in range(size)]) / n
    mx = F.greatest(*[c(i) for i in range(size)])
    mn = F.least(*[c(i) for i in range(size)])
    piv = piv.withColumn("__mx", mx)
    mxc = F.col("__mx")
    max_index = F.lit(None).cast("int")
    for i in reversed(range(size)):
        max_index = F.when(c(i) == mxc, F.lit(i)).otherwise(max_index)
    peaks = ssum(
        [
            F.when(
                (c(i) > c(i - 1))
                & (c(i) > c(i + 1))
                & (c(i) >= 0.1 * mxc),
                1,
            ).otherwise(0)
            for i in range(1, size - 1)
        ]
    )
    sparsity = (
        ssum(
            [
                F.when(c(i) < 0.01 * mxc, 1).otherwise(0)
                for i in range(size)
            ]
        ).cast("double")
        / n
    )
    piv = piv.withColumn("__var", var)
    sd = F.sqrt(F.col("__var"))
    skew = F.when(sd != 0, m3 / F.pow(sd, 3.0)).otherwise(F.lit(0.0))
    kurt = F.when(sd != 0, m4 / F.pow(sd, 4.0) - 3.0).otherwise(
        F.lit(0.0)
    )
    unif = F.when(sm == 0, F.lit(1.0)).otherwise(1.0 / (1.0 + uvar))
    return piv.select(
        *_GROUP_COLS,
        mu.alias("mean"),
        F.col("__var").alias("variance"),
        sd.alias("std_dev"),
        skew.alias("skewness"),
        kurt.alias("kurtosis"),
        (mxc - mn).alias("value_range"),
        mxc.alias("max_value"),
        mn.alias("min_value"),
        max_index.alias("max_index"),
        peaks.cast("int").alias("num_peaks"),
        sparsity.alias("sparsity"),
        unif.alias("uniformity"),
    )


def chroma_smooth(chroma: DataFrame) -> DataFrame:
    """Temporal chroma smoothing (Smooth, chroma_vector.go:245-277):
    each frame's vector becomes the per-class average over the
    [i - w/2, i + w/2] frame window (integer w/2, bounds clamped to
    the sequence — expressed by the frame window's natural
    truncation at partition edges, with the divisor = the actual
    window count, exactly the reference's count normalization).
    Output: doc_id, frame_idx, pitch_class, chroma (smoothed)."""
    window_size = 3
    half = window_size // 2
    w = (
        Window.partitionBy("doc_id", "pitch_class")
        .orderBy("frame_idx")
        .rowsBetween(-half, half)
    )
    return chroma.select(
        "doc_id",
        "frame_idx",
        "pitch_class",
        F.avg(F.col("hpcp").cast("double")).over(w).alias("chroma"),
    )
