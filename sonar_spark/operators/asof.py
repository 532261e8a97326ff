"""Point-in-time / as-of join (backward: each left row matched to the
latest right row with right_ts <= left_ts).

Reference semantics: TruncateToAlignmentPCM keeps, for each point of
the lagging stream, the latest aligned counterpart
(reference fingerprint/extractors/alignment.go:223-297); our join
generalizes that to (entity, ts)-keyed tables with zero temporal
leakage (north_rule).

Spark has no native merge_asof. Two physical strategies:

1. strategy="union" (default): tag both sides, union, one sort-merge
   shuffle on entity, then a running last(payload, ignorenulls=True)
   window over (entity ORDER BY ts, side, version). One shuffle,
   O(1) state per row, stays inside whole-stage-codegen window exec.
   At equal timestamps the right row sorts first => backward joins
   include exact matches; at duplicate right timestamps the highest
   version wins (it sorts last and overwrites the running last()).
   A small right side (under spark.sql.autoBroadcastJoinThreshold, at
   most _CEIL (key, ts) intervals) leaves the left rows where they
   are: one window over the right side alone, with the same order and
   tie rules, turns its rows into validity intervals [ts, next ts)
   bucketed by time range, and each left row finds its interval in
   one broadcast hash join on (entity, time bin) inside the left
   side's own stage — no exchange and no sort of the left rows.
   Same rows, names and types either way
   (tests/test_asof.py::test_asof_paths_agree).

2. strategy="bucketed": the SURVEY §4 design for extreme per-entity
   skew (one entity's timeline too big for one task): range-bucket
   both sides on floor(ts / bucket_width) (adaptive width sizes the
   hottest entity's timeline to ~_TARGET_ROWS_PER_BUCKET per shard),
   make each right (entity, bucket)'s latest row visible to every
   later left bucket (boundary-spill carried via a bucket-granularity
   running window), optionally salt-split still-hot shards (left rows
   hashed across S salts, right/carry rows replicated per salt), then
   the SAME running-last window as the union strategy but partitioned
   by (entity, bucket, salt) — a hot entity's timeline is split
   across many tasks while everything stays in whole-stage-codegen
   window exec (no Python in the hot path). A JVM assert_true guard
   enforces zero temporal leakage at runtime.

Both return all left columns plus matched_ref_ts (null = no match)
and the matched right payload columns. Property-tested against the
quadratic brute-force golden (tests/golden.py asof_brute_force).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import AsofConfig


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "entity",
    left_ts: str = "ts",
    payload: tuple[str, ...] = ("ref_features",),
    cfg: AsofConfig = AsofConfig(),
    strategy: str = "union",
) -> DataFrame:
    """As-of (backward, inclusive) join of left onto right per key.

    right carries the reference timestamp ref_ts and the version
    ref_version (the higher wins at equal ref_ts).  Output: all left
    columns + matched_ref_ts (long, null if no right row precedes) +
    payload columns and ref_version from the matched right row.
    strategy="union" is one broadcast hash join when right is small
    (see _asof_broadcast), else one shuffle; "bucketed" splits hot
    keys' timelines by time range.
    """
    if strategy == "union":
        return _asof_union(left, right, key, left_ts, payload)
    if strategy == "bucketed":
        return _asof_bucketed(left, right, key, left_ts, payload, cfg)
    raise ValueError(f"unknown asof strategy {strategy!r}")


def _tagged_union(left, right, key, left_ts, carry):
    """left and right as one frame for the union windows: every left
    column, __ts (the row's timestamp as long), __is_left (1 on left
    rows, 0 on right rows), __rts (the right timestamp, null on left
    rows) and the carry columns, each side null-padded with the
    other's columns."""
    lcols = left.columns
    ltypes = dict(left.dtypes)
    rtypes = dict(right.select(*carry).dtypes)
    r = right.select(
        F.col(key),
        F.col("ref_ts").cast("long").alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.col("ref_ts").cast("long").alias("__rts"),
        *[F.col(c) for c in carry],
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lcols if c != key],
    )
    ldf = left.select(
        *lcols,
        F.col(left_ts).cast("long").alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast("long").alias("__rts"),
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in carry],
    )
    return ldf.unionByName(r.select(*ldf.columns))


def _asof_union(left, right, key, left_ts, payload):
    out = _asof_broadcast(left, right, key, left_ts, payload)
    if out is not None:
        return out
    lcols = left.columns
    carry = [*payload, "ref_version"]
    u = _tagged_union(left, right, key, left_ts, carry)
    # order: ts asc; at equal ts right (0) before left (1) => inclusive
    # backward match; among right rows at equal ts, higher version last
    # => running last() keeps it.
    w = (
        Window.partitionBy(key)
        .orderBy(
            F.col("__ts").asc(),
            F.col("__is_left").asc(),
            F.col("ref_version").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        *lcols,
        "__is_left",
        F.last("__rts", ignorenulls=True).over(w).alias("matched_ref_ts"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carry],
    )
    return filled.where(F.col("__is_left") == 1).drop("__is_left")


# Most (key, ts) intervals that _asof_union answers with the broadcast
# interval join; above it the union plan runs.  Measured on local[4]
# against a 2^20-row left side (1,024 bigint keys, 8 parquet row
# groups, a double payload) as construction + execution, medians of 5
# warm runs per repeat, broadcast vs union plan: 2^15 reference rows
# 0.32 + 0.59 s vs 0.13 + 1.02 s (repeat: 0.74 + 1.04 vs 0.38 + 1.52);
# 2^16 0.39 + 0.80 vs 0.18 + 1.07, 0.56 + 0.96 vs 0.18 + 1.21 and
# 0.50 + 0.89 vs 0.25 + 1.18 (level: slower in one repeat of three);
# 2^17 0.46 + 1.01 vs 0.13 + 1.06 and 0.65 + 1.29 vs 0.26 + 1.29;
# 2^18 0.50 + 1.55 vs 0.13 + 1.15.  More cores spread the union plan's
# shuffle wider; the crossover on more than 4 cores (say 32) is not
# measured.
_CEIL = 1 << 15


def _asof_broadcast(left, right, key, left_ts, payload):
    """_asof_union's plan for a small reference side, or None when the
    union plan must run.

    The reference side alone becomes a table of validity intervals: one
    window per key in the union plan's order (ts, version nulls first)
    fills every carry column with its running last non-null value
    (the union plan's last(c, ignorenulls=True)) and gives each row
    the key's next timestamp (lead); the last row of each (key, ts)
    group is that timestamp's reference row, valid on [ts, next ts),
    the key's last one open-ended (__asof_next null).  Each interval is
    exploded to the bins of one global width w over [lo, hi] that it
    covers (bin (ts - lo) div w, everything at or above hi in the top
    bin); a key's intervals tile [first ts, hi], so w = span * keys /
    intervals keeps the table at most three rows per interval.  Each
    left row then finds its interval in one broadcast hash join on
    (key, time bin) inside the left side's own stage: no exchange and
    no sort of the left rows.  Catalyst prunes the carry columns the
    query does not read, down to the reference scan.

    The reference side runs as one partition: it is at most the
    broadcast threshold and goes to one place for the broadcast anyway,
    so one task counts and windows it with no exchange.  One eager
    one-row aggregate over its distinct (key, ts) pairs gives lo, hi,
    the key and interval counts, and whether a key or ts is null.  The
    union plan is kept when Spark's autoBroadcastJoinThreshold is -1 or
    below the optimizer's size estimate of the reference projection,
    for streaming sides, keys that are not string or integral (or
    differ in type between the sides, which the union would widen),
    more than _CEIL intervals, a timestamp span beyond a signed 64-bit
    integer, and null reference keys or timestamps (the union plan's
    null-key partition and nulls-first order decide those rows)."""
    spark = right.sparkSession
    thr = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    kt = right.schema[key].dataType
    if (
        thr < 0
        or left.isStreaming
        or right.isStreaming
        or not (isinstance(kt, T.IntegralType) or kt == T.StringType())
        or left.schema[key].dataType != kt
    ):
        return None
    carry = [*payload, "ref_version"]
    ref = right.select(
        F.col(key).alias("__asof_k"),
        F.col("ref_ts").cast("long").alias("__asof_ts"),
        *carry,
    )
    est = ref._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if int(str(est)) > thr:
        return None
    ref = ref.coalesce(1)
    k, ts = F.col("__asof_k"), F.col("__asof_ts")
    s = (
        ref.select(k, ts)
        .distinct()
        .selectExpr(
            "min(__asof_ts) AS lo",
            "max(__asof_ts) AS hi",
            "count(DISTINCT __asof_k) AS keys",
            "count(*) AS n",
            "count_if(__asof_k IS NULL OR __asof_ts IS NULL) AS nulls",
        )
        .collect()[0]
    )
    if s["nulls"] or s["n"] > _CEIL:
        return None
    lo, hi = s["lo"] or 0, s["hi"] or 0
    if hi - lo >= (1 << 63) - 1:
        return None
    w = max(1, (hi - lo + 1) * s["keys"] // max(s["n"], 1))
    top = F.lit((hi - lo) // w).cast("long")

    def div(a, b):
        return F.call_function("div", a, F.lit(b))

    wk = Window.partitionBy(k).orderBy(
        ts.asc(), F.col("ref_version").asc_nulls_first()
    )
    run = wk.rowsBetween(Window.unboundedPreceding, 0)
    nxt = F.col("__asof_next")
    intervals = (
        ref.select(
            k,
            ts,
            F.lead(ts).over(wk).alias("__asof_next"),
            *[F.last(c, ignorenulls=True).over(run).alias(c) for c in carry],
        )
        .where(~nxt.eqNullSafe(ts))
        .select(
            "*",
            F.explode(
                F.sequence(
                    div(ts - lo, w),
                    F.coalesce(div(nxt - 1 - lo, w), top),
                )
            ).alias("__asof_b"),
        )
    )
    # integer bins on both sides (a double division loses precision
    # above 2^53); below lo nothing can match, at or above hi is the
    # top bin, and the subtraction only runs where it cannot overflow
    t = F.col(left_ts).cast("long")
    lb = left.select(
        *left.columns,
        F.when(t < lo, -1)
        .when(t >= hi, top)
        .otherwise(div(t - F.lit(lo), w))
        .alias("__asof_lb"),
    )
    cond = (
        (F.col(key) == k)
        & (F.col("__asof_lb") == F.col("__asof_b"))
        & (t >= ts)
        & (nxt.isNull() | (t < nxt))
    )
    return lb.join(F.broadcast(intervals), cond, "left").select(
        *left.columns, ts.alias("matched_ref_ts"), *carry
    )


# adaptive bucketing (bucket_width=None): rows of the hottest entity
# per (entity, bucket) shard
_TARGET_ROWS_PER_BUCKET = 65536


def _asof_bucketed(left, right, key, left_ts, payload, cfg):
    if cfg.bucket_width is None:
        # adaptive: widest buckets that keep the BIGGEST single-entity
        # timeline under ~target rows per shard; buckets exist to split
        # oversized timelines across tasks, nothing else.  One query
        # gives the hottest key's row count and the ts range.
        t = F.col(left_ts).cast("long")
        stats = (
            left.groupBy(key)
            .agg(F.count(F.lit(1)).alias("n"), F.min(t).alias("lo"), F.max(t).alias("hi"))
            .agg(F.max("n").alias("hot"), F.min("lo").alias("lo"), F.max("hi").alias("hi"))
            .collect()[0]
        )
        hot = stats["hot"] or 1
        if stats["hi"] is None:  # empty left: any width works
            span = 1
        else:
            span = max(int(stats["hi"] - stats["lo"]) + 1, 1)
        n_buckets = max(1, int(hot // _TARGET_ROWS_PER_BUCKET) + 1)
        bucket_w = max(1, span // n_buckets + 1)
    else:
        bucket_w = int(cfg.bucket_width)
    carry = [*payload, "ref_version"]
    lcols = left.columns
    ltypes = dict(left.dtypes)
    rtypes = dict(right.select(*carry).dtypes)
    lb = left.withColumn("__ts", F.col(left_ts).cast("long")).withColumn(
        "__b", F.floor(F.col("__ts") / bucket_w)
    )
    rb = right.select(
        key, F.col("ref_ts").cast("long").alias("__ts"), *carry
    ).withColumn("__b", F.floor(F.col("__ts") / bucket_w))

    # Latest right row per (entity, bucket) via max(struct(ts, version, ...)).
    last_per_bucket = (
        rb.groupBy(key, "__b")
        .agg(F.max(F.struct("__ts", "ref_version", *payload)).alias("__s"))
        .select(
            key,
            "__b",
            F.col("__s.__ts").alias("__ts"),
            F.col("__s.ref_version").alias("ref_version"),
            *[F.col(f"__s.{c}").alias(c) for c in payload],
        )
    )

    # Carry row per left (entity, bucket): latest right row from any
    # STRICTLY EARLIER bucket (left bucket rows ordered before
    # same-bucket right rows so the running last() can't see them).
    lbk = (
        lb.select(key, "__b")
        .distinct()
        .withColumn("__is_left", F.lit(1))
        .select(
            key,
            "__b",
            "__is_left",
            *[
                F.lit(None).cast(t).alias(c)
                for c, t in rb.select("__ts", *carry).dtypes
            ],
        )
    )
    rbk = last_per_bucket.withColumn("__is_left", F.lit(0)).select(*lbk.columns)
    wb = (
        Window.partitionBy(key)
        .orderBy(F.col("__b").asc(), F.col("__is_left").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carry_rows = (
        lbk.unionByName(rbk)
        .select(
            key,
            "__b",
            "__is_left",
            *[
                F.last(c, ignorenulls=True).over(wb).alias(c)
                for c in ["__ts", *carry]
            ],
        )
        .where((F.col("__is_left") == 1) & F.col("__ts").isNotNull())
        .drop("__is_left")
    )

    # One tagged union; the running last-right fill is a JVM window
    # over (entity, bucket, salt) — the SAME sort-merge as the union
    # strategy but with the range bucket (and salt) in the partition
    # key, so a hot entity's timeline is split across many tasks.
    # Cross-bucket correctness comes from the carry rows; everything
    # stays in whole-stage codegen (no Python in the hot path).
    r_all = rb.unionByName(carry_rows.select(*rb.columns)).select(
        F.col(key),
        "__b",
        "__ts",
        F.lit(0).alias("__is_left"),
        *[F.col(c) for c in carry],
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lcols if c != key],
    )
    l_all = lb.select(
        F.col(key),
        "__b",
        "__ts",
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in carry],
        *[F.col(c) for c in lcols if c != key],
    )
    # salted skew splitting: when one (entity, bucket) shard is still
    # too hot (burst of left rows in a narrow ts range), split LEFT
    # rows across S salts and replicate the (small) right/carry rows
    # into every salt so each salt shard sees the full right timeline.
    S = max(int(cfg.salt), 1)
    if S > 1:
        l_all = l_all.withColumn(
            "__salt", F.pmod(F.xxhash64("__ts", lcols[0]), F.lit(S)).cast("int")
        )
        r_all = r_all.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0), F.lit(S - 1)))
        )
    else:
        l_all = l_all.withColumn("__salt", F.lit(0))
        r_all = r_all.withColumn("__salt", F.lit(0))
    u = l_all.unionByName(r_all.select(*l_all.columns))

    # order within a shard: ts asc; at equal ts right (0) before left
    # (1) => inclusive backward match; among right rows at equal ts the
    # higher version sorts last and wins the running last().
    w = (
        Window.partitionBy(key, "__b", "__salt")
        .orderBy(
            F.col("__ts").asc(),
            F.col("__is_left").asc(),
            F.col("ref_version").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched_src = F.when(F.col("__is_left") == 0, F.col("__ts"))
    filled = u.select(
        *lcols,
        "__is_left",
        "__ts",
        F.last(matched_src, ignorenulls=True).over(w).alias("matched_ref_ts"),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carry],
    )
    out = filled.where(F.col("__is_left") == 1)
    # zero-temporal-leakage runtime guard (north_rule): by construction
    # matched_ref_ts <= __ts; assert_true raises if any row violates.
    leak_ok = F.col("matched_ref_ts").isNull() | (
        F.col("matched_ref_ts") <= F.col("__ts")
    )
    guarded = F.when(
        F.assert_true(leak_ok, F.lit("temporal leakage in as-of join")).isNull(),
        F.col("matched_ref_ts"),
    )
    return out.select(
        *lcols,
        guarded.alias("matched_ref_ts"),
        *[F.col(c) for c in carry],
    )


def asof_join_nearest_fused(left: DataFrame, right: DataFrame) -> DataFrame:
    """Nearest-as-of in ONE union pass: each left row gets both its
    backward match (latest right at or before) and its forward match
    (earliest right at or after), then the nearer of the two by
    absolute gap; ties (equal gap both sides) resolve BACKWARD — the
    zero-temporal-leakage-preferring rule.  Both directions come from
    two window specs over the SAME (key)-partitioned exchange
    (ascending (ts, side, version) for the backward running-last,
    descending-ts for the forward one — the backfill_grid two-pass
    trick), so the whole join is 2 scans + 1 data exchange.
    Equal-ts matches count on both sides and the highest version
    wins; tests/test_backfill_sampling.py certifies the output equal
    to a composed reference (two directional union joins re-joined
    on the left id).

    Joins right (user_id, ref_ts, ref_version, ref_value) onto left
    (user_id, ts_sec).  Output: all left columns, matched_ref_ts +
    ref_value (backward), matched_fwd_ts + ref_value_fwd (forward),
    matched_near_ts, near_src ('b'/'f', null when neither side
    matches), near_gap_s and ref_value_near.
    """
    lcols = left.columns
    u = _tagged_union(left, right, "user_id", "ts_sec", ["ref_value", "ref_version"])

    version = F.col("ref_version").asc_nulls_first()
    ob = [F.col("__ts").asc(), F.col("__is_left").asc(), version]
    of = [F.col("__ts").desc(), F.col("__is_left").asc(), version]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*ob)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*of)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        *lcols,
        "__is_left",
        "__ts",
        F.last("__rts", ignorenulls=True).over(wb).alias("matched_ref_ts"),
        F.last("ref_value", ignorenulls=True).over(wb).alias("ref_value"),
        F.last("__rts", ignorenulls=True).over(wf).alias("matched_fwd_ts"),
        F.last("ref_value", ignorenulls=True).over(wf).alias("ref_value_fwd"),
    )
    j = filled.where(F.col("__is_left") == 1)
    bgap = F.col("__ts") - F.col("matched_ref_ts")
    fgap = F.col("matched_fwd_ts") - F.col("__ts")
    take_b = F.col("matched_ref_ts").isNotNull() & (
        F.col("matched_fwd_ts").isNull() | (bgap <= fgap)
    )
    take_f = F.col("matched_fwd_ts").isNotNull() & ~take_b
    return j.select(
        *lcols,
        "matched_ref_ts",
        "ref_value",
        "matched_fwd_ts",
        "ref_value_fwd",
        F.when(take_b, F.col("matched_ref_ts"))
        .when(take_f, F.col("matched_fwd_ts"))
        .cast("long")
        .alias("matched_near_ts"),
        F.when(take_b, F.lit("b")).when(take_f, F.lit("f")).alias("near_src"),
        F.when(take_b, bgap).when(take_f, fgap).cast("long").alias("near_gap_s"),
        F.when(take_b, F.col("ref_value"))
        .when(take_f, F.col("ref_value_fwd"))
        .alias("ref_value_near"),
    )


_TOLERANCE = 3600


def asof_join_tolerance(left: DataFrame, right: DataFrame) -> DataFrame:
    """Backward as-of with a max-staleness tolerance (pandas
    merge_asof's tolerance; the feature-TTL rule: a reference
    older than _TOLERANCE seconds must NOT be used), joining the same
    columns as asof_join_nearest_fused.  Exactly the
    union strategy's plan — the tolerance is a post-match column
    rewrite (match columns nulled beyond the window), so the physical
    plan is unchanged and the leakage guarantee is inherited.  Output
    adds within_tol (false when a match existed but was too stale;
    null when no match at all).
    """
    j = _asof_union(
        left, right, "user_id", "ts_sec", ("ref_value",)
    )
    ok = F.col("ts_sec").cast("long") - F.col("matched_ref_ts") <= _TOLERANCE
    return j.select(
        *[c for c in left.columns],
        F.when(ok, F.col("matched_ref_ts"))
        .cast("long")
        .alias("matched_ref_ts"),
        *[F.when(ok, F.col(c)).alias(c) for c in ("ref_value", "ref_version")],
        F.when(F.col("matched_ref_ts").isNotNull(), ok).alias("within_tol"),
    )
