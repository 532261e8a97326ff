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
   most _CEIL rows) skips that shuffle: its rows are collected once,
   the same window runs on the driver as a table of validity
   intervals [ts, next ts) bucketed by time range, and each left row
   finds its interval in one broadcast hash join on (entity, time
   bin) inside the left side's own stage — no exchange and no sort of
   the left rows.  Same rows, names and types either way
   (tests/test_asof.py::test_asof_paths_agree).

2. strategy="bucketed": the SURVEY §4 design for extreme per-entity
   skew (one entity's timeline too big for one task): range-bucket
   both sides on floor(ts / bucket_width) (adaptive width sizes the
   hottest entity's timeline to ~target_rows_per_bucket per shard),
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
quadratic brute-force oracle (sonar_spark.oracle.asof_brute_force).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import AsofConfig
from ..session import arrow_frame


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "entity",
    left_ts: str = "ts",
    right_ts: str = "ref_ts",
    version: str | None = "ref_version",
    payload: tuple[str, ...] = ("ref_features",),
    cfg: AsofConfig = AsofConfig(),
    strategy: str = "union",
) -> DataFrame:
    """As-of (backward, inclusive) join of left onto right per key.

    Output: all left columns + matched_ref_ts (long, null if no right
    row precedes) + payload columns from the matched right row.
    strategy="union" is one broadcast hash join when right is small
    (see _asof_broadcast), else one shuffle; "bucketed" splits hot
    keys' timelines by time range.
    """
    if strategy == "union":
        return _asof_union(left, right, key, left_ts, right_ts, version, payload)
    if strategy == "bucketed":
        return _asof_bucketed(
            left, right, key, left_ts, right_ts, version, payload, cfg
        )
    raise ValueError(f"unknown asof strategy {strategy!r}")


def _asof_union(left, right, key, left_ts, right_ts, version, payload):
    out = _asof_broadcast(left, right, key, left_ts, right_ts, version, payload)
    if out is not None:
        return out
    lcols = left.columns
    ltypes = dict(left.dtypes)
    carry = list(payload) + ([version] if version else [])
    rtypes = dict(right.select(*carry).dtypes)

    r = right.select(
        F.col(key),
        F.col(right_ts).cast("long").alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.col(right_ts).cast("long").alias("matched_ref_ts"),
        *[F.col(c) for c in carry],
        *[
            F.lit(None).cast(ltypes[c]).alias(c)
            for c in lcols
            if c != key
        ],
    )
    ldf = left.select(
        *lcols,
        F.col(left_ts).cast("long").alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast("long").alias("matched_ref_ts"),
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in carry],
    )
    u = ldf.unionByName(r.select(*ldf.columns))
    # order: ts asc; at equal ts right (0) before left (1) => inclusive
    # backward match; among right rows at equal ts, higher version last
    # => running last() keeps it.
    order = [F.col("__ts").asc(), F.col("__is_left").asc()]
    if version:
        order.append(F.col(version).asc_nulls_first())
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = u.select(
        *lcols,
        "__is_left",
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in ["matched_ref_ts", *carry]
        ],
    )
    return filled.where(F.col("__is_left") == 1).drop("__is_left")


# Largest reference table (rows) that _asof_union answers with the
# driver-built interval table; above it the union plan runs.  Measured
# on local[4] against a 1M-row left side (1,024 bigint keys, a double
# payload; each figure the median of 3 warm runs, a range over 2-3
# repeats): at 2^15 rows the broadcast path took 0.63-0.72 s and the
# union plan 0.99-1.04 s; at 2^16 they overlapped (0.72-0.82 s vs
# 0.67-1.02 s); at 2^17 the union plan won (0.76-1.16 s vs 0.82-1.26
# s), and at 2^20 by 1.9 s vs 5.1 s.  The driver peaked at 167 MB RSS
# at 2^15.
_CEIL = 1 << 15


def _asof_broadcast(left, right, key, left_ts, right_ts, version, payload):
    """_asof_union's plan for a small reference side, or None when the
    union plan must run.

    The reference rows come back to the driver in one bounded Arrow
    collect and become a validity-interval table (_interval_table); each
    left row then finds its interval in one broadcast hash join on
    (key, time bin) inside the left side's own stage — no exchange and
    no sort of the left rows.  The ceiling is Spark's
    autoBroadcastJoinThreshold (-1 forces the union plan): the
    optimizer's size estimate of the reference projection, checked
    before the collect, and the built table's Arrow size, after it.
    Also kept on the union plan: streaming sides, keys that are not
    string or integral (or differ in type between the sides, which the
    union would widen), fractional versions (NaN ordering), more
    than _CEIL reference rows, and null reference keys or timestamps
    (the union plan's null-key partition and nulls-first order)."""
    spark = right.sparkSession
    thr = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    kt = right.schema[key].dataType
    if (
        thr < 0
        or left.isStreaming
        or right.isStreaming
        or not (isinstance(kt, T.IntegralType) or kt == T.StringType())
        or left.schema[key].dataType != kt
        or (version and isinstance(right.schema[version].dataType, T.FractionalType))
    ):
        return None
    carry = list(payload) + ([version] if version else [])
    ref = right.select(
        F.col(key).alias("__asof_k"),
        F.col(right_ts).cast("long").alias("__asof_ts"),
        *carry,
    )
    est = ref._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if int(str(est)) > thr:
        return None
    head = ref.limit(_CEIL + 1).toArrow()
    if (
        head.num_rows > _CEIL
        or head.column("__asof_k").null_count
        or head.column("__asof_ts").null_count
    ):
        return None
    built = _interval_table(head, carry, version)
    if built is None or sum(a.nbytes for a in built[0].values()) > thr:
        return None
    cols, lo, hi, w = built
    types = {f.name: f.dataType for f in ref.schema.fields}
    types["__asof_b"] = types["__asof_next"] = T.LongType()
    intervals = F.broadcast(arrow_frame(spark, cols, types))
    # integer bins on both sides (a double division loses precision
    # above 2^53); below lo nothing can match, at or above hi is the
    # top bin, and the subtraction only runs where it cannot overflow
    t = F.col(left_ts).cast("long")
    lb = left.select(
        *left.columns,
        F.when(t < lo, -1)
        .when(t >= hi, (hi - lo) // w)
        .otherwise(F.call_function("div", t - F.lit(lo), F.lit(w)))
        .alias("__asof_lb"),
    )
    nxt = F.col("__asof_next")
    cond = (
        (F.col(key) == F.col("__asof_k"))
        & (F.col("__asof_lb") == F.col("__asof_b"))
        & (t >= F.col("__asof_ts"))
        & (nxt.isNull() | (t < nxt))
    )
    return lb.join(intervals, cond, "left").select(
        *left.columns, F.col("__asof_ts").alias("matched_ref_ts"), *carry
    )


def _interval_table(head, carry, version):
    """The validity intervals of the collected reference rows ``head``
    (pyarrow: __asof_k, __asof_ts, carry columns; no null key or ts)
    for _asof_broadcast, as (columns, lo, hi, w) — columns maps each
    output column to one Arrow array — or None when the timestamp span
    does not fit a signed 64-bit integer.

    Rows sort by (key, ts, version nulls first) — the union plan's
    window order.  Every carry column becomes its running last non-null
    value within the key (the union plan's last(c, ignorenulls=True)),
    and the last row of each (key, ts) group is that timestamp's
    reference row, valid on [ts, next ts of the key) — the key's last
    one is open-ended (__asof_next null).  Intervals are exploded to
    the bins of one global width w over [lo, hi] that they cover
    (column __asof_b); bin (ts - lo) div w, with everything at or above
    hi in the top bin.  A key's intervals tile [first ts, hi], so w =
    span * keys / intervals keeps the exploded table at most three rows
    per interval."""
    order = [("__asof_k", "ascending"), ("__asof_ts", "ascending")]
    if version:
        order.append((version, "ascending"))
    head = head.take(pc.sort_indices(head, sort_keys=order, null_placement="at_start"))
    n = head.num_rows
    k = head.column("__asof_k")
    ts = head.column("__asof_ts").to_numpy()
    idx = np.arange(n)
    new_key = np.ones(n, bool)
    new_key[1:] = pc.not_equal(k[1:], k[:-1]).to_numpy()
    kid = np.cumsum(new_key) - 1
    key_start = np.maximum.accumulate(np.where(new_key, idx, 0))
    filled = {}
    for c in carry:
        col = head.column(c)
        last = np.maximum.accumulate(np.where(pc.is_valid(col).to_numpy(), idx, -1))
        filled[c] = col.take(pa.array(last, mask=last < key_start))
    end = np.ones(n, bool)
    end[:-1] = new_key[1:] | (ts[1:] != ts[:-1])
    kept = np.flatnonzero(end)
    has_next = np.zeros(len(kept), bool)
    has_next[:-1] = kid[kept[1:]] == kid[kept[:-1]]
    nxt = np.zeros(len(kept), np.int64)
    nxt[:-1] = ts[kept[1:]]
    lo, hi = (int(ts.min()), int(ts.max())) if n else (0, 0)
    if hi - lo >= (1 << 63) - 1:
        return None
    w = max(1, (hi - lo + 1) * (int(kid[-1]) + 1) // len(kept)) if n else 1
    start = ts[kept]
    b0 = (start - lo) // w
    b1 = np.where(has_next, (nxt - 1 - lo) // w, (hi - lo) // w)
    counts = b1 - b0 + 1
    rows = np.repeat(kept, counts)
    first = np.repeat(np.cumsum(counts) - counts, counts)
    columns = {
        "__asof_k": k.take(rows).combine_chunks(),
        "__asof_b": pa.array(np.repeat(b0, counts) + (np.arange(len(rows)) - first)),
        "__asof_ts": pa.array(ts[rows]),
        "__asof_next": pa.array(
            np.repeat(nxt, counts), mask=~np.repeat(has_next, counts)
        ),
        **{c: filled[c].take(rows).combine_chunks() for c in carry},
    }
    return columns, lo, hi, w


def _asof_bucketed(left, right, key, left_ts, right_ts, version, payload, cfg):
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
        n_buckets = max(1, int(hot // cfg.target_rows_per_bucket) + 1)
        bucket_w = max(1, span // n_buckets + 1)
    else:
        bucket_w = int(cfg.bucket_width)
    carry = list(payload) + ([version] if version else [])
    lcols = left.columns
    ltypes = dict(left.dtypes)
    rtypes = dict(right.select(*carry).dtypes)
    lb = left.withColumn("__ts", F.col(left_ts).cast("long")).withColumn(
        "__b", F.floor(F.col("__ts") / bucket_w)
    )
    rb = right.select(
        key, F.col(right_ts).cast("long").alias("__ts"), *carry
    ).withColumn("__b", F.floor(F.col("__ts") / bucket_w))

    # Latest right row per (entity, bucket) via max(struct(ts, version, ...)).
    ver_cols = [F.col(version)] if version else []
    last_per_bucket = (
        rb.groupBy(key, "__b")
        .agg(
            F.max(
                F.struct(F.col("__ts"), *ver_cols, *[F.col(c) for c in payload])
            ).alias("__s")
        )
        .select(
            key,
            "__b",
            F.col("__s.__ts").alias("__ts"),
            *([F.col(f"__s.{version}").alias(version)] if version else []),
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
    order = [F.col("__ts").asc(), F.col("__is_left").asc()]
    if version:
        order.append(F.col(version).asc_nulls_first())
    w = (
        Window.partitionBy(key, "__b", "__salt")
        .orderBy(*order)
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


def asof_join_directional(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "entity",
    left_ts: str = "ts",
    right_ts: str = "ref_ts",
    version: str | None = "ref_version",
    payload: tuple[str, ...] = ("ref_features",),
    direction: str = "backward",
) -> DataFrame:
    """As-of join with a direction: "backward" (latest right at or
    before, the default asof_join), or "forward" (earliest right at
    or after — the label-window / next-touchpoint lookup).

    Forward is the backward join on NEGATED timestamps — one sign
    flip reuses the whole tested union strategy (same plans, same
    inclusive-at-equal-ts and highest-version-wins tie rules) — so
    the forward output column is matched_fwd_ts.
    """
    if direction == "backward":
        return _asof_union(left, right, key, left_ts, right_ts, version, payload)
    if direction != "forward":
        raise ValueError(f"unknown direction {direction!r}")
    nl = left.withColumn("__nts", -F.col(left_ts).cast("long"))
    nr = right.withColumn("__nts_r", -F.col(right_ts).cast("long")).drop(
        right_ts
    )
    res = _asof_union(
        nl, nr, key, "__nts", "__nts_r", version, payload
    )
    return res.select(
        *[c for c in left.columns],
        (-F.col("matched_ref_ts")).cast("long").alias("matched_fwd_ts"),
        *payload,
        *([version] if version else []),
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "entity",
    left_ts: str = "ts",
    right_ts: str = "ref_ts",
    left_id: str = "event_id",
    version: str | None = "ref_version",
    payload: tuple[str, ...] = ("ref_features",),
) -> DataFrame:
    """Nearest-as-of: both directional passes joined back on the
    unique left id, then a per-row pick by absolute gap; ties
    (equal gap both sides) resolve BACKWARD — the zero-temporal-
    leakage-preferring rule, documented rather than inherited.

    Output: all left columns, both matched timestamps and payloads,
    plus matched_near_ts / near_src ('b'/'f', null when no match on
    either side) / near_gap_s and the picked payload columns
    (<payload>_near).
    """
    b = asof_join_directional(
        left, right, key=key, left_ts=left_ts, right_ts=right_ts,
        version=version, payload=payload, direction="backward",
    )
    fwd_ren = {c: f"{c}_fwd" for c in payload}
    f = asof_join_directional(
        left, right, key=key, left_ts=left_ts, right_ts=right_ts,
        version=version, payload=payload, direction="forward",
    ).select(
        left_id,
        "matched_fwd_ts",
        *[F.col(c).alias(fwd_ren[c]) for c in payload],
    )
    j = b.join(f, left_id)
    bgap = F.col(left_ts).cast("long") - F.col("matched_ref_ts")
    fgap = F.col("matched_fwd_ts") - F.col(left_ts).cast("long")
    take_b = F.col("matched_ref_ts").isNotNull() & (
        F.col("matched_fwd_ts").isNull() | (bgap <= fgap)
    )
    take_f = F.col("matched_fwd_ts").isNotNull() & ~take_b
    return j.select(
        *left.columns,
        "matched_ref_ts",
        *payload,
        "matched_fwd_ts",
        *[fwd_ren[c] for c in payload],
        F.when(take_b, F.col("matched_ref_ts"))
        .when(take_f, F.col("matched_fwd_ts"))
        .cast("long")
        .alias("matched_near_ts"),
        F.when(take_b, F.lit("b")).when(take_f, F.lit("f")).alias("near_src"),
        F.when(take_b, bgap).when(take_f, fgap).cast("long").alias("near_gap_s"),
        *[
            F.when(take_b, F.col(c)).when(take_f, F.col(fwd_ren[c])).alias(
                f"{c}_near"
            )
            for c in payload
        ],
    )


def asof_join_nearest_fused(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "entity",
    left_ts: str = "ts",
    right_ts: str = "ref_ts",
    version: str | None = "ref_version",
    payload: tuple[str, ...] = ("ref_features",),
) -> DataFrame:
    """asof_join_nearest in ONE union pass — the plan you'd want:
    both directions come from two window specs over the SAME
    (key)-partitioned exchange (ascending (ts, side, version) for
    the backward running-last, descending-ts for the forward one —
    the backfill_grid two-pass trick), so the whole nearest join is
    2 scans + 1 data exchange instead of the composed version's 4
    scans + 2 passes + an id re-join.  Tie rules identical to
    asof_join_nearest (equal-ts inclusive both sides, highest
    version wins, nearest ties -> backward); the equivalence is
    pytest-certified against the composed implementation.
    """
    lcols = left.columns
    ltypes = dict(left.dtypes)
    carry = list(payload) + ([version] if version else [])
    rtypes = dict(right.select(*carry).dtypes)

    r = right.select(
        F.col(key),
        F.col(right_ts).cast("long").alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(right_ts).cast("long").alias("__rts"),
        *[F.col(c) for c in carry],
        *[
            F.lit(None).cast(ltypes[c]).alias(c)
            for c in lcols
            if c != key
        ],
    )
    ldf = left.select(
        *lcols,
        F.col(left_ts).cast("long").alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast("long").alias("__rts"),
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in carry],
    )
    u = ldf.unionByName(r.select(*ldf.columns))

    ob = [F.col("__ts").asc(), F.col("__side").asc()]
    of = [F.col("__ts").desc(), F.col("__side").asc()]
    if version:
        ob.append(F.col(version).asc_nulls_first())
        of.append(F.col(version).asc_nulls_first())
    wb = (
        Window.partitionBy(key)
        .orderBy(*ob)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(key)
        .orderBy(*of)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd_ren = {c: f"{c}_fwd" for c in payload}
    filled = u.select(
        *lcols,
        "__side",
        "__ts",
        F.last("__rts", ignorenulls=True).over(wb).alias("matched_ref_ts"),
        *[
            F.last(c, ignorenulls=True).over(wb).alias(c)
            for c in payload
        ],
        F.last("__rts", ignorenulls=True).over(wf).alias("matched_fwd_ts"),
        *[
            F.last(c, ignorenulls=True).over(wf).alias(fwd_ren[c])
            for c in payload
        ],
    )
    j = filled.where(F.col("__side") == 1)
    bgap = F.col("__ts") - F.col("matched_ref_ts")
    fgap = F.col("matched_fwd_ts") - F.col("__ts")
    take_b = F.col("matched_ref_ts").isNotNull() & (
        F.col("matched_fwd_ts").isNull() | (bgap <= fgap)
    )
    take_f = F.col("matched_fwd_ts").isNotNull() & ~take_b
    return j.select(
        *lcols,
        "matched_ref_ts",
        *payload,
        "matched_fwd_ts",
        *[fwd_ren[c] for c in payload],
        F.when(take_b, F.col("matched_ref_ts"))
        .when(take_f, F.col("matched_fwd_ts"))
        .cast("long")
        .alias("matched_near_ts"),
        F.when(take_b, F.lit("b")).when(take_f, F.lit("f")).alias("near_src"),
        F.when(take_b, bgap).when(take_f, fgap).cast("long").alias("near_gap_s"),
        *[
            F.when(take_b, F.col(c)).when(take_f, F.col(fwd_ren[c])).alias(
                f"{c}_near"
            )
            for c in payload
        ],
    )


def asof_join_tolerance(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str = "entity",
    left_ts: str = "ts",
    right_ts: str = "ref_ts",
    version: str | None = "ref_version",
    payload: tuple[str, ...] = ("ref_features",),
    tolerance: int = 3600,
) -> DataFrame:
    """Backward as-of with a max-staleness tolerance (pandas
    merge_asof's `tolerance`; the feature-TTL rule: a reference
    older than `tolerance` seconds must NOT be used).  Exactly the
    union strategy's plan — the tolerance is a post-match column
    rewrite (match columns nulled beyond the window), so the physical
    plan is unchanged and the leakage guarantee is inherited.  Output
    adds within_tol (false when a match existed but was too stale;
    null when no match at all).
    """
    j = _asof_union(left, right, key, left_ts, right_ts, version, payload)
    gap = F.col(left_ts).cast("long") - F.col("matched_ref_ts")
    ok = gap <= tolerance
    carry = list(payload) + ([version] if version else [])
    return j.select(
        *[c for c in left.columns],
        F.when(ok, F.col("matched_ref_ts"))
        .cast("long")
        .alias("matched_ref_ts"),
        *[F.when(ok, F.col(c)).alias(c) for c in carry],
        F.when(F.col("matched_ref_ts").isNotNull(), ok).alias("within_tol"),
    )
