"""Backfill / gap-fill onto a regular time grid — the feature-
engineering step the north rule names explicitly: turn each entity's
irregular event timeline into a fixed-cadence feature row set with
forward-filled (and look-ahead, for label windows) values.

Reference analog: the alignment pipeline's TruncateToAlignmentPCM /
interpolation stage regularizes two streams onto a common frame
clock before feature extraction (reference fingerprint/extractors/
alignment.go:223-297, transforms/resample.go); this operator is the
(entity, ts)-table generalization.

Physical plan (the asof._asof_union union trick, no join in the hot
path): per-entity grid timestamps come from one tiny min/max
aggregate exploded through sequence(); grid rows are UNIONed with the
observations and a single sort-merge shuffle on entity feeds two
running last(ignorenulls) window passes over the SAME exchange —
ascending (ts, side) for the backward fill (observation at the grid
instant included: side obs=0 < grid=1), descending (ts, side desc)
for the forward look-ahead (equal-ts observation again included).
O(1) state per row, whole-stage-codegen window exec, zero temporal
leakage in the ffill columns by construction of the sort key.

At 100x: the shuffle is one exchange keyed on entity (AQE-splittable
by the grid bucketing if an entity's timeline is hot — same story as
asof strategy="bucketed"); grid density is a knob (step), and the
output is grid-bounded, not event-bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_STEP = 21600


def backfill_grid(events: DataFrame) -> DataFrame:
    """Regularize each entity's (ts, value) stream onto a step-second
    grid (grid instants are global multiples of step covering the
    entity's observed span).

    Output per (entity, grid_ts): ffill_value / ffill_age_s from the
    latest observation at or before the instant (null before the
    first), bfill_value / bfill_lead_s from the earliest observation
    at or after it (null after the last), and n_obs — observations in
    the (grid_ts - step, grid_ts] cell.
    """
    obs = events.select(
        F.col("user_id").alias("entity"),
        F.unix_timestamp("ts").cast("long").alias("t"),
        F.col("value").cast("double").alias("v"),
        F.col("event_id").cast("long").alias("eid"),
    )

    # grid = step-aligned closure of the observed span (pure integer
    # arithmetic — the upper bound rounds UP so every observation
    # lands in exactly one (g-step, g] cell)
    t0 = F.col("t0")
    t1 = F.col("t1")
    g_up = F.when(t1 % _STEP == 0, t1).otherwise(t1 - t1 % _STEP + _STEP)
    grid = (
        obs.groupBy("entity")
        .agg(F.min("t").alias("t0"), F.max("t").alias("t1"))
        .select(
            "entity",
            F.explode(
                F.sequence(t0 - t0 % _STEP, g_up, F.lit(_STEP))
            ).alias("t"),
        )
        .select(
            "entity",
            "t",
            F.lit(None).cast("double").alias("v"),
            F.lit(1).alias("side"),
            F.lit(-1).cast("long").alias("eid"),
        )
    )
    un = obs.select(
        "entity", "t", "v", F.lit(0).alias("side"), "eid"
    ).unionByName(grid)

    # tie rules: the obs at the grid instant is included in BOTH
    # fills (side obs=0 sorts before grid=1 ascending, and side asc
    # again puts it before the grid row descending); among duplicate
    # obs timestamps the highest event_id wins (it scans last in
    # both passes) — the asof version rule.
    wf = (
        Window.partitionBy("entity")
        .orderBy(F.col("t").asc(), F.col("side").asc(), F.col("eid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = (
        Window.partitionBy("entity")
        .orderBy(F.col("t").desc(), F.col("side").asc(), F.col("eid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs_t = F.when(F.col("side") == 0, F.col("t"))
    filled = un.select(
        "entity",
        "t",
        "side",
        F.last("v", ignorenulls=True).over(wf).alias("fv"),
        F.last(obs_t, ignorenulls=True).over(wf).alias("ft"),
        F.last("v", ignorenulls=True).over(wb).alias("bv"),
        F.last(obs_t, ignorenulls=True).over(wb).alias("bt"),
        F.count(obs_t).over(wf).alias("cum_obs"),
    )
    g = filled.where(F.col("side") == 1)
    wlag = Window.partitionBy("entity").orderBy("t")
    return g.select(
        F.col("entity").alias("user_id"),
        F.col("t").alias("grid_ts"),
        F.round(F.col("fv"), 6).alias("ffill_value"),
        (F.col("t") - F.col("ft")).cast("long").alias("ffill_age_s"),
        F.round(F.col("bv"), 6).alias("bfill_value"),
        (F.col("bt") - F.col("t")).cast("long").alias("bfill_lead_s"),
        (
            F.col("cum_obs")
            - F.coalesce(F.lag("cum_obs").over(wlag), F.lit(0).cast("long"))
        )
        .cast("long")
        .alias("n_obs"),
    )


_WINDOW = 8


def grid_features(bf: DataFrame) -> DataFrame:
    """Backfilled per-window statistics over the regular grid (the
    north-rule composite): per (entity, grid_ts), an exponential
    moving average and rolling mean/std over the last _WINDOW grid
    instants of the forward-filled value.

    Exactness across engines without micro-unit machinery:

    - values become integer cents (exact); rolling sums are integer
      sums (order-free);
    - EWMA weights are the dyadic rationals 2^-k (alpha = 1/2), so
      every weighted partial sum is exactly representable — the one
      float division happens once per row on identical doubles;
    - the window is realized as _WINDOW lag() columns over the SAME
      (entity ORDER BY grid_ts) sort the backfill pass already
      shuffled for — whole-stage codegen, no second exchange, no
      interpreted array fold.

    Null semantics: grid instants before the entity's first
    observation have null ffill_value; they drop out of the count,
    the EWMA renormalizes over the non-null slots, and rows with an
    empty window emit nulls.
    """
    w = Window.partitionBy("user_id").orderBy("grid_ts")
    cents = F.floor(F.col("ffill_value") * 100 + 0.5).cast("long")
    d = bf.withColumn("__c", cents)
    lags = [F.lag("__c", k).over(w) for k in range(_WINDOW)]
    n_win = sum(
        F.when(lg.isNotNull(), 1).otherwise(0) for lg in lags
    ).cast("long")
    msum = sum(F.coalesce(lg, F.lit(0)).cast("long") for lg in lags)
    ssum = sum(
        (F.coalesce(lg, F.lit(0)) * F.coalesce(lg, F.lit(0))).cast("long")
        for lg in lags
    )
    ewma_num = sum(
        F.coalesce(lg.cast("double"), F.lit(0.0)) * F.lit(2.0 ** -k)
        for k, lg in enumerate(lags)
    )
    ewma_den = sum(
        F.when(lg.isNotNull(), F.lit(2.0 ** -k)).otherwise(F.lit(0.0))
        for k, lg in enumerate(lags)
    )
    mean_c = msum.cast("double") / n_win
    var_c2 = F.when(
        n_win > 1,
        (ssum.cast("double") - mean_c * mean_c * n_win) / (n_win - 1),
    ).otherwise(F.lit(0.0))
    return d.select(
        "user_id",
        "grid_ts",
        F.round("ffill_value", 6).alias("ffill_value"),
        n_win.alias("n_win"),
        F.when(
            ewma_den > 0,
            F.round(ewma_num / ewma_den / 100.0, 6),
        ).alias("ewma"),
        F.when(n_win > 0, F.round(mean_c / 100.0, 6)).alias("roll_mean"),
        F.when(
            n_win > 0,
            F.round(F.sqrt(F.greatest(var_c2, F.lit(0.0))) / 100.0, 6),
        ).alias("roll_std"),
    )
