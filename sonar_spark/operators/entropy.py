"""Entropy family + histogram bin rules, reproducing the reference's
Entropy analyzer arithmetic exactly (stats/entropy.go:165-763):

- bin-count rules (determineOptimalBins, :319-368): fixed, Sturges
  int(log2 n)+1, Scott ceil(range / (3.49 sigma n^-1/3)), Freedman-
  Diaconis ceil(range / (2 IQR n^-1/3)) with the reference's
  direct-index quartiles sorted[int(.25n)] / sorted[int(.75n)],
  square-root ceil(sqrt n), Doane 1+log2(n)+log2(1+|skew|/sigma_g)
  (int-truncated); Scott/FD fall back to 10 when the width is 0;
- fixed-width histogram (buildHistogram, :371-425): bin =
  trunc((x-min)/width) clamped to [0, bins-1];
- entropies over probabilities p = count/n (base-2 defaults of
  NewEntropy, :141-157): Shannon -sum p log2 p (:515-526), Renyi
  alpha=2 == collision -log2(sum p^2) (:530-552), Tsallis q=2
  1 - sum p^2 (:556-570), Hartley log2 |support| (:573-588),
  min-entropy -log2 max p (:591-606), normalized Shannon
  / log2(num_bins).

Physical plan: two grouped aggregations over the raw values (moments
pass + quartile row_number pass), a bins-per-rule projection, one
values x rules bin assignment, and one final aggregation — no
per-group collections, group cardinality unbounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BIN_RULES = ("fixed", "sturges", "scott", "fd", "sqrt", "doane")


def _bins_for_rule(rule: str) -> Column:
    n = F.col("n").cast("double")
    rng = F.col("hi") - F.col("lo")
    if rule == "fixed":
        return F.lit(16).cast("long")
    if rule == "sturges":
        return (F.floor(F.log2(n)) + 1).cast("long")
    if rule == "scott":
        width = 3.49 * F.sqrt(F.col("var")) * F.pow(n, -1.0 / 3.0)
        return F.when(width > 0, F.ceil(rng / width)).otherwise(
            F.lit(10)
        ).cast("long")
    if rule == "fd":
        width = 2.0 * (F.col("q3") - F.col("q1")) * F.pow(n, -1.0 / 3.0)
        return F.when(width > 0, F.ceil(rng / width)).otherwise(
            F.lit(10)
        ).cast("long")
    if rule == "sqrt":
        return F.ceil(F.sqrt(n)).cast("long")
    if rule == "doane":
        sigma_g = F.sqrt(6.0 * (n - 2) / ((n + 1) * (n + 3)))
        return F.floor(
            1.0 + F.log2(n) + F.log2(1.0 + F.abs(F.col("skew")) / sigma_g)
        ).cast("long")
    raise ValueError(rule)


def entropy_rate_conditional(df: DataFrame, order) -> DataFrame:
    """Entropy rate + lag-1 conditional entropy per group
    (entropy.go:609-707):

    - entropy rate = Shannon entropy of the first-order differences
      under the analyzer's DEFAULT (Scott) binning (:609-627 runs the
      full Analyze on the diffs);
    - conditional entropy H(X_t | X_{t-1}) from the joint lag-1
      histogram with numBins = max(int(sqrt(n)), 2) over the raw value
      range (:631-707); 0 when min == max.

    order: column(s) defining the sequence order within a group (must
    be a total order for determinism)."""
    cols = order if isinstance(order, (list, tuple)) else [order]
    w = Window.partitionBy("event_type").orderBy(*cols)
    d = df.select("event_type", *cols, F.col("value").cast("double").alias("v"))
    d = d.withColumn("prev", F.lag("v").over(w))
    pairs = d.where(F.col("prev").isNotNull())

    # entropy rate: reuse the full analyzer on the diffs, Scott rule
    diffs = pairs.select("event_type", (F.col("v") - F.col("prev")).alias("dv"))
    rate = entropy_variants(diffs, "dv", rules=("scott",)).select(
        "event_type", F.col("shannon").alias("entropy_rate")
    )

    # conditional entropy: joint lag-1 histogram over the RAW range
    st = d.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    ).withColumn(
        "nb",
        F.greatest(
            F.floor(F.sqrt(F.col("n").cast("double"))), F.lit(2)
        ).cast("long"),
    )
    j = pairs.join(F.broadcast(st), "event_type")
    bw = (F.col("hi") - F.col("lo")) / F.col("nb")

    def _bin(col):
        return F.least(
            F.floor((col - F.col("lo")) / bw), F.col("nb") - 1
        )

    joint = j.where(F.col("hi") > F.col("lo")).select(
        "event_type",
        F.col("n"),
        _bin(F.col("v")).alias("xbin"),
        _bin(F.col("prev")).alias("ybin"),
    )
    cnt = joint.groupBy("event_type", "n", "ybin", "xbin").agg(
        F.count("*").cast("double").alias("c")
    )
    wy = Window.partitionBy("event_type", "ybin")
    marg = cnt.withColumn("m", F.sum("c").over(wy))
    # H(X|Y) = sum_y P(y) * H(X|Y=y); total = n - 1 pairs
    per_y = marg.groupBy("event_type", "n", "ybin").agg(
        F.max("m").alias("m"),
        (-F.sum(
            (F.col("c") / F.col("m")) * F.log2(F.col("c") / F.col("m"))
        ) + F.lit(0.0)).alias("h_given_y"),
    )
    cond = per_y.groupBy("event_type").agg(
        F.sum(
            (F.col("m") / (F.col("n").cast("double") - 1.0))
            * F.col("h_given_y")
        ).alias("conditional_entropy")
    )
    # groups with min == max get conditional entropy 0 (:652-654)
    base = df.select("event_type").distinct()
    return (
        base.join(rate, "event_type", "left")
        .join(cond, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("entropy_rate", F.lit(0.0)).alias("entropy_rate"),
            F.coalesce("conditional_entropy", F.lit(0.0)).alias(
                "conditional_entropy"
            ),
        )
    )


def entropy_variants(
    df: DataFrame,
    value: str,
    rules: tuple[str, ...] = BIN_RULES,
) -> DataFrame:
    """(group, rule, num_bins, shannon, renyi2, tsallis2, hartley,
    min_entropy, norm_shannon) per group x bin rule."""
    d = df.select("event_type", F.col(value).cast("double").alias("v"))
    # ONE sorted pass computes everything the bin rules need: the
    # base moments arrive as full-partition window aggregates over
    # the same exchange that sorts for row_number, so the old
    # separate moments aggregation + join collapses into this scan
    # (events are scanned exactly twice overall: once here, once for
    # bin assignment).  Quartiles are the reference's direct-index
    # sorted[int(.25n)] / sorted[int(.75n)] picks
    # (entropy.go:341-349 — NOT interpolated); variance is the n-1
    # form of calculateMoments (:236-275).
    wo = Window.partitionBy("event_type").orderBy("v")
    wg = Window.partitionBy("event_type")
    r = d.select(
        "event_type",
        "v",
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wg).alias("n"),
        F.avg("v").over(wg).alias("mu"),
        F.var_samp("v").over(wg).alias("var"),
        F.min("v").over(wg).alias("lo"),
        F.max("v").over(wg).alias("hi"),
    )
    nn = F.col("n").cast("double")
    stats = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu"),
        F.max("var").alias("var"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.when(
            F.max("var") > 0,
            F.sum(
                F.pow(
                    (F.col("v") - F.col("mu")) / F.sqrt(F.col("var")),
                    F.lit(3.0),
                )
            )
            / F.max("n"),
        )
        .otherwise(F.lit(0.0))
        .alias("skew"),
        F.max(
            F.when(F.col("rn") == F.floor(0.25 * nn) + 1, F.col("v"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.floor(0.75 * nn) + 1, F.col("v"))
        ).alias("q3"),
    )

    per_rule = stats.select(
        "event_type",
        "n",
        "lo",
        F.when(F.col("hi") > F.col("lo"), F.col("hi"))
        .otherwise(F.col("lo") + 1.0)
        .alias("hi"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(rule).alias("rule"),
                        _bins_for_rule(rule).alias("num_bins"),
                    )
                    for rule in rules
                ]
            )
        ).alias("rb"),
    ).select(
        "event_type", "n", "lo", "hi", F.col("rb.rule").alias("rule"),
        F.col("rb.num_bins").alias("num_bins"),
    )

    # bin assignment per value x rule (buildHistogram :404-424)
    binned = d.join(F.broadcast(per_rule), "event_type").select(
        "event_type",
        "rule",
        "num_bins",
        "n",
        F.least(
            F.greatest(
                F.floor(
                    (F.col("v") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / F.col("num_bins"))
                ),
                F.lit(0),
            ),
            F.col("num_bins") - 1,
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "rule", "num_bins", "n", "bin").agg(
        F.count("*").alias("c")
    )
    p = F.col("c").cast("double") / F.col("n")
    ent = counts.groupBy("event_type", "rule", "num_bins").agg(
        (-F.sum(p * F.log2(p)) + F.lit(0.0)).alias("shannon"),
        F.sum(p * p).alias("sum_p2"),
        F.count("*").alias("support"),
        F.max(p).alias("max_p"),
    )
    return ent.select(
        "event_type",
        "rule",
        "num_bins",
        "shannon",
        (-F.log2(F.col("sum_p2")) + F.lit(0.0)).alias("renyi2"),
        (1.0 - F.col("sum_p2")).alias("tsallis2"),
        (F.log2(F.col("support").cast("double")) + F.lit(0.0)).alias(
            "hartley"
        ),
        (-F.log2(F.col("max_p")) + F.lit(0.0)).alias("min_entropy"),
        (
            F.col("shannon") / F.log2(F.col("num_bins").cast("double"))
        ).alias("norm_shannon"),
    )
