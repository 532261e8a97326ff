"""DDSketch — a deterministic, mergeable quantile sketch with a
relative-error guarantee (Masson, Rim & Lee, VLDB 2019).

The quantile summary a 100 TB pipeline keeps per shard where the
exact order statistic would mean a corpus-wide sort: per value only a
bucket index i = ceil(log_gamma(v)) is kept, buckets merge by count
SUM (unlike a histogram the bucket GRID is global and data-
independent, so shard sketches always align), and any quantile read
back from the merged counts is within (gamma-1)/2 relative error of
the true order statistic.

This implementation fixes gamma = 2^(1/8) (~9.05% bucket width, max
~4.3% midpoint relative error) and — the reason it can ride this
repo's value-oracle contract — computes the bucket index in EXACT
INTEGER ARITHMETIC instead of floating log_gamma:

    for integer v >= 1 with b = bitlength(v)  (2^(b-1) <= v < 2^b):
        idx(v) = (b-1)*8 + (v*8 // 2^(b-1)) - 8

i.e. octave = floor(log2 v) from the bit length, and the 3 mantissa
bits after the leading 1 select one of 8 sub-buckets per octave.
Bucket bounds are dyadic rationals, exact in any IEEE engine:

    lo(idx) = (8 + idx%8) * 2^(idx//8 - 3),   up(idx) = lo(idx+1)
    lo(idx) <= v < up(idx),   up/lo <= 9/8 = gamma^~1.02

so Spark (F.bin bit length) and DuckDB (to_base(v,2)) produce
byte-identical sketches — no transcendental log at any boundary.
v = 0 goes to the reserved zero bucket idx = -1 (paper §2.2).

Quantile read: rank r = max(1, ceil(q*n)) (the inclusive upper order
statistic), answer = midpoint (lo+up)/2 of the first bucket whose
cumulative count reaches r — guaranteed within (up-lo)/(2*lo) <= 1/16
relative error of the true r-th smallest value.

Scale shape: one scan -> groupBy(group, idx).count is the whole
sketch build (map-side partial combine, bucket-bounded output:
<= ~8*64 rows per group regardless of input rows); merging shards is
the same groupBy over sketch tables, no raw-data rescan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: quantiles read back by ddsketch_quantiles
QS = (0.5, 0.9, 0.99)


def _pow2(exp: Column) -> Column:
    """2^exp as BIGINT via a column-valued shift (the pyspark
    F.shiftleft wrapper only takes a literal shift)."""
    return F.call_function("shiftleft", F.lit(1).cast("long"), exp)


def bucket_idx(v: Column) -> Column:
    """Exact-integer DDSketch bucket index for a non-negative BIGINT
    column (gamma = 2^(1/8)); v = 0 -> -1 (zero bucket).

    The 3 mantissa bits come from a SHIFT, never a division: for
    bit length b >= 4 the sub-bucket is v >> (b-4) - 8, exact for
    every int64 (a float (v*8)/2^(b-1) quotient starts mis-rounding
    at v ~ 2^53, and v*8 itself overflows past 2^60); b <= 3 means
    v <= 7 where (v*8) >> (b-1) is tiny and exact."""
    b = F.length(F.bin(v)).cast("int")
    sub = F.when(
        b >= 4, F.call_function("shiftright", v, b - 4)
    ).otherwise(F.call_function("shiftright", v * 8, b - 1))
    idx = (b - 1) * 8 + sub.cast("int") - 8
    return F.when(v <= 0, F.lit(-1)).otherwise(idx)


def _dyadic(num: Column, exp: Column) -> Column:
    """num * 2^exp as an exact double, via integer shifts only
    (|exp| small); never pow()."""
    return (
        F.when(exp >= 0, num.cast("double") * _pow2(exp))
        .otherwise(num.cast("double") / _pow2(-exp))
    )


def bucket_lo(idx: Column) -> Column:
    """Exact lower bound of bucket idx: (8 + idx%8) * 2^(idx//8 - 3);
    zero bucket (-1) -> 0.0."""
    o = F.floor(idx / 8).cast("int")
    s = idx - o * 8
    return F.when(idx < 0, F.lit(0.0)).otherwise(_dyadic(s + 8, o - 3))


def ddsketch_table(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Build the sketch: one count row per (group, bucket idx)."""
    return (
        df.select(*group_cols, bucket_idx(F.col("v")).alias("idx"))
        .groupBy(*group_cols, "idx")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def ddsketch_quantiles(events: DataFrame) -> DataFrame:
    """Per-group DDSketch quantile report, certified against the
    exact order statistic and the shard-merge law in one result.

    Output per (group, q): n, the answering bucket (idx, lo, up),
    est = (lo+up)/2, the exact r-th smallest value, the realized
    relative error (guaranteed <= (up-lo)/(2*lo) <= 1/16), and
    merge_ok — whether the sketch max-assembled from per-shard
    (event_id % 8) sub-sketches is bucket-for-bucket identical to
    the one built directly over the corpus (the DDSketch merge law:
    counts SUM, grid alignment is free).
    """
    base = events.select(
        F.col("event_type").alias("grp"),
        F.col("cents").alias("v"),
        (F.col("event_id") % 8).alias("shard"),
    )

    # direct sketch + shard-merged sketch; the comparison is the law
    direct = ddsketch_table(base, ["grp"])
    shards = ddsketch_table(base, ["grp", "shard"])
    merged = shards.groupBy("grp", "idx").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    cmpj = direct.alias("d").join(
        merged.alias("m"), ["grp", "idx"], "full_outer"
    )
    merge_ok = cmpj.groupBy("grp").agg(
        F.min(
            (F.col("d.cnt").isNotNull())
            & (F.col("m.cnt").isNotNull())
            & (F.col("d.cnt") == F.col("m.cnt"))
        ).alias("merge_ok"),
        F.count("*").cast("long").alias("n_buckets"),
    )

    # cumulative counts over the bucket grid
    w = Window.partitionBy("grp").orderBy("idx")
    cum = direct.select(
        "grp", "idx", "cnt", F.sum("cnt").over(w).cast("long").alias("cum")
    )
    n_tot = direct.groupBy("grp").agg(F.sum("cnt").cast("long").alias("n"))

    qdf = n_tot.select(
        "grp",
        "n",
        F.explode(F.array(*[F.lit(float(q)) for q in QS])).alias("q"),
    ).select(
        "grp", "n", "q", F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n"))).cast("long").alias("r")
    )

    # first bucket whose cumulative count reaches rank r
    hit = (
        qdf.join(cum, "grp")
        .where(F.col("cum") >= F.col("r"))
        .groupBy("grp", "q", "n", "r")
        .agg(F.min("idx").alias("idx"))
    )
    lo = bucket_lo(F.col("idx"))
    up = bucket_lo(F.col("idx") + 1)
    est = F.when(F.col("idx") < 0, F.lit(0.0)).otherwise((lo + up) / 2.0)

    # exact order statistic at the same rank, for the certificate
    wv = Window.partitionBy("grp").orderBy("v", "event_id")
    ranked = events.select(
        F.col("event_type").alias("grp"),
        F.col("cents").alias("v"),
        "event_id",
    ).select("grp", "v", F.row_number().over(wv).cast("long").alias("rn"))
    exact = (
        hit.select("grp", "q", "r")
        .join(ranked, ["grp"], "inner")
        .where(F.col("rn") == F.col("r"))
        .select("grp", "q", F.col("v").alias("exact_v"))
    )

    out = (
        hit.join(exact, ["grp", "q"])
        .join(merge_ok, "grp")
        .select(
            F.col("grp").alias("event_type"),
            F.round("q", 2).alias("q"),
            "n",
            "r",
            F.col("idx").cast("int").alias("bucket_idx"),
            F.round(lo, 6).alias("bucket_lo"),
            F.round(up, 6).alias("bucket_up"),
            F.round(est, 6).alias("est"),
            F.col("exact_v").cast("long").alias("exact_v"),
            F.when(
                F.col("exact_v") > 0,
                F.round((est - F.col("exact_v")) / F.col("exact_v"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("rel_err"),
            "merge_ok",
            "n_buckets",
        )
    )
    return out
