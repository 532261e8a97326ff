"""Token-balanced output sharding — the last stage of a training-data
pipeline: split the corpus into N output shards of ~equal token
budget (so downstream loaders stream equal-sized files), assigned
deterministically by a prefix sum over a stable document order.

shard(doc) = floor(tokens_before_doc / ceil(total_tokens / N))
— contiguous in doc order, every shard's budget within one document
of the target (greedy boundary), reproducible across runs/engines.

The scale-sensitive piece is the GLOBAL prefix sum: sum() OVER
(ORDER BY doc_id) is a single-partition window on 100 TB.
global_cumsum computes the same numbers with the relational
zipWithIndex two-pass (operators/negatives.global_dense_index is the
same plan over a constant-1 column): deterministic range buckets
from a tiny min/max aggregate -> per-bucket sums (tiny agg) ->
cumulative offsets over the <= B-row bucket table -> broadcast join
+ within-bucket running sum (windows partitioned by bucket, fully
parallel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_buckets(df: DataFrame) -> DataFrame:
    """Add __b = deterministic, order-respecting bucket id in [0, 32)
    (monotone in doc_id) from one tiny min/max aggregate — the first pass of
    global_cumsum.

    NUMERIC-ONLY CONTRACT (ADVICE r5): the bucket formula does
    arithmetic on doc_id, so it must be a numeric (or date/
    timestamp-as-number) column; a string column would yield null
    buckets (rows silently dropped by the downstream inner join) or
    a numeric-bucket/lexicographic-window hybrid order.  Asserted
    here rather than documented-only."""
    import pyspark.sql.types as T

    dt = df.schema["doc_id"].dataType
    if not isinstance(
        dt, (T.NumericType, T.DateType, T.TimestampType)
    ):
        raise TypeError(
            f"range_buckets requires a numeric doc_id; it is {dt.simpleString()}"
        )
    mm = df.groupBy().agg(
        F.min("doc_id").alias("__lo"), F.max("doc_id").alias("__hi")
    )
    return df.crossJoin(F.broadcast(mm)).withColumn(
        "__b",
        F.when(
            F.col("__hi") > F.col("__lo"),
            F.floor(
                (F.col("doc_id") - F.col("__lo")).cast("double")
                * 32
                / (F.col("__hi") - F.col("__lo") + 1)
            ).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("__lo", "__hi")


def bucket_offsets(per_bucket: DataFrame) -> DataFrame:
    """(__b, __off = sum of __s over all LOWER buckets) via a
    triangle self-join over the <= 32-row table (no
    WindowExec: a global-ordered window would plan single-partition,
    and Catalyst folds any constant partition key away) — quadratic
    only in the BUCKET count."""
    return (
        per_bucket.alias("a")
        .join(
            per_bucket.select(
                F.col("__b").alias("__b2"), F.col("__s").alias("__v2")
            ),
            F.col("__b2") < F.col("__b"),
            "left",
        )
        .groupBy("__b")
        .agg(
            F.coalesce(F.sum("__v2"), F.lit(0)).cast("long").alias("__off")
        )
    )


def global_cumsum(df: DataFrame, *, val: str = "n_tok") -> DataFrame:
    """Add cum_before = exclusive prefix sum of `val` in doc_id order
    (== sum(val) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
    AND 1 PRECEDING), 0 for the first row) without a global
    single-partition sort.  doc_id values must be unique."""
    b = range_buckets(df)
    sums = b.groupBy("__b").agg(F.sum(val).cast("long").alias("__s"))
    offsets = bucket_offsets(sums)
    win = (
        Window.partitionBy("__b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(offsets), "__b")
        .withColumn(
            "cum_before",
            (
                F.coalesce(F.sum(val).over(win), F.lit(0))
                + F.col("__off")
            ).cast("long"),
        )
        .drop("__b", "__off")
    )


_N_SHARDS = 8


def shard_balance(docs: DataFrame) -> DataFrame:
    """Assign each doc a shard in [0, n_shards) with ~equal token
    budgets.  Output per doc: id, n_tok, cum_before, shard, plus the
    shard's realized totals (shard_tokens, shard_docs) riding every
    row — the balance certificate."""
    cs = global_cumsum(docs)
    # total from the INPUT, not the cumsum subtree — re-deriving cs
    # for a single scalar would double the two-pass (plan-audited)
    tot = docs.groupBy().agg(
        F.sum("n_tok").cast("long").alias("__tot")
    )
    # greatest(...,1): an all-empty corpus (total 0) degenerates to
    # shard 0 instead of dividing by zero
    target = F.greatest(
        F.ceil(F.col("__tot") / _N_SHARDS).cast("long"), F.lit(1)
    )
    assigned = cs.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        "cum_before",
        F.least(
            F.floor(F.col("cum_before") / target).cast("int"),
            F.lit(_N_SHARDS - 1),
        ).alias("shard"),
    )
    ws = Window.partitionBy("shard")
    return assigned.select(
        "doc_id",
        "n_tok",
        "cum_before",
        "shard",
        F.sum("n_tok").over(ws).cast("long").alias("shard_tokens"),
        F.count("*").over(ws).cast("long").alias("shard_docs"),
    )
