"""Deterministic uniform negative sampling for contrastive training
pairs, plus the scalable global dense index it rides on.

A contrastive curriculum (CLIP / SimCLR-style, or hard-negative
mining's uniform baseline) needs, for every anchor document, k
negatives drawn uniformly from the OTHER documents — deterministic
across runs and engines, with no self-pairs.  The exact-uniform
construction: give every doc a dense index g in [0, N); the j-th
negative of an anchor is

    r = md5_60(doc_id:j) mod (N-1);  neg = r + 1 if r >= g else r

— a bijection from [0, N-1) onto [0, N) \\ {g}, so each other doc is
hit uniformly up to a <= (N-1)/2^60 modulo bias (the mod of a 60-bit
draw is exactly uniform only when N-1 divides 2^60) and self-pairs
are impossible by construction.

The dense index is the scale-sensitive part: row_number() over a
global ORDER BY is a single-partition window (fine in an oracle,
wrong on 100 TB).  global_dense_index computes the same numbers as
an exclusive prefix count with sharding.global_cumsum, the
relational zipWithIndex two-pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sketch import md5_60
from .sharding import global_cumsum


def global_dense_index(df: DataFrame) -> DataFrame:
    """Add gidx = 0-based dense rank of doc_id over the whole table
    (== row_number() OVER (ORDER BY doc_id) - 1), without a global
    single-partition sort: the rank is the exclusive prefix count,
    i.e. sharding.global_cumsum over a constant-1 column.  doc_id
    values must be unique."""
    return (
        global_cumsum(df.withColumn("__one", F.lit(1)), val="__one")
        .withColumnRenamed("cum_before", "gidx")
        .drop("__one")
    )


_K = 4


def negative_pairs(docs: DataFrame) -> DataFrame:
    """k exact-uniform, self-free, deterministic negatives per doc.

    Output: doc_id, j (0..k-1), neg_gidx, neg_doc_id.  One tiny
    min/max agg + bucket-bounded offset table for the index, one
    shuffle joining probes to the indexed table on gidx.  A corpus
    with fewer than 2 docs has no possible negative and yields an
    empty result (the N-1 modulus guard).
    """
    # the index table feeds BOTH the probe side and the negative
    # lookup side — persist it so the two-pass (and the corpus scan
    # under it) runs once, not per consumer (the multi-consumer
    # corpus-subtree rule; plan-audited: 32 -> ~6 exchanges)
    idx = global_dense_index(docs.select("doc_id")).persist()
    n = idx.groupBy().agg(F.count("*").cast("long").alias("__n"))
    probes = (
        idx.crossJoin(F.broadcast(n))
        .where(F.col("__n") >= 2)
        .select(
            "doc_id",
            "gidx",
            "__n",
            F.explode(
                F.array(*[F.lit(j) for j in range(_K)])
            ).alias("j"),
        )
        .select(
            "doc_id",
            "j",
            (
                md5_60(
                    F.concat_ws(
                        ":",
                        F.lit("neg1"),
                        F.col("doc_id").cast("string"),
                        F.col("j").cast("string"),
                    )
                )
                % (F.col("__n") - 1)
            ).alias("__r"),
            "gidx",
        )
        .select(
            "doc_id",
            F.col("j").cast("long").alias("j"),
            F.when(F.col("__r") >= F.col("gidx"), F.col("__r") + 1)
            .otherwise(F.col("__r"))
            .cast("long")
            .alias("neg_gidx"),
        )
    )
    neg = idx.select(
        F.col("gidx").alias("neg_gidx"),
        F.col("doc_id").alias("neg_doc_id"),
    )
    return probes.join(neg, "neg_gidx").select(
        "doc_id", "j", "neg_gidx", "neg_doc_id"
    )
