"""Weighted sampling without replacement — Efraimidis & Spirakis
(IPL 2006) in an exact-integer form.

The corpus-subsampling primitive a 100 TB pipeline runs when it wants
"N documents, longer documents proportionally more likely" (token-
budget-proportional sampling) without ever collecting weights to the
driver: E-S assigns every item an independent key u_i^(1/w_i)
(u uniform) and keeps the k largest keys per stratum — a single
map + per-group top-k, trivially distributed, and streaming/mergeable
(the k largest of a union = k largest of the per-shard k-largest).

Floating u^(1/w) is engine-hostile (pow at rank boundaries), so this
implementation uses the DISTRIBUTIONALLY IDENTICAL discrete form for
integer weights: the key of a doc with w tokens is

    K_i = max over the doc's w token slots of md5_60(doc_id:pos)

— the maximum of w iid uniforms, which is exactly the u^(1/w) law
(P(max <= t) = t^w), computed purely over 60-bit integers: ranking is
exact, cross-engine, and needs no float at any boundary.  A doc with
zero tokens has no slots and can never be sampled (w = 0 in E-S).

Scale shape: one scan of the token stream -> groupBy(doc).max (map-
side combine, one shuffle on doc already implied by the tokenize) ->
per-stratum top-k window over the (tiny) doc-level table.  The
per-shard top-k union property means shards can pre-prune to k rows
each before the final merge — no global sort ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sketch import md5_60


_K = 5


def weighted_sample(docs: DataFrame) -> DataFrame:
    """Top-k-per-stratum E-S weighted sample of documents, weight =
    whitespace token count.

    Input: documents(doc_id, text, source).  Output per kept doc:
    strata (the source), rank (1.._K by key desc), doc_id, weight,
    and the exact integer key — deterministic across runs, engines,
    partitionings.
    """
    toks = docs.select(
        F.col("source").alias("strata"),
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "__w"),
    ).where(F.length("__w") > 0)
    keyed = toks.groupBy("strata", "doc_id").agg(
        F.count("*").cast("long").alias("weight"),
        F.max(
            md5_60(
                F.concat_ws(
                    ":",
                    F.lit("es1"),
                    F.col("doc_id").cast("string"),
                    F.col("pos").cast("string"),
                )
            )
        ).alias("es_key"),
    )
    w = Window.partitionBy("strata").orderBy(
        F.col("es_key").desc(), F.col("doc_id").asc()
    )
    return (
        keyed.select(
            F.col("strata").alias("source"),
            F.row_number().over(w).cast("long").alias("rank"),
            "doc_id",
            "weight",
            "es_key",
        )
        .where(F.col("rank") <= _K)
    )
