"""Swap certificate for the r6 DSIR gram-bucket kernel: per-doc
bucket counts from the Arrow kernel must equal the grouped expression
gram stream exactly (hashlib.md5 == F.md5 bit-for-bit), and the full
dsir_scores output over the kernel path must match a replay over the
expression stream's counts."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sonar_spark.functions.dsir import (
    _N_BUCKETS,
    _gram_bucket_counts,
    _md5_u32,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        (
            F.regexp_extract("source", r"src(\d+)", 1).cast("int") <= 3
        ).alias("is_target"),
        F.split(F.trim(F.col("text")), r"\s+").alias("words"),
    )


def _gram_stream_expr(
    docs: DataFrame,
    *,
    id_col: str,
    target_col: str,
    words_col: str,
    n_buckets: int,
) -> DataFrame:
    """The exploded expression gram stream (one row per
    unigram/bigram instance, md5-bucketed) — the reference the Arrow
    gram-bucket kernel is certified against."""
    words = F.col(words_col)
    z = docs.select(
        id_col,
        target_col,
        words.alias("__wa"),
        F.concat(
            F.array(F.lit(None).cast("string")),
            F.slice(words, 1, F.size(words) - 1),
        ).alias("__pa"),
    ).select(
        id_col,
        target_col,
        F.explode(F.arrays_zip("__wa", "__pa")).alias("__z"),
    )
    return (
        z.select(
            id_col,
            target_col,
            F.col("__z.__wa").alias("__w"),
            F.col("__z.__pa").alias("__prev"),
        )
        .select(
            id_col,
            target_col,
            F.explode(
                F.array(
                    F.col("__w"),
                    F.when(
                        F.col("__prev").isNotNull(),
                        F.concat(F.col("__prev"), F.lit(" "), F.col("__w")),
                    ),
                )
            ).alias("__g"),
        )
        .where(F.col("__g").isNotNull())
        .select(
            id_col,
            target_col,
            (_md5_u32(F.col("__g")) % n_buckets).alias("__b"),
        )
    )


def test_gram_bucket_counts_equal_expression_stream(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    a = sorted(map(tuple, _gram_bucket_counts(docs).collect()))
    b = sorted(
        map(
            tuple,
            _gram_stream_expr(
                docs, id_col="doc_id", target_col="is_target",
                words_col="words", n_buckets=_N_BUCKETS,
            )
            .groupBy("doc_id", "is_target", "__b")
            .agg(F.count("*").cast("long").alias("__c"))
            .collect(),
        )
    )
    assert len(a) == len(b) > 0
    assert a == b
