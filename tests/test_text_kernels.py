"""Kernelization certificate for the r6 repetition_profile Arrow
kernel: bit-identical to the retained Catalyst expression form on the
real corpus and on boundary-engineered synthetic docs."""

from __future__ import annotations

import pytest
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _ngrams(words: Column, k: int) -> Column:
    """functions.text.ngrams_ws's shingle rule at any k."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, k)),
    )


def _sorted(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(cols).orderBy(cols).collect()]


def repetition_profile_expr(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    words_col: str = "words",
    top_word_max: float = 0.2,
    dup_3gram_max: float = 0.3,
) -> DataFrame:
    """The Catalyst expression form of repetition_profile — the
    reference the kernel is certified bit-equal against."""
    words = F.col(words_col)

    def dup_frac(k: int) -> Column:
        g = _ngrams(words, k)
        return F.round(
            1.0 - F.size(F.array_distinct(g)) / F.size(g), 6
        )

    base = docs.select(
        id_col,
        F.size(words).cast("long").alias("n_tokens"),
        dup_frac(3).alias("dup_3gram_frac"),
        dup_frac(5).alias("dup_5gram_frac"),
        words.alias("__w"),
    )
    top = (
        base.select(id_col, F.explode("__w").alias("__t"))
        .groupBy(id_col, "__t")
        .agg(F.count("*").alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__top"))
    )
    out = base.drop("__w").join(top, id_col)
    twf = F.round(F.col("__top") / F.col("n_tokens"), 6)
    return out.select(
        id_col,
        "n_tokens",
        twf.alias("top_word_frac"),
        "dup_3gram_frac",
        "dup_5gram_frac",
        (
            (twf > top_word_max)
            | (F.col("dup_3gram_frac") > dup_3gram_max)
        ).alias("flagged"),
    )


@pytest.mark.parametrize("src", ["synthetic", "testdata"])
def test_repetition_profile_kernel_bit_equal(spark, sf_dir, src):
    from sonar_spark.functions.text import repetition_profile

    if src == "synthetic":
        rows = [
            (0, "a"),                      # single token, m clamps to 1
            (1, "a a a a a a"),            # fully repeated
            (2, "a b c d e f g h"),        # fully novel
            (3, "a b a b a b a b a b"),    # period-2: dup 3-grams
            (4, "x y"),                    # n < k for both k
            (5, " ".join(["w%d" % (i % 7) for i in range(40)])),
            (6, "t t s s t t s s t"),      # boundary-ish fractions
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
    else:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words")
    )
    a = _sorted(repetition_profile(words))
    b = _sorted(repetition_profile_expr(words))
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)
