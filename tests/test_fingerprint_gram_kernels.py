"""Swap certificates for the r6 gram-hash kernel plans: the hashed
substring_spans / ngram_novelty must produce exactly the rows of the
retained string-keyed forms on the real corpus (this also certifies
zero 64-bit gram-hash collisions ON THESE CORPORA — a collision would
perturb a count or a first-seen id and change some row)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _words(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words")
    )


def _sorted(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(cols).orderBy(cols).collect()]


def substring_spans_expr(
    docs: DataFrame,
    *,
    k: int = 4,
    id_col: str = "doc_id",
    words_col: str = "words",
) -> DataFrame:
    """The string-keyed Catalyst form of substring_spans — the
    reference the gram-hash kernel plan is certified against."""
    words = F.col(words_col)
    base = docs.select(
        id_col, F.size(words).cast("long").alias("n_tokens"), words.alias("__ws")
    )
    grams = base.where(F.col("n_tokens") >= k).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), (F.col("n_tokens") - (k - 1)).cast("int")),
                lambda i: F.struct(
                    i.alias("pos"), F.concat_ws(" ", F.slice("__ws", i, k)).alias("s")
                ),
            )
        ).alias("g"),
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.s").alias("s"))
    dup = grams.groupBy("s").agg(F.count("*").alias("__tot")).where(
        F.col("__tot") >= 2
    )
    hits = grams.join(dup.select("s"), "s")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    flagged = hits.select(
        id_col,
        "pos",
        F.when(
            F.lag("pos").over(w_doc).isNull()
            | (F.col("pos") > F.lag("pos").over(w_doc) + k),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__new"),
    )
    spans = flagged.select(
        id_col,
        "pos",
        F.sum("__new").over(w_doc).alias("__span"),
    ).groupBy(id_col, "__span").agg(
        (F.max("pos") + (k - 1) - F.min("pos") + 1).cast("long").alias("__len")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum("__len").cast("long").alias("dup_tokens"),
        F.max("__len").cast("long").alias("longest_dup_span"),
    )
    out = base.drop("__ws").join(per_doc, id_col, "left")
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce("longest_dup_span", F.lit(0)).cast("long").alias(
            "longest_dup_span"
        ),
        F.round(
            F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_token_frac"),
    )


def ngram_novelty_expr(
    docs: DataFrame,
    *,
    k: int = 4,
    id_col: str = "doc_id",
    words_col: str = "words",
) -> DataFrame:
    """The string-keyed Catalyst form of ngram_novelty — the
    reference the gram-hash kernel plan is certified against."""
    words = F.col(words_col)
    base = docs.select(
        id_col, F.size(words).cast("long").alias("n_tokens"), words.alias("__ws")
    )
    grams = base.where(F.col("n_tokens") >= k).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), (F.col("n_tokens") - (k - 1)).cast("int")),
                lambda i: F.concat_ws(" ", F.slice("__ws", i, k)),
            )
        ).alias("s"),
    )
    first = grams.groupBy("s").agg(F.min(id_col).alias("__first"))
    per_doc = (
        grams.join(first, "s")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(
                (F.col("__first") == F.col(id_col)).cast("long")
            ).cast("long").alias("n_novel"),
        )
    )
    out = base.drop("__ws").join(per_doc, id_col, "left")
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        F.coalesce(
            F.round(F.col("n_novel") / F.col("n_grams"), 6), F.lit(1.0)
        ).alias("novelty_frac"),
    )


@pytest.mark.parametrize("k", [4, 3])
def test_substring_spans_hash_equals_string(spark, sf_dir, k, monkeypatch):
    from sonar_spark.operators import fingerprint
    from sonar_spark.operators.fingerprint import substring_spans

    monkeypatch.setattr(fingerprint, "_NGRAM_K", k)  # the queries use 4
    docs = _words(spark, sf_dir)
    a = _sorted(substring_spans(docs))
    b = _sorted(substring_spans_expr(docs, k=k))
    assert len(a) == len(b) > 0
    assert a == b


def test_ngram_novelty_hash_equals_string(spark, sf_dir):
    from sonar_spark.operators.fingerprint import ngram_novelty

    docs = _words(spark, sf_dir)
    a = _sorted(ngram_novelty(docs))
    b = _sorted(ngram_novelty_expr(docs, k=4))
    assert len(a) == len(b) > 0
    assert a == b


def test_shingle_hash_jaccard_equals_string(spark, sf_dir):
    """The hashed shingle sets must reproduce every pairwise
    |A∩B| / |A∪B| of the string shingle sets on the real corpus
    (certifies zero blake2b-64 collisions here) — checked directly
    on set sizes per doc AND on a pairwise-jaccard sample."""
    from pyspark.sql import functions as F

    from sonar_spark.operators.fingerprint import shingle_hash_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("words")
    )
    str_sh = docs.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("words") - 3, F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice("words", i, 4)),
            )
        ).alias("sh"),
    )
    hash_sh = shingle_hash_table(docs)
    a = {r["doc_id"]: len(r["sh"]) for r in str_sh.collect()}
    b = {r["doc_id"]: len(r["sh"]) for r in hash_sh.collect()}
    assert a == b and len(a) > 0
    # pairwise jaccard on a bounded slice, both forms
    sl = docs.where(F.col("doc_id") < 60)

    def jacs(t):
        x = t.select(F.col("doc_id").alias("da"), F.col("sh").alias("sa"))
        y = t.select(F.col("doc_id").alias("db"), F.col("sh").alias("sb"))
        p = x.join(y, F.col("da") < F.col("db"))
        return sorted(
            map(
                tuple,
                p.select(
                    "da",
                    "db",
                    F.round(
                        F.size(F.array_intersect("sa", "sb")).cast("double")
                        / F.size(F.array_union("sa", "sb")),
                        6,
                    ).alias("j"),
                ).collect(),
            )
        )

    js = jacs(
        sl.select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size("words") - 3, F.lit(1)),
                    ),
                    lambda i: F.concat_ws(" ", F.slice("words", i, 4)),
                )
            ).alias("sh"),
        )
    )
    jh = jacs(shingle_hash_table(sl))
    assert js == jh and len(js) > 0
