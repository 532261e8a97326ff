"""Relevance scoring over the document corpus — TF-IDF keyword
extraction and BM25 ranked retrieval (Robertson & Zaragoza 2009).
The reference engine's text surface stops at similarity; these add
the standard IR query capabilities a corpus store serves (and a
training pipeline uses for targeted domain sampling).

Both are two-scan shapes: one corpus scan builds the vocab-bounded
document-frequency table (broadcast back), one scan scores.  The
quantized-interface convention applies: IDF (the only transcendental)
is rounded to 6dp at a named boundary; BM25's per-term contributions
are then carried as exact integer micro-scores so the per-doc sum is
order-independent across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_K = 5


def tfidf_topk(docs: DataFrame) -> DataFrame:
    """Top-k TF-IDF terms per document.

    idf6 = round(ln(N / df), 6) (quantized boundary); score =
    round(tf * idf6, 6) — tf integer x 6dp decimal, so the rounded
    score is exact in both engines.  Rank by (score desc, term asc),
    deterministic under ties.
    """
    tf = (
        docs.select("doc_id", F.explode("words").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    n_docs = docs.select(
        F.count("*").cast("long").alias("__nd")
    )
    idf6 = F.round(F.log(F.col("__nd") / F.col("df")), 6)
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * idf6, 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.select(
            "doc_id",
            "term",
            "tf",
            "tfidf",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= _K)
    )


_QUERY_TERMS = ["query", "stream", "dup"]
_TOP_N = 20


def bm25_scores(docs: DataFrame) -> DataFrame:
    """BM25 ranked retrieval for a fixed term query.

    idf6 = round(ln((N - df + 0.5) / (df + 0.5) + 1), 6); each
    term's contribution idf6 * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
    is rounded to 6dp and summed as integer micro-scores.  Returns
    the top_n docs by (score desc, doc_id asc) with ranks.
    avgdl/N are corpus scalars riding a broadcast; at 100 TB both
    come from the same stats pass that builds df.
    """
    k1 = 1.2
    b = 0.75
    words = F.col("words")
    base = docs.select("doc_id", words.alias("__w"), F.size(words).alias("__dl"))
    tf = (
        base.select("doc_id", "__dl", F.explode("__w").alias("term"))
        .where(F.col("term").isin(_QUERY_TERMS))
        .groupBy("doc_id", "__dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_t = (
        base.select("doc_id", F.array_distinct("__w").alias("__d"))
        .select(F.explode("__d").alias("term"))
        .where(F.col("term").isin(_QUERY_TERMS))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
    )
    stats = base.agg(
        F.count("*").cast("long").alias("__nd"),
        F.sum("__dl").cast("long").alias("__tt"),
    )
    idf6 = F.round(
        F.log(
            (F.col("__nd") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        ),
        6,
    )
    avgdl = F.col("__tt") / F.col("__nd")
    contrib = idf6 * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("__dl") / avgdl))
    )
    micro = F.round(F.round(contrib + 1e-12, 6) * 1e6, 0).cast("long")
    per_doc = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(micro).alias("__ms"))
    )
    w = Window.orderBy(F.col("__ms").desc(), F.col("doc_id"))
    return (
        per_doc.select(
            "doc_id",
            (F.col("__ms") / 1e6).alias("bm25"),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= _TOP_N)
    )
