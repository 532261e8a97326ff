"""Statistical language-model scoring for corpus curation — the
CCNet-style perplexity filter (Wenzek et al. 2020, "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data"): train a
count-based bigram LM over the corpus and score every document by its
bits-per-token under that model, then bucket the corpus into
head/middle/tail perplexity terciles.  Pretraining pipelines
(CCNet, Llama, RedPajama) keep head+middle and drop or down-weight
the tail; the reference engine has no LM scorer, so this extends its
curation family (quality_score / langid / repetition_profile) with
the standard third axis.

Everything is relational: the "model" is two count tables (unigram,
bigram) produced by one explode + groupBy each; both are tiny
(vocab-bounded: V unigrams, <= V^2 bigrams) and broadcast back onto
a single corpus scan for scoring.  No UDFs anywhere.

Cross-engine float convention (see BENCH/BASELINE.md "quantized
interface"): each per-token log2-probability is rounded to 6dp at a
named boundary and carried as exact integer MICRO-BITS (lp6 * 1e6 as
BIGINT), so the per-document sum is order-independent integer
arithmetic; only the final per-doc division returns to floats (with
the +1e-12 structural-tie nudge both engines apply).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ngram_lm_scores(docs: DataFrame) -> DataFrame:
    """Score each document with a corpus-trained add-k bigram LM.

    p(w | prev) = (c(prev, w) + k) / (c(prev) + k * V); the first
    token of each doc is scored by the unigram model
    p(w) = (c(w) + k) / (N + k * V).  Per doc:

    - lm_bits: mean negative log2 probability per token (bits/token),
    - lm_ppl: 2 ** lm_bits,
    - lm_bucket: perplexity tercile 1..3 (1 = head / most fluent)
      via ntile over (lm_bits, doc_id) — at 100 TB the tercile cutoffs
      would come from approx_percentile instead of a global sort; the
      scoring itself stays one scan + broadcast joins at any scale.
    """
    k_smooth = 0.5
    words = F.col("words")
    # zip each token with its predecessor BEFORE exploding, so the
    # generated rows carry (w, prev) only — carrying the whole array
    # through the explode for an element_at lookup amplifies the
    # exploded size by the mean doc length
    toks = (
        docs.select(
            "doc_id",
            words.alias("__wa"),
            F.concat(
                F.array(F.lit(None).cast("string")),
                F.slice(words, 1, F.size(words) - 1),
            ).alias("__pa"),
        )
        .select(
            "doc_id",
            F.size("__wa").alias("__n"),
            F.explode(F.arrays_zip("__wa", "__pa")).alias("__z"),
        )
        .select(
            "doc_id",
            "__n",
            F.col("__z.__wa").alias("__w"),
            F.col("__z.__pa").alias("__prev"),
        )
    )

    # the model tables are vocab-bounded (V rows / <= V^2 rows) but
    # have 3 consumers each on the plan — persist them so training
    # costs ONE corpus scan per table instead of one per consumer
    # (at 100 TB these are the tables a FeaturizeJob would land).
    uni = toks.groupBy("__w").agg(
        F.count("*").cast("long").alias("__cw")
    ).persist()
    totals = uni.agg(
        F.sum("__cw").cast("long").alias("__tn"),
        F.count("*").cast("long").alias("__tv"),
    )
    bigr = (
        toks.where(F.col("__prev").isNotNull())
        .groupBy("__prev", "__w")
        .agg(F.count("*").cast("long").alias("__c12"))
    )

    k = F.lit(float(k_smooth))
    scored = (
        toks.crossJoin(F.broadcast(totals))
        .join(
            F.broadcast(uni.select(F.col("__w").alias("__prev"),
                                   F.col("__cw").alias("__c1"))),
            "__prev",
            "left",
        )
        .join(F.broadcast(bigr), ["__prev", "__w"], "left")
        .join(F.broadcast(uni), "__w")
    )
    p = F.when(
        F.col("__prev").isNull(),
        (F.col("__cw") + k) / (F.col("__tn") + k * F.col("__tv")),
    ).otherwise(
        (F.coalesce("__c12", F.lit(0)) + k)
        / (F.col("__c1") + k * F.col("__tv"))
    )
    # quantized interface: 6dp log2 -> exact integer micro-bits
    micro = F.round(F.round(F.log2(p), 6) * 1e6, 0).cast("long")
    per_doc = scored.groupBy("doc_id").agg(
        F.max("__n").cast("long").alias("n_tokens"),
        F.sum(micro).alias("__ms"),
    )
    bits = F.round(
        -F.col("__ms") / 1e6 / F.col("n_tokens") + 1e-12, 6
    )
    out = per_doc.select(
        "doc_id",
        "n_tokens",
        bits.alias("lm_bits"),
        F.round(F.pow(F.lit(2.0), bits), 6).alias("lm_ppl"),
    )
    w = Window.orderBy("lm_bits", "doc_id")
    return out.select(
        "doc_id",
        "n_tokens",
        "lm_bits",
        "lm_ppl",
        F.ntile(3).over(w).cast("long").alias("lm_bucket"),
    )
