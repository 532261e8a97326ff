"""Corpus-level token analytics — PMI collocation extraction (Church
& Hanks 1990) and per-source vocabulary statistics with a Zipf
rank-frequency fit.  Standard corpus-characterization steps a
training-data pipeline runs before mixing/selection (collocations
feed phrase-aware tokenizers and boilerplate lists; Zipf slope /
type-token ratio are the cheap corpus-health signals next to the
Gopher repetition filters in functions/text.py).

The reference engine has no corpus-statistics surface; these extend
its text family (quality_score / repetition_profile / ngram_lm) with
the published corpus-analytics axis.

Scale shape: every output here is VOCAB-BOUNDED (unigram, bigram and
per-source term tables), so the heavy lifting is map-side partial
aggregation over the corpus scan; the joins that follow are
broadcasts of tiny count tables.  No UDFs, no per-row Python.

Cross-engine determinism: the only transcendental (ln) is rounded to
6dp at a named quantized boundary; Zipf OLS sums are carried as
exact integer micro-units so the per-group sums are
order-independent; ranks tie-break lexicographically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# repr float shared with the DuckDB oracle (mfcc kernel precedent)
_LN2 = "0.6931471805599453"


_MIN_COUNT = 5
_TOP_N = 50


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Top-n adjacent-bigram collocations by pointwise mutual
    information.

    PMI(x,y) = log2( p(x,y) / (p(x) p(y)) ) with p(x,y) over the
    bigram-instance total and p(x), p(y) over the token total:
    pmi = ln((cxy * nt * nt) / (nb * cx * cy)) / ln 2, computed with
    the identical left-associative double expression in both engines,
    quantized: nats rounded to 6dp, then divided by the repr-float
    ln 2 and rounded again.  Rank by (pmi desc, w1, w2).

    Two corpus scans (unigram + bigram count tables — both
    vocab-bounded, map-side combined); the scoring join broadcasts
    the unigram table twice.  min_count keeps the rare-pair noise
    floor out, as in Church & Hanks.
    """
    words = F.col("words")
    grams = docs.select(
        F.explode(
            F.zip_with(
                F.slice(words, 1, F.size(words) - 1),
                F.slice(words, 2, F.size(words) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g")
    ).select("g.w1", "g.w2")
    # both count tables are vocab-bounded and feed multiple consumers
    # (uni -> cx/cy/tot, big -> nb/scoring) — persist them so the
    # corpus is scanned twice total, not once per consumer (the dsir
    # model-table precedent)
    big = (
        grams.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("cxy"))
        .persist()
    )
    uni = (
        docs.select(F.explode(words).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()
    )
    tot = uni.agg(F.sum("c").cast("long").alias("__nt"))
    nbt = big.agg(F.sum("cxy").cast("long").alias("__nb"))
    cx = uni.select(F.col("t").alias("w1"), F.col("c").alias("cx"))
    cy = uni.select(F.col("t").alias("w2"), F.col("c").alias("cy"))
    nat6 = F.round(
        F.log(
            (F.col("cxy") * 1.0 * F.col("__nt") * F.col("__nt"))
            / (F.col("__nb") * 1.0 * F.col("cx") * F.col("cy"))
        ),
        6,
    )
    scored = (
        big.where(F.col("cxy") >= _MIN_COUNT)
        .join(F.broadcast(cx), "w1")
        .join(F.broadcast(cy), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nbt))
        .select(
            "w1",
            "w2",
            "cxy",
            F.round(nat6 / F.lit(float(_LN2)), 6).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("w1"), F.col("w2"))
    return scored.select(
        "w1",
        "w2",
        "cxy",
        "pmi",
        F.row_number().over(w).cast("long").alias("rank"),
    ).where(F.col("rank") <= _TOP_N)


def vocab_stats(docs: DataFrame) -> DataFrame:
    """Per-group vocabulary statistics + Zipf rank-frequency fit.

    Returns one row per group: tokens_total, vocab_size, hapax_count
    (corpus-frequency-1 terms), ttr = round(vocab/tokens, 6), and
    zipf_slope — the OLS slope of y=ln(freq) on x=ln(rank) over the
    top ``zipf_top`` ranks (ranks tie-break on the term).  Both logs
    are quantized to 6dp and carried as integer micro-units, so the
    OLS sums are exact and order-free:
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) over BIGINT sums, with
    one double division at the end.  ``zipf_top`` both matches
    standard practice (fit the head, not the noisy tail) and bounds
    the micro-unit sums well inside int64 (x,y <= ~2e7 micro =>
    n*Sxy <= ~4e17 at n=1000).

    One corpus scan -> per-(group,term) counts (vocab-bounded) ->
    one exchange on the group for the rank window -> one final
    per-group aggregate carrying every statistic.
    """
    zipf_top = 1000
    counts = (
        docs.select("source", F.explode("words").alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("t")
    )
    ranked = counts.select(
        "source",
        "c",
        F.row_number().over(w).cast("long").alias("r"),
    )
    in_fit = F.col("r") <= zipf_top
    x = F.when(
        in_fit, F.round(F.round(F.log("r"), 6) * 1e6, 0).cast("long")
    )
    y = F.when(
        in_fit, F.round(F.round(F.log("c"), 6) * 1e6, 0).cast("long")
    )
    agg = ranked.groupBy("source").agg(
        F.sum("c").cast("long").alias("tokens_total"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("hapax_count"),
        F.sum(F.when(in_fit, 1).otherwise(0)).cast("long").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    den = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    return agg.select(
        "source",
        "tokens_total",
        "vocab_size",
        "hapax_count",
        F.round(F.col("vocab_size") / F.col("tokens_total"), 6).alias(
            "ttr"
        ),
        # a single-rank fit (or all-equal ranks) has zero variance;
        # emit 0.0 rather than null/NaN so the value rides the hash
        F.when(den == 0, F.lit(0.0))
        .otherwise(F.round(num / den, 6))
        .alias("zipf_slope"),
    )


_TEMPERATURE = 0.3
_BUDGET = 1_000_000


def temperature_mix(docs: DataFrame) -> DataFrame:
    """Temperature-scaled mixture weights over corpus groups — the
    data-mixing allocation step (Llama / PaLM style): a group with
    token share p gets sampling weight proportional to p^T, T < 1
    flattening the mix toward rare groups.  Complements sample_mix
    (which APPLIES fixed per-group fractions) by COMPUTING the
    fractions from the corpus itself.

    Per group: tokens, share = round(tokens/total, 6), weight =
    micro_g / sum(micro) where micro_g is the 6dp-quantized
    p^T = exp(T * round(ln(tokens/total), 6)) carried as integer
    micro-units (the order-free sum convention), alloc_tokens =
    budget*micro_g // sum(micro) (exact integer arithmetic), and
    epochs = round(alloc_tokens/tokens, 6) — the effective pass
    count over each group the allocation implies (the oversampling
    telltale mixing recipes watch).

    One corpus scan -> group-bounded count table (persisted: it
    feeds the totals and the weight table); everything after is
    arithmetic over ~|groups| rows.
    """
    per = (
        docs.select("source", F.size("words").alias("__n"))
        .groupBy("source")
        .agg(F.sum("__n").cast("long").alias("tokens"))
        .persist()
    )
    tot = per.agg(F.sum("tokens").cast("long").alias("__tt"))
    share = F.col("tokens") / F.col("__tt")
    micro = (
        F.round(
            F.round(
                F.exp(
                    F.lit(_TEMPERATURE) * F.round(F.log(share), 6)
                ),
                6,
            )
            * 1e6,
            0,
        )
        .cast("long")
        .alias("__m")
    )
    weighted = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "tokens",
        F.round(share, 6).alias("share"),
        micro,
    )
    sm = weighted.agg(F.sum("__m").cast("long").alias("__sm"))
    alloc = (F.lit(_BUDGET) * F.col("__m")) - (
        (F.lit(_BUDGET) * F.col("__m")) % F.col("__sm")
    )
    return weighted.crossJoin(F.broadcast(sm)).select(
        "source",
        "tokens",
        "share",
        F.round(F.col("__m") / F.col("__sm"), 6).alias("weight"),
        (alloc / F.col("__sm")).cast("long").alias("alloc_tokens"),
        F.round(
            ((alloc / F.col("__sm")).cast("long") / F.col("tokens")),
            6,
        ).alias("epochs"),
    )


def source_divergence(docs: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (bits) between per-group
    unigram distributions — the corpus drift / domain-shift monitor a
    mixing pipeline watches (and the distance mix_weights-style
    reweighting reacts to).

    JS(p,q) = 0.5*KL(p||m) + 0.5*KL(q||m), m=(p+q)/2, decomposed so
    no group-pair x vocab table ever materializes:

    - COMMON terms ride one vocab-bounded self-join on the term key:
      per-term nats contributions p*ln(2p/(p+q)) and q*ln(2q/(p+q))
      are rounded to 9dp and summed as integer micro-units
      (order-free);
    - EXCLUSIVE mass needs no term rows at all: a term with q=0
      contributes p*ln2 nats, so the whole exclusive side collapses
      to (T1 - C1)/T1 * ln2 with T1/C1 exact BIGINT token counts.

    Output per unordered pair: src_a < src_b, n_common terms, js
    (6dp).  Scale shape: the self-join is on the vocab-bounded count
    table (each term fans out to |groups-with-term|^2 pairs — bounded
    by groups^2, never corpus size); totals ride a broadcast.
    """
    ln2 = float(_LN2)
    counts = (
        docs.select("source", F.explode("words").alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").cast("long").alias("tt")
    )
    a = counts.select(
        F.col("source").alias("src_a"),
        "t",
        F.col("c").alias("ca"),
    )
    b = counts.select(
        F.col("source").alias("src_b"),
        "t",
        F.col("c").alias("cb"),
    )
    ta = totals.select(
        F.col("source").alias("src_a"), F.col("tt").alias("tta")
    )
    tb = totals.select(
        F.col("source").alias("src_b"), F.col("tt").alias("ttb")
    )
    p = F.col("ca") / F.col("tta")
    q = F.col("cb") / F.col("ttb")
    mp = F.round(
        F.round(p * F.log((p + p) / (p + q)), 9) * 1e9, 0
    ).cast("long")
    mq = F.round(
        F.round(q * F.log((q + q) / (p + q)), 9) * 1e9, 0
    ).cast("long")
    pair_terms = (
        a.join(b, "t")
        .where(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
    )
    agg = pair_terms.groupBy("src_a", "src_b").agg(
        F.count("*").cast("long").alias("n_common"),
        F.sum(mp).alias("__smp"),
        F.sum(mq).alias("__smq"),
        F.sum("ca").cast("long").alias("__c1"),
        F.sum("cb").cast("long").alias("__c2"),
        F.min("tta").alias("__t1"),
        F.min("ttb").alias("__t2"),
    )
    excl_p = (F.col("__t1") - F.col("__c1")) / F.col("__t1")
    excl_q = (F.col("__t2") - F.col("__c2")) / F.col("__t2")
    mep = F.round(F.round(excl_p * ln2, 9) * 1e9, 0).cast("long")
    meq = F.round(F.round(excl_q * ln2, 9) * 1e9, 0).cast("long")
    half_nats = F.col("__smp") + F.col("__smq") + mep + meq
    scored = agg.select(
        "src_a",
        "src_b",
        "n_common",
        F.round(half_nats / 1e9 * 0.5 / ln2, 6).alias("js"),
    )
    # a pair with NO common terms never survives the inner join, but
    # it is the maximal-drift signal (JS = 1 bit) a monitor must not
    # drop — complete the pair frame from the (tiny) group list
    srcs = totals.select("source")
    allp = (
        srcs.select(F.col("source").alias("src_a"))
        .crossJoin(srcs.select(F.col("source").alias("src_b")))
        .where(F.col("src_a") < F.col("src_b"))
    )
    return allp.join(scored, ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.coalesce("n_common", F.lit(0)).cast("long").alias(
            "n_common"
        ),
        F.coalesce("js", F.lit(1.0)).alias("js"),
    )
