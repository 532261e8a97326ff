"""Deterministic, cross-engine-replayable sketches — HyperLogLog
distinct counting (Flajolet et al. 2007) and Count-Min heavy-hitter
estimation (Cormode & Muthukrishnan 2005).  The cardinality /
frequency summaries a 100 TB token pipeline keeps per shard and
merges, where exact distinct counts would mean a corpus-wide shuffle.

Spark ships approx_count_distinct (HLL++), but its register layout is
an implementation detail no other engine reproduces — useless under
this repo's value-oracle contract.  These sketches instead derive
every hash from md5 (byte-identical in Spark and DuckDB, the
sample_mix / dsir convention), so the ORACLE REPLAYS THE SKETCH
EXACTLY: register values, bucket counts, estimates — not just the
final numbers.

Determinism notes:

- md5-prefix 60-bit hashes stay positive in signed int64;
- HLL register sums Σ 2^-M_j are sums of dyadic rationals with
  denominator <= 2^RHO_CAP and total < 2^8, every partial sum exactly
  representable in a double => the float sum is ORDER-INDEPENDENT
  (no micro-unit dance needed);
- rho (first-set-bit position) is floor(log2(w & -w)) + 1 — log2 of
  an exact power of two, exact in both engines;
- the only inexact ops (alpha*m^2/S, ln corrections) happen once per
  group on identical doubles, rounded at the 6dp boundary.

Merge story (the reason sketches exist): HLL registers merge by MAX,
CMS buckets by SUM — both expressible as the same groupBy over shard
sketches, so per-shard sketch tables compose upward without touching
raw data again.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_M = 256  # registers (2^8)
RHO_CAP = 40  # first-set-bit cap: keeps 2^-rho well inside exactness
CMS_D = 4  # hash rows
CMS_W = 64  # buckets per row


def md5_60(col: Column) -> Column:
    """First 15 md5 hex chars as a positive 60-bit BIGINT (DuckDB:
    ('0x' || substring(md5(x),1,15))::BIGINT) — THE shared integer
    hash; every consumer must stay in lockstep with that oracle
    expression (width 15, offset 1)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# backward-compat alias for the module's own call sites
_md5_60 = md5_60


def hll_distinct(docs: DataFrame) -> DataFrame:
    """Per-group HLL distinct-token estimate next to the exact count.

    h = md5_60(term); register j = h % m; w = h // m; rho = position
    of w's lowest set bit (capped); M_j = max rho per register.  The
    raw estimate alpha_m * m^2 / sum(2^-M_j) (absent registers
    contribute 2^0 = 1) gets the standard small-range correction
    E <= 2.5m & V > 0 -> m * ln(m/V).  Output: group, exact distinct,
    hll_estimate (6dp), rel_err (6dp).

    One distinct-(group,term) pass -> register table (<= m rows per
    group) -> one tiny per-group aggregate; the exact count rides the
    same distinct pass.  At scale the register table IS the sketch a
    shard publishes; merging shards = the same max-groupBy.
    """
    m = HLL_M
    terms = docs.select(
        "source", F.explode("words").alias("t")
    ).distinct()
    h = _md5_60(F.col("t"))
    # pure INTEGER register math: j = low 8 bits, w = the rest
    # (h / m in doubles would lose bits past 2^53)
    base = terms.select(
        "source",
        h.bitwiseAND(F.lit(m - 1)).alias("__j"),
        F.shiftright(h, 8).alias("__w"),
    )
    # rho = lowest-set-bit position via an exact literal chain (log2
    # computed as a float ratio can land at k-epsilon and truncate)
    lowbit = F.col("__w").bitwiseAND(-F.col("__w"))
    rho = F.when(F.col("__w") == 0, F.lit(RHO_CAP))
    for p in range(RHO_CAP - 1):
        rho = rho.when(lowbit == (1 << p), F.lit(p + 1))
    rho = rho.otherwise(F.lit(RHO_CAP))
    regs = base.select("source", "__j", rho.alias("__rho")).groupBy(
        "source", "__j"
    ).agg(F.max("__rho").alias("__mj"))
    # exact distincts ride the same distinct pass
    exact = terms.groupBy("source").agg(
        F.count("*").cast("long").alias("exact_distinct")
    )
    # 2^-M_j as exact literals (no pow): every value and every
    # partial sum is an exact dyadic rational -> order-free float sum
    inv = F.when(F.col("__mj") >= RHO_CAP, F.lit(2.0 ** -RHO_CAP))
    for p in range(1, RHO_CAP):
        inv = inv.when(F.col("__mj") == p, F.lit(2.0 ** -p))
    inv = inv.otherwise(F.lit(1.0))
    per = regs.groupBy("source").agg(
        F.sum(inv).alias("__s_used"),
        F.count("*").cast("long").alias("__used"),
    )
    # absent registers: 2^0 = 1 each; V = zero-register count
    alpha_m2 = (0.7213 / (1.0 + 1.079 / m)) * m * m
    s = F.col("__s_used") + (F.lit(m) - F.col("__used"))
    v = F.lit(m) - F.col("__used")
    e_raw = F.lit(alpha_m2) / s
    est = F.when(
        (e_raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return (
        per.join(exact, "source")
        .select(
            "source",
            "exact_distinct",
            F.round(est, 6).alias("hll_estimate"),
            F.round(
                (F.round(est, 6) - F.col("exact_distinct"))
                / F.col("exact_distinct"),
                6,
            ).alias("rel_err"),
        )
    )


_TOP_N = 10


def cms_heavy_hitters(docs: DataFrame) -> DataFrame:
    """Count-Min heavy hitters: estimate term frequencies from a
    d x w bucket sketch and report the top-n exact terms with their
    CMS estimates.

    Row-i hash: md5_60(term || '#i') % w.  ONE token scan builds the
    vocab-bounded term-count table (map-side combined); the d hashes
    and the (i, bucket) sketch (<= d*w rows — THE sketch; shards
    merge by summing it) derive from that table, never from the raw
    stream again.  estimate(t) = min_i bucket[i][h_i(t)], always >=
    the true count (the CMS guarantee, asserted in the output as
    over_frac >= 0).

    Output: term, exact count, cms_estimate, over_frac (6dp), rank.
    """
    toks = docs.select(F.explode("words").alias("t"))
    # ONE term-level count pass; the d salted md5 hashes are computed
    # on the vocab-bounded count table, not per token (a 4-way union
    # over the token stream re-derived the corpus scan + md5 4x)
    exact = (
        toks.groupBy("t")
        .agg(F.count("*").cast("long").alias("exact"))
        .select(
            "t",
            "exact",
            *[
                (
                    _md5_60(F.concat(F.col("t"), F.lit(f"#{i}")))
                    % CMS_W
                ).alias(f"__b{i}")
                for i in range(CMS_D)
            ],
        )
        .persist()
    )
    stream = exact.select(
        "exact",
        F.posexplode(
            F.array(*[F.col(f"__b{i}") for i in range(CMS_D)])
        ).alias("__i", "__b"),
    )
    sketch = stream.groupBy("__i", "__b").agg(
        F.sum("exact").cast("long").alias("__c")
    )
    est = exact
    for i in range(CMS_D):
        est = est.join(
            F.broadcast(
                sketch.where(F.col("__i") == i).select(
                    F.col("__b").alias(f"__b{i}"),
                    F.col("__c").alias(f"__c{i}"),
                )
            ),
            f"__b{i}",
        )
    cms = F.least(*[F.col(f"__c{i}") for i in range(CMS_D)])
    from pyspark.sql import Window

    wnd = Window.orderBy(F.col("exact").desc(), F.col("t"))
    return (
        est.select(
            "t",
            "exact",
            cms.alias("cms_estimate"),
            F.round(
                (cms - F.col("exact")) / F.col("exact"), 6
            ).alias("over_frac"),
        )
        .select(
            "*",
            F.row_number().over(wnd).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= _TOP_N)
    )


BLOOM_M = 4096  # bits
BLOOM_K = 3  # hashes


def bloom_decontaminate(
    train_shingles: DataFrame,
    eval_shingles: DataFrame,
) -> DataFrame:
    """Bloom-filter membership screen for benchmark decontamination —
    the SCALE PATH for the exact-join decontaminate operator: the
    eval side collapses to a <= BLOOM_M-row bit table that broadcasts
    everywhere, so the corpus side never joins eval shingles at all.
    (Spark's own BloomFilter aggregate is value-opaque across
    engines; this one is md5-derived and fully replayable.)

    Bit i of shingle s: md5_60(s || '#b<i>') % BLOOM_M.  A train
    shingle is bloom-POSITIVE iff all BLOOM_K of its bits are set
    (count of matched exploded bit rows == BLOOM_K — duplicate bits
    within one shingle's BLOOM_K hashes match-or-miss together, so
    the plain count is exact).  The
    exact join runs alongside to measure the false-positive rate —
    and to certify the zero-false-negative guarantee (n_maybe >=
    n_true per doc, by construction).

    Output per train doc: n_shingles, n_maybe, n_true, n_false_pos,
    contaminated_bloom, contaminated_exact, fp_frac (6dp).
    """
    sh = F.col("sh")

    def bit(i: int, col: Column) -> Column:
        return (
            _md5_60(F.concat(col, F.lit(f"#b{i}"))) % BLOOM_M
        )

    ev_d = eval_shingles.select(sh.alias("__es")).distinct()
    bits = (
        ev_d.select(
            F.explode(
                F.array(*[bit(i, F.col("__es")) for i in range(BLOOM_K)])
            ).alias("__bit")
        )
        .distinct()
    )
    # the distinct train-shingle table feeds FOUR consumers (bit
    # stream, exact join, and both sides of the per-shingle frame) —
    # persist it so the corpus explode+distinct runs once
    tr = train_shingles.select("doc_id", sh).distinct().persist()
    lng = tr.select(
        "doc_id",
        sh,
        F.explode(
            F.array(*[bit(i, sh) for i in range(BLOOM_K)])
        ).alias("__bit"),
    )
    maybe = (
        lng.join(F.broadcast(bits), "__bit")
        .groupBy("doc_id", "sh")
        .agg((F.count("*") == BLOOM_K).cast("long").alias("__maybe"))
        .where(F.col("__maybe") == 1)
        .select("doc_id", "sh", "__maybe")
    )
    true_hit = (
        tr.join(
            F.broadcast(ev_d.select(F.col("__es").alias("sh"))),
            "sh",
        )
        .select("doc_id", "sh", F.lit(1).alias("__true"))
    )
    per_sh = (
        tr.join(maybe, ["doc_id", "sh"], "left")
        .join(true_hit, ["doc_id", "sh"], "left")
        .select(
            "doc_id",
            F.coalesce("__maybe", F.lit(0)).alias("__maybe"),
            F.coalesce("__true", F.lit(0)).alias("__true"),
        )
    )
    return per_sh.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum("__maybe").cast("long").alias("n_maybe"),
        F.sum("__true").cast("long").alias("n_true"),
        (F.sum("__maybe") - F.sum("__true"))
        .cast("long")
        .alias("n_false_pos"),
        (F.sum("__maybe") > 0).alias("contaminated_bloom"),
        (F.sum("__true") > 0).alias("contaminated_exact"),
        F.round(
            (F.sum("__maybe") - F.sum("__true")) / F.count("*"), 6
        ).alias("fp_frac"),
    )


def hll_merge_check(docs: DataFrame) -> DataFrame:
    """The HLL merge law as a checkable result: treat each group as a
    SHARD, publish its register table, max-merge the shards, and
    compare the merged estimate against the sketch computed directly
    over the whole corpus.  They must be IDENTICAL — max over shard
    maxima equals the corpus maximum per register — which is the
    whole reason a 100 TB pipeline can keep per-shard sketches and
    never rescan.  Output: one row with both estimates, the exact
    corpus distinct count, and registers_equal.
    """
    m = HLL_M

    def registers(df: DataFrame, keys: list) -> DataFrame:
        h = _md5_60(F.col("t"))
        base = df.select(
            *keys,
            h.bitwiseAND(F.lit(m - 1)).alias("__j"),
            F.shiftright(h, 8).alias("__w"),
        )
        lowbit = F.col("__w").bitwiseAND(-F.col("__w"))
        rho = F.when(F.col("__w") == 0, F.lit(RHO_CAP))
        for p in range(RHO_CAP - 1):
            rho = rho.when(lowbit == (1 << p), F.lit(p + 1))
        rho = rho.otherwise(F.lit(RHO_CAP))
        return base.select(*keys, "__j", rho.alias("__rho")).groupBy(
            *keys, "__j"
        ).agg(F.max("__rho").alias("__mj"))

    def estimate(regs: DataFrame) -> DataFrame:
        inv = F.when(
            F.col("__mj") >= RHO_CAP, F.lit(2.0 ** -RHO_CAP)
        )
        for p in range(1, RHO_CAP):
            inv = inv.when(F.col("__mj") == p, F.lit(2.0 ** -p))
        inv = inv.otherwise(F.lit(1.0))
        per = regs.agg(
            F.sum(inv).alias("__s_used"),
            F.count("*").cast("long").alias("__used"),
        )
        alpha_m2 = (0.7213 / (1.0 + 1.079 / m)) * m * m
        s = F.col("__s_used") + (F.lit(m) - F.col("__used"))
        v = F.lit(m) - F.col("__used")
        e_raw = F.lit(alpha_m2) / s
        return per.select(
            F.round(
                F.when(
                    (e_raw <= 2.5 * m) & (v > 0),
                    F.lit(float(m)) * F.log(F.lit(float(m)) / v),
                ).otherwise(e_raw),
                6,
            ).alias("est")
        )

    # shard-distinct terms (a term may recur across shards — exactly
    # the situation merge must handle)
    shard_terms = docs.select(
        "source", F.explode("words").alias("t")
    ).distinct()
    shard_regs = registers(shard_terms, ["source"])
    merged_regs = shard_regs.groupBy("__j").agg(
        F.max("__mj").alias("__mj")
    )
    corpus_terms = docs.select(
        F.explode("words").alias("t")
    ).distinct()
    corpus_regs = registers(corpus_terms, [])
    est_merged = estimate(merged_regs).select(
        F.col("est").alias("merged_estimate")
    )
    est_direct = estimate(corpus_regs).select(
        F.col("est").alias("direct_estimate")
    )
    exact = corpus_terms.agg(
        F.count("*").cast("long").alias("exact_distinct")
    )
    regs_diff = (
        merged_regs.withColumnRenamed("__mj", "__ma")
        .join(corpus_regs.withColumnRenamed("__mj", "__mb"), "__j", "full")
        .where(
            F.coalesce("__ma", F.lit(-1))
            != F.coalesce("__mb", F.lit(-1))
        )
        .agg(F.count("*").cast("long").alias("__nd"))
    )
    return (
        est_merged.crossJoin(est_direct)
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(regs_diff))
        .select(
            "merged_estimate",
            "direct_estimate",
            "exact_distinct",
            (F.col("__nd") == 0).alias("registers_equal"),
        )
    )
