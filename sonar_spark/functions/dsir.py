"""Data Selection via Importance Resampling (DSIR) — Xie et al.
2023, "Data Selection for Language Models via Importance Resampling"
(NeurIPS 2023).  The standard pretraining-corpus selection step:
score every raw document by how target-like it is under two hashed
n-gram bag-of-words models (one fit on a target-domain sample, one
on the raw pool), then resample the pool proportionally to the
importance weights with the Gumbel-top-k trick.

The reference engine has no corpus-selection surface at all; this
extends its curation family (quality_score / langid / ngram_lm /
sample_mix) with the published importance-resampling axis.

Everything is relational and bucket-bounded:

- features are hashed n-gram counts: every unigram and bigram is
  md5-bucket-hashed into ``n_buckets`` slots (the paper's 10k hashed
  buckets; md5 because it is byte-identical in Spark and DuckDB —
  the sample_mix precedent), so the "model" is ONE table of at most
  ``n_buckets`` rows holding target/raw counts;
- the per-bucket log-likelihood-ratio lambda[b] =
  log2(p_target[b] / p_raw[b]) (add-k smoothed) is rounded to 6dp at
  the named quantized boundary and carried as exact integer
  MICRO-BITS, so each document's importance weight — the sum of
  lambda over its gram instances — is order-independent integer
  arithmetic in both engines;
- resampling is the Gumbel-top-k trick with CONTENT-KEYED noise:
  u(d) = (md5int(doc_id) + 0.5) / 2^32, g(d) = -ln(-ln(u)) — the
  same deterministic-hash-randomness convention as sample_mix, so
  re-runs and backfills select identical documents and the DuckDB
  oracle can replay the draw exactly.

Scale shape (100 TB): the model is one groupBy over the gram stream
(bucket-bounded output, map-side partial aggregation does almost all
the work), scoring is a broadcast join of the <=n_buckets lambda
table onto a second gram-stream pass, and selection is a global
top-k (rank here for the small driver surface; orderBy+limit —
TakeOrderedAndProject — at scale).  No UDFs, no per-row Python.
"""

from __future__ import annotations

from collections import Counter
from hashlib import md5 as _md5

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import map_rows

# written as the repr float so the Spark lit() and the DuckDB VALUES
# side inject the bit-identical constant (mfcc kernel precedent)
_LN2 = "0.6931471805599453"

# hashed n-gram buckets of both bag-of-words models
_N_BUCKETS = 1024


def _md5_u32(col: Column) -> Column:
    """First 8 md5 hex chars as an integer in [0, 2^32) — the
    engine-portable hash (DuckDB: ('0x' || substring(md5(x),1,8))
    ::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _gram_bucket_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, is_target, __b, __c): per-doc hashed-gram bucket
    counts of ``words`` from ONE Arrow kernel pass — hashlib.md5 is
    bit-identical to F.md5, so int(hexdigest[:8], 16) % _N_BUCKETS
    reproduces _md5_u32(w) % _N_BUCKETS exactly (certified by
    tests/test_dsir_kernel.py against the expression stream)."""
    id_type = docs.schema["doc_id"].dataType.simpleString()

    def fn(did, tgt, ws):
        cnt: Counter = Counter()
        prev = None
        for w in ws:
            cnt[int(_md5(w.encode()).hexdigest()[:8], 16) % _N_BUCKETS] += 1
            if prev is not None:
                cnt[
                    int(_md5((prev + " " + w).encode()).hexdigest()[:8], 16)
                    % _N_BUCKETS
                ] += 1
            prev = w
        return [(did, bool(tgt), b, c) for b, c in cnt.items()]

    return map_rows(
        docs.select("doc_id", "is_target", "words"),
        fn,
        f"doc_id {id_type}, is_target boolean, __b long, __c long",
    )


# documents dsir_scores selects (by Gumbel-top-k rank)
_N_SELECT = 100


def dsir_scores(docs: DataFrame) -> DataFrame:
    """Score and Gumbel-top-k-select documents DSIR-style.

    ``docs`` must carry ``doc_id`` (string), ``words``
    (array<string>, the whitespace tokens) and ``is_target``
    (boolean — True rows are the target-domain sample the target
    model is fit on; the raw model is fit on the complement).

    Output per document: n_grams (unigram+bigram instance count),
    dsir_bits (the importance log-weight in bits, 6dp), gumbel_key
    (log-weight in nats + hash-Gumbel noise, 6dp — the resampling
    sort key), sel_rank (1 = first selected), selected
    (rank <= _N_SELECT).
    """
    k_smooth = 0.5
    # r6: the gram stream is pre-reduced to per-doc BUCKET COUNTS by
    # one Arrow kernel pass (_gram_bucket_counts) — the expression
    # form exploded every unigram+bigram instance twice (once for
    # the model, once for scoring) and ran Catalyst md5+conv on each
    # (~4 gram hashes per token per query); the kernel hashes each
    # gram once (hashlib.md5 is bit-identical to F.md5) and emits
    # (id, target, bucket, c), so BOTH the model and the scoring
    # aggregate below consume the same persisted ~doc x distinct-
    # bucket table.  Certified equal to the expression stream by
    # tests/test_dsir_kernel.py.
    gd = _gram_bucket_counts(docs).persist()

    # hashed bag-of-words models: ONE bucket-bounded count table
    # (<= n_buckets rows after the map-side-combined groupBy).
    tgt = F.col("is_target")
    model = gd.groupBy("__b").agg(
        F.sum(F.when(tgt, F.col("__c")).otherwise(0)).cast("long").alias(
            "__ct"
        ),
        F.sum(F.when(tgt, 0).otherwise(F.col("__c"))).cast("long").alias(
            "__cr"
        ),
    )
    totals = model.agg(
        F.sum("__ct").cast("long").alias("__nt"),
        F.sum("__cr").cast("long").alias("__nr"),
    )
    k = F.lit(float(k_smooth))
    bmod = F.lit(float(k_smooth) * _N_BUCKETS)
    lam_bits = F.round(
        F.log2(
            ((F.col("__ct") + k) / (F.col("__nt") + bmod))
            / ((F.col("__cr") + k) / (F.col("__nr") + bmod))
        ),
        6,
    )
    lam = model.crossJoin(F.broadcast(totals)).select(
        "__b",
        F.round(lam_bits * 1e6, 0).cast("long").alias("__lam"),
    )

    # score: broadcast the lambda table onto the SAME persisted
    # bucket-count table (count-weighted — exact integer arithmetic,
    # sum(c * lam) == the per-instance sum) — every observed bucket
    # is in the model by construction, so the join is inner and
    # loses nothing
    per_doc = (
        gd.join(F.broadcast(lam), "__b")
        .groupBy("doc_id")
        .agg(
            F.sum("__c").cast("long").alias("n_grams"),
            F.sum(F.col("__c") * F.col("__lam")).alias("__ms"),
        )
    )

    # Gumbel-top-k resampling with content-keyed noise (sample_mix
    # determinism convention): u in (0,1) from the md5 integer of
    # the doc id, g = -ln(-ln(u)), key = ln-importance + g
    h = _md5_u32(F.col("doc_id").cast("string"))
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    g6 = F.round(-F.log(-F.log(u)), 6)
    bits = F.round(F.col("__ms") / 1e6, 6)
    key = F.round(
        F.round(bits * F.lit(float(_LN2)), 6) + g6, 6
    )
    scored = per_doc.select(
        "doc_id",
        "n_grams",
        bits.alias("dsir_bits"),
        key.alias("gumbel_key"),
    )
    # global rank — fine at driver scale; at 100 TB `selected` is an
    # orderBy(key desc).limit(_N_SELECT) (TakeOrderedAndProject) and
    # the rank column is dropped
    w = Window.orderBy(F.col("gumbel_key").desc(), F.col("doc_id"))
    return scored.select(
        "doc_id",
        "n_grams",
        "dsir_bits",
        "gumbel_key",
        F.row_number().over(w).cast("long").alias("sel_rank"),
    ).withColumn(
        "selected", (F.col("sel_rank") <= F.lit(_N_SELECT)).cast("long")
    )
