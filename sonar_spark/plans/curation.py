"""CurationJob — the materialized, resumable curation pipeline: the
token-axis twin of plans.pipeline.FeaturizeJob.  Turns the per-query
curation composites (langid / quality / near-dup grouping / keep-drop
policy) into the operational job shape a 100 TB corpus actually runs:

- **Phase 1 (corpus-global, write-once):** the near-dup LABEL table
  under <out>/labels, built by the shared near-dup chain
  operators.fingerprint.near_dup_labels (MinHash -> banded LSH ->
  exact shingle-Jaccard verify -> connected components — the chain
  the dedup queries and the feature store's dup_labels run too).
  Dedup is inherently corpus-global — a duplicate pair can span any
  two buckets — so it cannot ride the per-bucket resume loop; it
  lands once and every later run (and every resume) reuses it.  At
  scale this is the one shuffle-heavy stage: one band-key exchange +
  candidate-bounded verify joins + connected components over the
  verified pairs — one checkpointed symmetrized edge table, labelled
  on the driver after one bounded collect while it is small, else in
  O(log d) distributed pointer-jumping rounds of one join, one
  aggregation and one self-join each.

- **Phase 2 (per-bucket, markers under _lineage):** the per-document
  DECISION table (doc_id, lang, quality, n_tokens, component,
  is_canonical, keep) from CurationPolicy.decide (the verdict the
  curation_filter query computes too) — scoring as pure Catalyst
  expressions riding the corpus scan, plus ONE join of the phase-1
  label table.

- **Phase 3 (per-bucket, markers under _lineage_chunks):** the
  training-ready CHUNK table — the sliding window/stride chunker over
  every kept document (operators.packing.chunk_documents), eligible
  per bucket as soon as that bucket's decision marker exists.  This
  is the stage that turns a curation verdict into model-consumable
  rows.

Every phase commits through the one protocol in plans.pipeline:
phase 1 through ``commit_table``, phases 2 and 3 through
``run_buckets`` (one corpus scan for all pending buckets, one
write-once lineage marker per bucket).

The kept corpus is a pushdown filter over the decision table
(keep = true), so no second copy of the text is written.

doc_id is carried as STRING throughout (the token-table convention —
planted-dup corpora use suffixed string ids); canonical = the
lexicographically smallest member of a duplicate component, which is
deterministic, the only property the policy needs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sonar_spark.config import MinHashConfig
from sonar_spark.functions.text import (
    detect_language,
    n_tokens,
    ngrams_ws,
    quality_score,
    to_token_table,
    tokenize_ws,
)
from sonar_spark.operators.fingerprint import near_dup_labels
from sonar_spark.plans.pipeline import (
    BucketResult,
    LineageLog,
    bucket_of,
    commit_table,
    run_buckets,
)


@dataclass
class CurationPolicy:
    """Plan-time keep/drop policy terms (every term is a column)."""

    min_quality: float = 0.5
    min_tokens: int = 5
    jaccard: float = 0.8

    def decide(self, docs: DataFrame, labels: DataFrame) -> DataFrame:
        """The per-document verdict: (doc_id string, text, *carry)
        docs + (doc_id, component) near-dup labels -> (doc_id, lang,
        quality, n_tokens, component, is_canonical, keep, *carry).
        Scoring is pure Catalyst expressions over the text, plus ONE
        left join of the labels; an unlabeled doc is its own
        component.  keep = canonical AND quality >= min_quality AND
        n_tokens >= min_tokens.  Every docs column other than doc_id
        and text rides through unchanged."""
        carry = [c for c in docs.columns if c not in ("doc_id", "text")]
        scored = docs.select(
            "doc_id",
            *carry,
            detect_language(F.col("text")).alias("lang"),
            F.round(quality_score(F.col("text")), 6).alias("quality"),
            n_tokens(F.col("text")).cast("long").alias("n_tokens"),
        )
        out = scored.join(labels, "doc_id", "left").select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens",
            F.coalesce("component", F.col("doc_id")).alias("component"),
            *carry,
        )
        is_canon = F.col("doc_id") == F.col("component")
        keep = (
            is_canon
            & (F.col("quality") >= self.min_quality)
            & (F.col("n_tokens") >= self.min_tokens)
        )
        return out.select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens",
            "component",
            is_canon.alias("is_canonical"),
            keep.alias("keep"),
            *carry,
        )


class CurationJob:
    def __init__(
        self,
        out_dir: str,
        n_buckets: int = 16,
        policy: CurationPolicy = CurationPolicy(),
    ):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.policy = policy
        self.minhash_cfg = MinHashConfig(num_hashes=64, bands=32)
        self.labels_dir = os.path.join(out_dir, "labels")
        self.decisions_dir = os.path.join(out_dir, "decisions")
        self.chunks_dir = os.path.join(out_dir, "chunks")
        self.log = LineageLog(os.path.join(out_dir, "_lineage"))
        self.chunk_log = LineageLog(os.path.join(out_dir, "_lineage_chunks"))

    def completed_buckets(self) -> list[int]:
        return self.log.completed()

    def metrics(self) -> list[dict]:
        return self.log.records()

    # ------------------------------------------- phase 1: dup labels

    def ensure_labels(self, docs: DataFrame) -> DataFrame:
        """Build-or-read the corpus-global near-dup label table
        (doc_id string, component string).  Write-once
        (``commit_table``): an existing _SUCCESS-committed table is
        reused as-is (resume never re-runs the dedup shuffle)."""
        spark = docs.sparkSession
        if os.path.exists(os.path.join(self.labels_dir, "_SUCCESS")):
            return spark.read.parquet(self.labels_dir)

        words = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            tokenize_ws(F.col("text")).alias("words"),
        )
        sh = words.select(
            "doc_id", ngrams_ws(F.col("words")).alias("sh")
        ).repartition(max(8, spark.sparkContext.defaultParallelism))
        labels = near_dup_labels(
            to_token_table(docs), sh, self.minhash_cfg, self.policy.jaccard
        )
        commit_table(self.labels_dir, labels)
        return spark.read.parquet(self.labels_dir)

    # ------------------------------------------- phase 2: decisions

    def run(
        self,
        docs: DataFrame,
        *,
        fail_after: int | None = None,
    ) -> list[BucketResult]:
        """Land the per-doc decision table for every incomplete
        bucket in ONE input scan (``run_buckets``; fail_after as
        there)."""
        labels = self.ensure_labels(docs)

        def build(in_take, observe_input):
            d = docs.select(
                F.col("doc_id").cast("string").alias("doc_id"),
                F.col("text"),
                bucket_of(
                    F.col("doc_id").cast("string"), self.n_buckets
                ).alias("__bucket"),
            ).where(in_take)
            return self.policy.decide(observe_input(d), labels)

        return run_buckets(
            self.log,
            self.decisions_dir,
            self.n_buckets,
            list(range(self.n_buckets)),
            build,
            {"rows_out": "1", "rows_kept": "if(keep, 1, 0)"},
            fail_after=fail_after,
        )

    def decisions(self, spark) -> DataFrame:
        return spark.read.parquet(self.decisions_dir)

    def kept(self, spark) -> DataFrame:
        """The kept-corpus view: a pushdown filter, not a copy."""
        return self.decisions(spark).where(F.col("keep"))

    # ------------------------------------------ phase 3: chunk table

    def completed_chunk_buckets(self) -> list[int]:
        return self.chunk_log.completed()

    def chunk_metrics(self) -> list[dict]:
        return self.chunk_log.records()

    def run_chunks(
        self,
        docs: DataFrame,
        *,
        window: int = 32,
        stride: int = 24,
        fail_after: int | None = None,
    ) -> list[BucketResult]:
        """Phase 3 — the training-ready CHUNK table: slide a
        window/stride chunker (operators.packing.chunk_documents)
        over every KEPT document and land (doc_id, chunk_id, start,
        chunk_len, chunk_md5) through ``run_buckets``.  A bucket is
        eligible once its DECISION marker exists; the kept set is a
        pushdown filter over the decision table (keep = true — never
        a second text copy), and all pending buckets ride ONE corpus
        scan + one broadcast-able join of the kept-id list."""
        from sonar_spark.operators.packing import chunk_documents

        spark = docs.sparkSession

        def build(in_take, observe_input):
            kept_ids = self.decisions(spark).where(
                F.col("keep") & in_take
            ).select("doc_id", "__bucket")
            d = docs.select(
                F.col("doc_id").cast("string").alias("doc_id"),
                F.split(F.trim(F.col("text")), r"\s+").alias("words"),
            ).join(kept_ids, "doc_id")
            ch = chunk_documents(
                d.select("doc_id", "words"),
                window=window,
                stride=stride,
            ).withColumn(
                "__bucket", bucket_of(F.col("doc_id"), self.n_buckets)
            )
            return ch

        return run_buckets(
            self.chunk_log,
            self.chunks_dir,
            self.n_buckets,
            [b for b in range(self.n_buckets) if self.log.is_done(b)],
            build,
            # chunk_documents numbers each doc's chunks from 0: chunk-0
            # rows count the docs (DISTINCT cannot be observed)
            {
                "n_docs": "if(chunk_id = 0, 1, 0)",
                "n_chunks": "1",
                "tokens_out": "chunk_len",
            },
            fail_after=fail_after,
            extra={"window": window, "stride": stride},
            counts=("n_docs", "n_chunks"),
            what="chunk buckets",
        )

    def chunks(self, spark) -> DataFrame:
        return spark.read.parquet(self.chunks_dir)
