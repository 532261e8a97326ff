"""CurationJob — the materialized, resumable curation pipeline: the
token-axis twin of plans.pipeline.FeaturizeJob.  Turns the per-query
curation composites (langid / quality / near-dup grouping / keep-drop
policy) into the operational job shape a 100 TB corpus actually runs:

- **Phase 1 (corpus-global, write-once):** the near-dup LABEL table
  (MinHash -> banded LSH -> exact shingle-Jaccard verify -> connected
  components).  Dedup is inherently corpus-global — a duplicate pair
  can span any two buckets — so it cannot ride the per-bucket resume
  loop; instead it lands once under <out>/labels with an atomic
  directory rename (the FeatureStore convention) and every later run
  (and every resume) reuses it.  At scale this is the one
  shuffle-heavy stage: one band-key exchange + candidate-bounded
  verify joins + connected components over the verified pairs —
  one checkpointed symmetrized edge table, then O(log d)
  pointer-jumping rounds of one join, one aggregation and one
  self-join each.

- **Phase 2 (per-bucket, resumable):** the per-document DECISION
  table (doc_id, lang, quality, n_tokens, component, is_canonical,
  keep) written partitionBy(__bucket) under dynamic partition
  overwrite with one lineage marker per bucket — a single corpus
  scan for all pending buckets (never a scan per bucket), scoring as
  pure Catalyst expressions riding that scan, plus ONE join of the
  phase-1 label table.  Kill/resume semantics are FeaturizeJob's:
  a crash leaves uncommitted files and no marker; re-running
  overwrites pending partitions atomically before markers land.
  The markers' counts come from one grouped pass over the committed
  partitions (plans.pipeline.bucket_aggregates), as in phase 3.

- **Phase 3 (per-bucket, resumable):** the training-ready CHUNK
  table — the sliding window/stride chunker over every kept document
  (operators.packing.chunk_documents), partitionBy(__bucket) under
  its own lineage markers (_lineage_chunks), eligible per bucket as
  soon as that bucket's decision marker exists.  This is the stage
  that turns a curation verdict into model-consumable rows.

The kept corpus is a pushdown filter over the decision table
(keep = true), so no second copy of the text is written.

doc_id is carried as STRING throughout (the token-table convention —
planted-dup corpora use suffixed string ids); canonical = the
lexicographically smallest member of a duplicate component, which is
deterministic, the only property the policy needs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sonar_spark.config import MinHashConfig
from sonar_spark.functions.text import detect_language, quality_score
from sonar_spark.operators.fingerprint import (
    connected_components,
    lsh_candidate_pairs,
    minhash_fingerprints,
)
from sonar_spark.plans.pipeline import (
    BucketResult,
    bucket_aggregates,
    bucket_of,
)


def _shingles(words, k: int = 4):
    """k-token shingles as strings (space-joined) — the exact-verify
    unit (the minhash_dedup convention)."""
    n = F.size(words)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(words, i, k), " "),
        ),
    ).otherwise(F.array(F.array_join(words, " ")))


@dataclass
class CurationPolicy:
    """Plan-time keep/drop policy terms (every term is a column)."""

    min_quality: float = 0.5
    min_tokens: int = 5
    jaccard: float = 0.8


class CurationJob:
    def __init__(
        self,
        out_dir: str,
        n_buckets: int = 16,
        policy: CurationPolicy = CurationPolicy(),
        minhash_cfg: MinHashConfig = MinHashConfig(
            num_hashes=64, bands=32
        ),
    ):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.policy = policy
        self.minhash_cfg = minhash_cfg
        self.labels_dir = os.path.join(out_dir, "labels")
        self.decisions_dir = os.path.join(out_dir, "decisions")
        self.lineage_dir = os.path.join(out_dir, "_lineage")
        self.chunks_dir = os.path.join(out_dir, "chunks")
        self.chunk_lineage_dir = os.path.join(out_dir, "_lineage_chunks")

    # ---------------------------------------------------- lineage I/O
    # (the FeaturizeJob marker protocol: one write-once JSON per
    # bucket, committed atomically AFTER the partition lands)

    def _marker(self, bucket: int) -> str:
        return os.path.join(
            self.lineage_dir, f"bucket_{bucket:05d}.json"
        )

    def is_done(self, bucket: int) -> bool:
        return os.path.exists(self._marker(bucket))

    def completed_buckets(self) -> list[int]:
        if not os.path.isdir(self.lineage_dir):
            return []
        return sorted(
            int(f[len("bucket_"):-len(".json")])
            for f in os.listdir(self.lineage_dir)
            if f.startswith("bucket_") and f.endswith(".json")
        )

    def _commit(self, res: BucketResult, extra: dict) -> None:
        os.makedirs(self.lineage_dir, exist_ok=True)
        rec = {
            "bucket": res.bucket,
            "rows_in": res.rows_in,
            "rows_out": res.rows_out,
            "wall_sec": round(res.wall_sec, 3),
            "completed_at": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
            **extra,
        }
        tmp = self._marker(res.bucket) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, self._marker(res.bucket))

    def metrics(self) -> list[dict]:
        return [
            json.load(open(self._marker(b)))
            for b in self.completed_buckets()
        ]

    # ------------------------------------------- phase 1: dup labels

    def ensure_labels(self, docs: DataFrame) -> DataFrame:
        """Build-or-read the corpus-global near-dup label table
        (doc_id string, component string).  Write-once: an existing
        _SUCCESS-committed table is reused as-is (resume never
        re-runs the dedup shuffle)."""
        spark = docs.sparkSession
        if os.path.exists(os.path.join(self.labels_dir, "_SUCCESS")):
            return spark.read.parquet(self.labels_dir)

        from sonar_spark.functions.text import to_token_table

        words = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.split(F.trim(F.col("text")), r"\s+").alias("words"),
        )
        tok = to_token_table(docs)
        sigs = minhash_fingerprints(tok, self.minhash_cfg)
        cand = lsh_candidate_pairs(sigs, self.minhash_cfg, with_est=False).select(
            "doc_a", "doc_b"
        )
        sh = words.select(
            "doc_id", _shingles(F.col("words")).alias("sh")
        ).repartition(
            max(8, docs.sparkSession.sparkContext.defaultParallelism)
        )
        j = cand.join(
            sh.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh").alias("sh_a"),
            ),
            "doc_a",
        ).join(
            sh.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh").alias("sh_b"),
            ),
            "doc_b",
        )
        jac = F.size(F.array_intersect("sh_a", "sh_b")).cast(
            "double"
        ) / F.size(F.array_union("sh_a", "sh_b"))
        pairs = j.select(
            "doc_a", "doc_b", F.round(jac, 6).alias("__j")
        ).where(F.col("__j") >= self.policy.jaccard)
        cc = connected_components(pairs)
        labels = (
            words.select("doc_id")
            .join(
                cc.withColumnRenamed("node", "doc_id"),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("comp", F.col("doc_id")).alias(
                    "component"
                ),
            )
        )
        tmp = f"{self.labels_dir}.tmp-{os.getpid()}"
        labels.write.mode("overwrite").parquet(tmp)
        if os.path.exists(self.labels_dir):  # lost a race; ours works
            shutil.rmtree(tmp)
        else:
            os.rename(tmp, self.labels_dir)
        return spark.read.parquet(self.labels_dir)

    # ------------------------------------------- phase 2: decisions

    def run(
        self,
        docs: DataFrame,
        *,
        fail_after: int | None = None,
    ) -> list[BucketResult]:
        """Land the per-doc decision table for every incomplete
        bucket in ONE input scan.  fail_after=k stops after the first
        k pending buckets commit (kill/resume tests)."""
        labels = self.ensure_labels(docs)
        results: list[BucketResult] = []
        pending = [
            b for b in range(self.n_buckets) if not self.is_done(b)
        ]
        for b in range(self.n_buckets):
            if b not in pending:
                results.append(BucketResult(bucket=b, skipped=True))
        take = pending if fail_after is None else pending[:fail_after]
        if not take:
            return sorted(results, key=lambda r: r.bucket)

        t0 = time.time()
        spark = docs.sparkSession
        for b in take:  # clear uncommitted partitions (crash debris)
            stale = os.path.join(self.decisions_dir, f"__bucket={b}")
            if os.path.isdir(stale):
                shutil.rmtree(stale)

        d = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.col("text"),
            bucket_of(F.col("doc_id").cast("string"), self.n_buckets).alias(
                "__bucket"
            ),
        ).where(
            F.col("__bucket").isin([int(b) for b in take])
        )
        scored = d.select(
            "doc_id",
            "__bucket",
            detect_language(F.col("text")).alias("lang"),
            F.round(quality_score(F.col("text")), 6).alias("quality"),
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long")
            .alias("n_tokens"),
        )
        out = scored.join(labels, "doc_id", "left").select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens",
            F.coalesce("component", F.col("doc_id")).alias(
                "component"
            ),
            "__bucket",
        )
        is_canon = F.col("doc_id") == F.col("component")
        keep = (
            is_canon
            & (F.col("quality") >= self.policy.min_quality)
            & (F.col("n_tokens") >= self.policy.min_tokens)
        )
        final = out.select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens",
            "component",
            is_canon.alias("is_canonical"),
            keep.alias("keep"),
            "__bucket",
        )
        (
            final.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(self.decisions_dir)
        )
        rows_in = {
            r["__bucket"]: r["count"]
            for r in d.groupBy("__bucket").count().collect()
        }
        out_stats = bucket_aggregates(
            spark,
            self.decisions_dir,
            take,
            F.count("*").alias("rows_out"),
            F.count(F.when(F.col("keep"), 1)).alias("rows_kept"),
        )
        wall = time.time() - t0
        for b in take:
            st = out_stats.get(b)
            res = BucketResult(
                bucket=b,
                skipped=False,
                rows_in=int(rows_in.get(b, 0)),
                rows_out=int(st["rows_out"]) if st else 0,
                wall_sec=wall / len(take),
            )
            self._commit(
                res, {"rows_kept": int(st["rows_kept"]) if st else 0}
            )
            results.append(res)
        if fail_after is not None and len(pending) > len(take):
            raise RuntimeError(
                f"fail_after={fail_after}: stopped with "
                f"{len(pending) - len(take)} buckets pending"
            )
        return sorted(results, key=lambda r: r.bucket)

    def decisions(self, spark) -> DataFrame:
        return spark.read.parquet(self.decisions_dir)

    def kept(self, spark) -> DataFrame:
        """The kept-corpus view: a pushdown filter, not a copy."""
        return self.decisions(spark).where(F.col("keep"))

    # ------------------------------------------ phase 3: chunk table

    def _chunk_marker(self, bucket: int) -> str:
        return os.path.join(
            self.chunk_lineage_dir, f"bucket_{bucket:05d}.json"
        )

    def chunk_is_done(self, bucket: int) -> bool:
        return os.path.exists(self._chunk_marker(bucket))

    def completed_chunk_buckets(self) -> list[int]:
        if not os.path.isdir(self.chunk_lineage_dir):
            return []
        return sorted(
            int(f[len("bucket_"):-len(".json")])
            for f in os.listdir(self.chunk_lineage_dir)
            if f.startswith("bucket_") and f.endswith(".json")
        )

    def chunk_metrics(self) -> list[dict]:
        return [
            json.load(open(self._chunk_marker(b)))
            for b in self.completed_chunk_buckets()
        ]

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
        chunk_len, chunk_md5) partitionBy(__bucket) with the same
        write-once lineage protocol as phase 2 (markers under
        _lineage_chunks).  A bucket is eligible once its DECISION
        marker exists; the kept set is a pushdown filter over the
        decision table (keep = true — never a second text copy), and
        all pending buckets ride ONE corpus scan + one broadcast-able
        join of the kept-id list.  Kill/resume: crash leaves
        uncommitted partition files and no marker; re-running
        overwrites pending partitions atomically, committed buckets
        are never re-chunked."""
        from sonar_spark.operators.packing import chunk_documents

        spark = docs.sparkSession
        results: list[BucketResult] = []
        eligible = [
            b for b in range(self.n_buckets) if self.is_done(b)
        ]
        pending = [b for b in eligible if not self.chunk_is_done(b)]
        for b in range(self.n_buckets):
            if b not in pending:
                results.append(BucketResult(bucket=b, skipped=True))
        take = pending if fail_after is None else pending[:fail_after]
        if not take:
            return sorted(results, key=lambda r: r.bucket)

        t0 = time.time()
        for b in take:  # crash debris
            stale = os.path.join(self.chunks_dir, f"__bucket={b}")
            if os.path.isdir(stale):
                shutil.rmtree(stale)

        kept_ids = self.decisions(spark).where(
            F.col("keep") & F.col("__bucket").isin([int(b) for b in take])
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
        (
            ch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(self.chunks_dir)
        )
        stats = bucket_aggregates(
            spark,
            self.chunks_dir,
            take,
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("chunk_len").alias("tokens_out"),
        )
        wall = time.time() - t0
        for b in take:
            st = stats.get(b)
            res = BucketResult(
                bucket=b,
                skipped=False,
                rows_in=int(st["n_docs"]) if st else 0,
                rows_out=int(st["n_chunks"]) if st else 0,
                wall_sec=wall / len(take),
            )
            self._commit_chunk(
                res,
                {
                    "tokens_out": int(st["tokens_out"]) if st else 0,
                    "window": window,
                    "stride": stride,
                },
            )
            results.append(res)
        if fail_after is not None and len(pending) > len(take):
            raise RuntimeError(
                f"fail_after={fail_after}: stopped with "
                f"{len(pending) - len(take)} chunk buckets pending"
            )
        return sorted(results, key=lambda r: r.bucket)

    def _commit_chunk(self, res: BucketResult, extra: dict) -> None:
        os.makedirs(self.chunk_lineage_dir, exist_ok=True)
        rec = {
            "bucket": res.bucket,
            "n_docs": res.rows_in,
            "n_chunks": res.rows_out,
            "wall_sec": round(res.wall_sec, 3),
            "completed_at": time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            ),
            **extra,
        }
        tmp = self._chunk_marker(res.bucket) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, self._chunk_marker(res.bucket))

    def chunks(self, spark) -> DataFrame:
        return spark.read.parquet(self.chunks_dir)
