"""Resumable featurize pipeline with per-partition lineage + metrics
(north_rule: "resumable from checkpoint with per-partition lineage
and metrics"; SURVEY §4.4).

Unit of resume = a doc-hash bucket: bucket(doc_id) = pmod(xxhash64(
doc_id), n_buckets). One Spark job per run processes ALL pending
buckets from a single input scan, writing partitionBy("__bucket")
under dynamic partition overwrite to <out>/__bucket=<i>/, then lands
a write-once marker + metrics record per bucket under
<out>/_lineage/. A re-run skips every bucket whose marker exists —
killed runs resume where they stopped, and reprocessing a completed
bucket is a no-op (idempotent: pending partitions are overwritten
atomically before their markers land).

On real infra the marker/commit would be an Iceberg snapshot commit
per partition; the filesystem marker reproduces the semantics in the
sandbox (write temp + atomic rename).

Determinism: bucket membership is a pure function of doc_id, and the
featurize kernel is deterministic, so output bytes are independent
of executor count / task order (verified in tests).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import FeatureConfig, FrameConfig
from ..operators.features import frame_features_arrow


def bucket_of(doc_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(n_buckets))


@dataclass
class BucketResult:
    bucket: int
    skipped: bool
    rows_in: int = 0
    rows_out: int = 0
    wall_sec: float = 0.0


def bucket_aggregates(
    spark: SparkSession, out_dir: str, buckets: list[int], *aggs
) -> dict:
    """Per-bucket aggregates of the committed ``__bucket=<b>``
    partitions of ``buckets`` under ``out_dir`` in ONE grouped pass
    (not a scan or two per bucket): {bucket: Row}.  Reads only the
    partition directories that exist — a bucket that produced no rows
    has none, and a table with no rows at all has no schema to infer —
    so such a bucket is absent from the result."""
    paths = [
        p
        for p in (os.path.join(out_dir, f"__bucket={b}") for b in buckets)
        if os.path.isdir(p)
    ]
    if not paths:
        return {}
    part = spark.read.option("basePath", out_dir).parquet(*paths)
    return {
        r["__bucket"]: r
        for r in part.groupBy("__bucket").agg(*aggs).collect()
    }


class FeaturizeJob:
    """Resumable: featurize(token table) -> per-frame feature parquet,
    one doc-hash bucket at a time with lineage markers."""

    def __init__(
        self,
        out_dir: str,
        n_buckets: int = 16,
        frame_cfg: FrameConfig = FrameConfig(),
        feat_cfg: FeatureConfig = FeatureConfig(),
    ):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.frame_cfg = frame_cfg
        self.feat_cfg = feat_cfg
        self.lineage_dir = os.path.join(out_dir, "_lineage")

    # ---------------------------------------------------- lineage I/O

    def _marker(self, bucket: int) -> str:
        return os.path.join(self.lineage_dir, f"bucket_{bucket:05d}.json")

    def is_done(self, bucket: int) -> bool:
        return os.path.exists(self._marker(bucket))

    def completed_buckets(self) -> list[int]:
        if not os.path.isdir(self.lineage_dir):
            return []
        out = []
        for f in os.listdir(self.lineage_dir):
            if f.startswith("bucket_") and f.endswith(".json"):
                out.append(int(f[len("bucket_"):-len(".json")]))
        return sorted(out)

    def _commit(self, res: BucketResult, extra: dict | None = None) -> None:
        os.makedirs(self.lineage_dir, exist_ok=True)
        rec = {
            "bucket": res.bucket,
            "rows_in": res.rows_in,
            "rows_out": res.rows_out,
            "wall_sec": round(res.wall_sec, 3),
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            **(extra or {}),
        }
        tmp = self._marker(res.bucket) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.replace(tmp, self._marker(res.bucket))  # write-once, atomic

    def metrics(self) -> list[dict]:
        return [
            json.load(open(self._marker(b))) for b in self.completed_buckets()
        ]

    # ------------------------------------------------------------ run

    def run(
        self,
        tokens: DataFrame,
        *,
        fail_after: int | None = None,
    ) -> list[BucketResult]:
        """Process every incomplete bucket in ONE job: a single input
        scan filtered to the pending bucket set, written with
        partitionBy("__bucket") under dynamic partition overwrite, then
        one marker per bucket from the committed partitions. (The old
        per-bucket driver loop re-scanned the full input once per
        bucket — bucket is a derived column, so nothing pushes down —
        a 16x read amplification at scale.)

        fail_after=k limits this run to the first k pending buckets
        and raises after their markers land (kill/resume tests).
        Idempotence: a crash mid-write leaves only uncommitted
        _temporary files and no markers; re-running overwrites the
        pending partitions atomically before markers land."""
        results: list[BucketResult] = []
        pending = [b for b in range(self.n_buckets) if not self.is_done(b)]
        for b in range(self.n_buckets):
            if b not in pending:
                results.append(BucketResult(bucket=b, skipped=True))
        take = pending if fail_after is None else pending[:fail_after]
        if take:
            t0 = time.time()
            spark = tokens.sparkSession
            # Dynamic partition overwrite only replaces partitions that
            # produce rows this run: a pending bucket whose output is
            # now empty would leave a stale partition from a prior
            # crashed run (committed files, no marker) in place, count
            # it into rows_out, and seal it with the marker. Pending
            # partitions are uncommitted by definition — clear them
            # before the write.
            import shutil

            for b in take:
                stale = os.path.join(self.out_dir, f"__bucket={b}")
                if os.path.isdir(stale):
                    shutil.rmtree(stale)
            with_bucket = tokens.withColumn(
                "__bucket", bucket_of(F.col("doc_id"), self.n_buckets)
            )
            sel = with_bucket.where(
                F.col("__bucket").isin([int(b) for b in take])
            )
            feats = frame_features_arrow(
                sel.drop("__bucket"), self.frame_cfg, self.feat_cfg
            ).withColumn(
                # bucket is a pure function of doc_id: re-derive after
                # featurize instead of threading it through the kernel
                "__bucket",
                bucket_of(F.col("doc_id"), self.n_buckets),
            )
            (
                feats.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__bucket")
                .parquet(self.out_dir)
            )
            # metrics: rows_in from one pruned count pass (doc_id
            # column only), rows_out from one grouped pass over the
            # committed partitions
            rows_in = {
                r["__bucket"]: r["count"]
                for r in sel.groupBy("__bucket").count().collect()
            }
            out = bucket_aggregates(
                spark, self.out_dir, take, F.count("*").alias("rows_out")
            )
            wall = time.time() - t0
            for b in take:
                res = BucketResult(
                    bucket=b,
                    skipped=False,
                    rows_in=int(rows_in.get(b, 0)),
                    rows_out=int(out[b]["rows_out"]) if b in out else 0,
                    wall_sec=wall,  # shared single-job wall time
                )
                self._commit(
                    res,
                    {
                        "window": self.frame_cfg.window,
                        "hop": self.frame_cfg.hop,
                        "scan": "single-pass",
                    },
                )
                results.append(res)
        if fail_after is not None and take:
            raise RuntimeError(
                f"injected failure after {len(take)} buckets"
            )
        return results

    def read_output(self, spark: SparkSession) -> DataFrame:
        return spark.read.option("basePath", self.out_dir).parquet(
            os.path.join(self.out_dir, "__bucket=*")
        )


def music_fingerprints(
    stats: DataFrame,
    hpcp: DataFrame,
    feat_cfg: FeatureConfig = FeatureConfig(enable_chroma=True),
) -> DataFrame:
    """The music-extractor composite route (extractors/music.go:
    178-243): when ``feat_cfg.enable_chroma``, the per-doc mean
    chroma vector (chroma0..11, comparison.go:691-712) lands next to
    the speech doc-stat fingerprint so compare_topk scores the
    chroma group (comparison.go:673-688) alongside energy/moments —
    one broadcast-sized join on doc_id; with the flag off this is
    the identity (the speech path).  LEFT join: a doc with frames but
    no spectral peaks (hence no HPCP rows) keeps its fingerprint with
    a zero chroma vector — the reference's compareChromaFeatures
    scores the chroma group 0 for such docs rather than dropping them
    (comparison.go:673-688 zero-norm guard)."""
    if not feat_cfg.enable_chroma:
        return stats
    from pyspark.sql import functions as F

    from ..operators.features import chroma_doc_stats

    joined = stats.join(chroma_doc_stats(hpcp), "doc_id", "left")
    return joined.select(
        *stats.columns,
        *[
            F.coalesce(F.col(f"chroma{i}"), F.lit(0.0)).alias(f"chroma{i}")
            for i in range(12)
        ],
    )


# ------------------------------------------------------------------ store

class FeatureStore:
    """Materialized feature-table layer — the at-scale architecture the
    composite queries assume (SURVEY §4.4; r4 verdict "Missing #2"):
    shared front ends (frame features, LPC, formant peaks, HPCP,
    voice-quality doc stats) are computed ONCE, landed as parquet
    tables, and every downstream consumer reads the materialized copy
    with normal predicate pushdown / column pruning — instead of each
    composite re-deriving the same subtree from the raw corpus (the
    multi-consumer re-evaluation plan smell: Catalyst re-evaluates a
    shared subtree once per consumer; a 20-scan speech_analysis plan
    collapses to reads of 4 tiny tables).

    Write-once semantics per table via atomic directory rename (the
    FeaturizeJob marker idea at table granularity): ``get(name,
    builder)`` builds to ``<name>.tmp-<pid>`` and renames into place;
    a concurrent loser just drops its temp dir.  The store directory
    is content-keyed by the caller (input path + mtime + config
    version), so a changed corpus or changed builder semantics lands
    in a fresh key rather than serving stale rows.  On real infra
    each table is an Iceberg table and write-once is a snapshot
    commit."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def get(self, name: str, builder) -> DataFrame:
        """Return the materialized table ``name``, building it exactly
        once per store key.  ``builder`` is a zero-arg callable
        returning the DataFrame to land."""
        p = self.path(name)
        if not os.path.isdir(p):
            import shutil

            # a crashed previous build leaves only its tmp dir (the
            # rename never ran): clear stale tmps so they cannot
            # accumulate, then build fresh
            for stale in (
                d
                for d in os.listdir(self.base_dir)
                if d.startswith(f"{name}.tmp-")
            ):
                shutil.rmtree(
                    os.path.join(self.base_dir, stale), ignore_errors=True
                )
            import threading

            # unique per thread too: build_all() races wave members
            # from one process, and a shared tmp dir would interleave
            # two writers' part files
            tmp = f"{p}.tmp-{os.getpid()}-{threading.get_ident()}"
            t0 = time.time()
            # r6 (guide §6 output sizing): builders now run at session
            # parallelism, which would land 32-96 tiny part files per
            # table and tax every consumer scan with per-file task
            # overhead; the AQE REBALANCE hint coalesces the write to
            # advisoryPartitionSizeInBytes-sized files (size-adaptive
            # — a big table still writes many files) without reducing
            # the build's own parallelism the way coalesce() would.
            builder().hint("rebalance").write.mode("overwrite").parquet(
                tmp
            )
            try:
                os.rename(tmp, p)  # write-once: fails if a winner exists
                # lineage sidecar (the FeaturizeJob marker idea at
                # table granularity): who built it, when, how long —
                # next to the table so consumers/auditors can read it
                meta = {
                    "table": name,
                    "build_wall_sec": round(time.time() - t0, 3),
                    "built_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    "pid": os.getpid(),
                }
                mtmp = f"{p}.meta.json.tmp-{os.getpid()}"
                with open(mtmp, "w") as f:
                    json.dump(meta, f)
                os.replace(mtmp, f"{p}.meta.json")
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
        return self.spark.read.parquet(p)

    def metrics(self) -> list[dict]:
        """Lineage sidecars of every materialized table."""
        out = []
        for f in sorted(os.listdir(self.base_dir)):
            if f.endswith(".meta.json"):
                with open(os.path.join(self.base_dir, f)) as fh:
                    out.append(json.load(fh))
        return out


def store_key(sf_dir: str, version: str) -> str:
    """Content key for a FeatureStore over a testdata dir: input path
    + documents/events parquet mtimes + the builder-semantics version
    tag (bumped whenever a front-end builder changes values)."""
    import hashlib

    parts = [os.path.realpath(sf_dir), version]
    for t in ("documents.parquet", "events.parquet"):
        fp = os.path.join(sf_dir, t)
        if os.path.exists(fp):
            parts.append(f"{t}:{os.path.getmtime(fp):.0f}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]
