"""The commit protocol every resumable plan uses, and the featurize job.

Per-bucket phases (``run_buckets``): the unit of resume is a doc-hash
bucket, bucket(doc_id) = pmod(xxhash64(doc_id), n_buckets).  One run
writes ALL pending buckets from a single input scan, partitionBy(
"__bucket") under dynamic partition overwrite to <out>/__bucket=<b>/,
then lands one write-once JSON marker + metrics record per bucket in
a ``LineageLog`` (<out>/_lineage/bucket_<b>.json).  A re-run skips
every bucket whose marker exists, so a killed run resumes where it
stopped and re-running a completed bucket is a no-op: a crash leaves
uncommitted files and no marker, and the re-run overwrites the
pending partitions before their markers land.

Corpus-global tables (``commit_table``): built once to a tmp dir and
renamed into place; the rename is the commit.

On real infra each marker / rename would be an Iceberg snapshot
commit; the filesystem reproduces the semantics in the sandbox
(write temp + atomic rename).

Determinism: bucket membership is a pure function of doc_id, and the
featurize kernel is deterministic, so output bytes are independent
of executor count / task order (verified in tests).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
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


def write_json_atomic(path: str, rec: dict) -> None:
    """Write ``rec`` as JSON to ``path`` via a temp file and an atomic
    replace: a reader sees the whole record or none."""
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)


def commit_table(path: str, df: DataFrame) -> bool:
    """Write-once table commit: land ``df`` as parquet at ``path`` via
    a tmp dir and an atomic directory rename.  Clears the
    ``<name>.tmp-*`` dirs of crashed builds first.  The rename fails
    when a concurrent build committed first; the loser drops its tmp
    dir.  Returns whether this call committed the table."""
    base, name = os.path.split(path)
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        if d.startswith(f"{name}.tmp-"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    # unique per thread too: build_all() races wave members from one
    # process, and a shared tmp dir would interleave two writers' files
    tmp = f"{path}.tmp-{os.getpid()}-{threading.get_ident()}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)  # fails if a winner exists
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        return False
    return True


class LineageLog:
    """Per-bucket lineage log: one write-once JSON marker per committed
    bucket, ``<dir>/bucket_<b as 5 digits>.json``.  A marker lands
    only after its bucket's partition is committed, so it is what
    makes the bucket done."""

    def __init__(self, dir: str):
        self.dir = dir

    def _path(self, bucket: int) -> str:
        return os.path.join(self.dir, f"bucket_{bucket:05d}.json")

    def is_done(self, bucket: int) -> bool:
        return os.path.exists(self._path(bucket))

    def completed(self) -> list[int]:
        if not os.path.isdir(self.dir):
            return []
        return sorted(
            int(f[len("bucket_"):-len(".json")])
            for f in os.listdir(self.dir)
            if f.startswith("bucket_") and f.endswith(".json")
        )

    def records(self) -> list[dict]:
        out = []
        for b in self.completed():
            with open(self._path(b)) as f:
                out.append(json.load(f))
        return out

    def commit(self, bucket: int, rec: dict) -> None:
        os.makedirs(self.dir, exist_ok=True)
        write_json_atomic(self._path(bucket), {"bucket": bucket, **rec})


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


def run_buckets(
    log: LineageLog,
    out_dir: str,
    n_buckets: int,
    eligible: list[int],
    build: Callable[[Column], tuple[DataFrame, DataFrame | None]],
    aggs: dict[str, Column],
    *,
    fail_after: int | None,
    extra: dict | None = None,
    counts: tuple[str, str] = ("rows_in", "rows_out"),
    what: str = "buckets",
) -> list[BucketResult]:
    """Run one resumable per-bucket phase over the ``eligible`` buckets
    that ``log`` has no marker for, all in ONE job.

    ``build(in_take)`` returns the frame to write (with a ``__bucket``
    column; ``in_take`` is the predicate selecting the buckets taken)
    and, or None, the input frame whose per-bucket row count is the
    marker's ``rows_in``.  Each bucket's marker holds that count, the
    named ``aggs`` over its committed partition (0 when it has none),
    ``wall_sec`` (the phase wall over the buckets taken),
    ``completed_at`` and ``extra``; its BucketResult takes rows_in /
    rows_out from the two marker fields named in ``counts``.

    fail_after=k limits this run to the first k pending buckets and,
    when buckets stay pending, raises after their markers land
    (kill/resume tests).  Returns one result per bucket, in order."""
    pending = [b for b in eligible if not log.is_done(b)]
    take = pending if fail_after is None else pending[:fail_after]
    results = [
        BucketResult(bucket=b, skipped=True)
        for b in range(n_buckets)
        if b not in pending
    ]
    if take:
        t0 = time.time()
        # Dynamic partition overwrite only replaces partitions that
        # produce rows this run: a pending bucket whose output is now
        # empty would leave a stale partition from a prior crashed run
        # (committed files, no marker) in place, count it, and seal it
        # with the marker.  Pending partitions are uncommitted by
        # definition — clear them before the write.
        for b in take:
            stale = os.path.join(out_dir, f"__bucket={b}")
            if os.path.isdir(stale):
                shutil.rmtree(stale)
        out, src = build(F.col("__bucket").isin([int(b) for b in take]))
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(out_dir)
        )
        rows_in = (
            {}
            if src is None
            else {
                r["__bucket"]: r["count"]
                for r in src.groupBy("__bucket").count().collect()
            }
        )
        stats = bucket_aggregates(
            out.sparkSession,
            out_dir,
            take,
            *(c.alias(k) for k, c in aggs.items()),
        )
        wall = (time.time() - t0) / len(take)
        for b in take:
            st = stats.get(b)
            rec = {} if src is None else {"rows_in": int(rows_in.get(b, 0))}
            rec.update({k: int(st[k]) if st else 0 for k in aggs})
            results.append(
                BucketResult(
                    bucket=b,
                    skipped=False,
                    rows_in=rec[counts[0]],
                    rows_out=rec[counts[1]],
                    wall_sec=wall,
                )
            )
            rec["wall_sec"] = round(wall, 3)
            rec["completed_at"] = time.strftime(
                "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
            )
            log.commit(b, {**rec, **(extra or {})})
    if fail_after is not None and len(pending) > len(take):
        raise RuntimeError(
            f"injected failure: fail_after={fail_after} stopped with "
            f"{len(pending) - len(take)} {what} pending"
        )
    return sorted(results, key=lambda r: r.bucket)


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
        self.log = LineageLog(os.path.join(out_dir, "_lineage"))

    def completed_buckets(self) -> list[int]:
        return self.log.completed()

    def metrics(self) -> list[dict]:
        return self.log.records()

    def run(
        self,
        tokens: DataFrame,
        *,
        fail_after: int | None = None,
    ) -> list[BucketResult]:
        """Featurize every incomplete bucket in ONE job (``run_buckets``):
        a single input scan filtered to the pending bucket set (bucket
        is a derived column, so nothing pushes down: a scan per bucket
        would read the input n_buckets times)."""

        def build(in_take):
            sel = tokens.withColumn(
                "__bucket", bucket_of(F.col("doc_id"), self.n_buckets)
            ).where(in_take)
            feats = frame_features_arrow(
                sel.drop("__bucket"), self.frame_cfg, self.feat_cfg
            ).withColumn(
                # bucket is a pure function of doc_id: re-derive after
                # featurize instead of threading it through the kernel
                "__bucket",
                bucket_of(F.col("doc_id"), self.n_buckets),
            )
            return feats, sel

        return run_buckets(
            self.log,
            self.out_dir,
            self.n_buckets,
            list(range(self.n_buckets)),
            build,
            {"rows_out": F.count("*")},
            fail_after=fail_after,
            extra={
                "window": self.frame_cfg.window,
                "hop": self.frame_cfg.hop,
                "scan": "single-pass",
            },
        )

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

    Write-once semantics per table via ``commit_table``: ``get(name,
    builder)`` builds to a tmp dir and renames it into place; a
    concurrent loser just drops its tmp dir.  The store directory
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
            t0 = time.time()
            # r6 (guide §6 output sizing): builders now run at session
            # parallelism, which would land 32-96 tiny part files per
            # table and tax every consumer scan with per-file task
            # overhead; the AQE REBALANCE hint coalesces the write to
            # advisoryPartitionSizeInBytes-sized files (size-adaptive
            # — a big table still writes many files) without reducing
            # the build's own parallelism the way coalesce() would.
            if commit_table(p, builder().hint("rebalance")):
                # lineage sidecar: who built it, when, how long — next
                # to the table so consumers/auditors can read it
                write_json_atomic(
                    f"{p}.meta.json",
                    {
                        "table": name,
                        "build_wall_sec": round(time.time() - t0, 3),
                        "built_at": time.strftime(
                            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                        ),
                        "pid": os.getpid(),
                    },
                )
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
    + documents/events parquet mtimes + ``version``, the digest of the
    engine source that builds the tables (__spark_entry__._source_digest)."""
    import hashlib

    parts = [os.path.realpath(sf_dir), version]
    for t in ("documents.parquet", "events.parquet"):
        fp = os.path.join(sf_dir, t)
        if os.path.exists(fp):
            parts.append(f"{t}:{os.path.getmtime(fp):.0f}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]
