"""The commit protocol every resumable plan uses, and the featurize job.

Per-bucket phases (``run_buckets``): the unit of resume is a doc-hash
bucket, bucket(doc_id) = pmod(xxhash64(doc_id), n_buckets).  One run
writes ALL pending buckets from a single input scan, partitionBy(
"__bucket") under dynamic partition overwrite to <out>/__bucket=<b>/,
then lands one write-once JSON marker + metrics record per bucket in
a ``LineageLog`` (<out>/_lineage/bucket_<b>.json), its metrics
observed on the rows this run wrote, during the write (no job of
their own, like an Iceberg snapshot's added-records).  A re-run skips
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

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import FeatureConfig, FrameConfig
from ..operators.features import frame_features_arrow

_OBSERVE_TIMEOUT_S = 60.0  # observed_metrics' wait for the listener


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


def observed_metrics(obs: Observation) -> dict:
    """The metrics ``obs`` collected during the action that ran its
    frame.  Spark's asynchronous query listener delivers them; this
    waits at most ``_OBSERVE_TIMEOUT_S`` (``Observation.get`` waits
    forever).  When the optimizer pruned the observed node (its
    input was provably empty) Spark delivers an empty row, which
    ``Observation.get`` cannot convert: that returns {}."""
    jo = obs._jo  # the JVM Observation, set by DataFrame.observe
    deadline = time.monotonic() + _OBSERVE_TIMEOUT_S
    while not jo.future().isCompleted():
        if time.monotonic() > deadline:
            raise TimeoutError(f"observation {jo.name()} never arrived")
        time.sleep(0.005)
    return obs.get if jo.getRow().length() else {}


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


def run_buckets(
    log: LineageLog,
    out_dir: str,
    n_buckets: int,
    eligible: list[int],
    build: Callable[[Column, Callable[[DataFrame], DataFrame]], DataFrame],
    aggs: dict[str, str],
    *,
    fail_after: int | None,
    extra: dict | None = None,
    counts: tuple[str, str] = ("rows_in", "rows_out"),
    what: str = "buckets",
) -> list[BucketResult]:
    """Run one resumable per-bucket phase over the ``eligible`` buckets
    that ``log`` has no marker for, all in ONE job.

    ``build(in_take, observe_input)`` returns the frame to write (with
    a ``__bucket`` column; ``in_take`` is the predicate selecting the
    buckets taken); passing its input frame through ``observe_input``
    makes that frame's per-bucket row count the marker's ``rows_in``.
    ``aggs`` maps a marker field to a SQL term, summed per bucket (0
    when it has no rows).  Both are observed on the rows this run
    wrote, during the write.  Each bucket's marker holds them,
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
        observed: list[tuple[Observation, list[str]]] = []

        def observe(df: DataFrame, terms: dict[str, str]) -> DataFrame:
            # one SQL expression per field, a slot per bucket taken (a
            # Column tree per bucket costs a Py4J call per node)
            o = Observation()
            observed.append((o, list(terms)))
            sums = {
                k: ", ".join(f"sum(if(__bucket = {b}, {t}, 0))" for b in take)
                for k, t in terms.items()
            }
            return df.observe(
                o, *(F.expr(f"array({v}) AS {k}") for k, v in sums.items())
            )

        out = build(
            F.col("__bucket").isin([int(b) for b in take]),
            lambda src: observe(src, {"rows_in": "1"}),
        )
        (
            observe(out, aggs)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(out_dir)
        )
        stats = {}
        for o, fields in observed:
            got = observed_metrics(o)  # sums are null over no rows
            stats.update({k: got.get(k) or [None] * len(take) for k in fields})
        wall = (time.time() - t0) / len(take)
        for i, b in enumerate(take):
            rec = {k: int(v[i] or 0) for k, v in stats.items()}
            rows_in, rows_out = (rec[c] for c in counts)
            results.append(BucketResult(b, False, rows_in, rows_out, wall))
            # truncated: rounded-up shares could sum past the wall
            rec["wall_sec"] = int(wall * 1000) / 1000
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
    ):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.frame_cfg = frame_cfg
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

        def build(in_take, observe_input):
            sel = observe_input(
                tokens.withColumn(
                    "__bucket", bucket_of(F.col("doc_id"), self.n_buckets)
                ).where(in_take)
            )
            return frame_features_arrow(
                sel.drop("__bucket"), self.frame_cfg
            ).withColumn(
                # bucket is a pure function of doc_id: re-derive after
                # featurize instead of threading it through the kernel
                "__bucket",
                bucket_of(F.col("doc_id"), self.n_buckets),
            )

        return run_buckets(
            self.log,
            self.out_dir,
            self.n_buckets,
            list(range(self.n_buckets)),
            build,
            {"rows_out": "1"},
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
    """Materialized feature-table layer (SURVEY §4.4): shared front
    ends (frame features, LPC, formant peaks, HPCP, voice-quality doc
    stats) are computed ONCE and landed as parquet tables, and every
    consumer reads the materialized copy with pushdown and pruning
    instead of re-deriving the same subtree from the raw corpus (a
    20-scan speech_analysis plan collapses to reads of 4 tiny tables).

    Write-once per table via ``commit_table``; a concurrent loser
    drops its tmp dir.  The store directory is content-keyed by the
    caller (``store_key``), so a changed corpus or engine lands in a
    fresh key.  On real infra each table is an Iceberg table and
    write-once is a snapshot commit."""

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
            # builders run at session parallelism; the AQE REBALANCE
            # hint coalesces the write to advisory-size files instead
            # of tens of tiny ones, without cutting the build's own
            # parallelism the way coalesce() would
            obs = Observation()
            df = builder().observe(obs, F.count("*").alias("rows"))
            if commit_table(p, df.hint("rebalance")):
                # lineage sidecar next to the table: who built it,
                # when, how long, and the rows its write observed
                write_json_atomic(
                    f"{p}.meta.json",
                    {
                        "table": name,
                        "rows": observed_metrics(obs).get("rows", 0),
                        "build_wall_sec": round(time.time() - t0, 3),
                        "built_at": time.strftime(
                            "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                        ),
                        "pid": os.getpid(),
                    },
                )
        return self.spark.read.parquet(p)

    def rows(self, name: str) -> int:
        """Row count of table ``name`` as its sidecar recorded it, or
        counted when a concurrent build has yet to land the sidecar."""
        try:
            with open(f"{self.path(name)}.meta.json") as f:
                return json.load(f)["rows"]
        except FileNotFoundError:
            return self.spark.read.parquet(self.path(name)).count()

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
