"""The benchmark workloads.

A workload makes its inputs from the seed, then runs one iteration at a
time: ``prepare`` (untimed), ``iterate`` (timed) and ``check``
(untimed, returns a list of problems).  ``tracer`` wraps the calls an
iteration makes into each module in spans.  Every untraced run times
at least ``min_timed`` iterations, so its ``wall_s`` is the median of
the same number of samples whenever they take longer than the run
seconds.

Why these two (each has a one-line ``why`` in BENCHMARK.json):

- ``featurize_asof`` is the BASELINE pipeline: one plan, one shuffle,
  no writes, dominated by the mapInArrow featurize kernel, so kernel
  and Python/Arrow-boundary work show and planning barely registers.
- ``curation`` is a fresh CurationJob: MinHash, the banded-LSH shuffle,
  the verify joins, connected-components driver rounds and three
  phases of partitioned writes with lineage markers, with almost no
  featurize kernel.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sonar_spark.config import FeatureConfig, FrameConfig
from sonar_spark.operators.asof import asof_join
from sonar_spark.operators.features import frame_features_arrow
from sonar_spark.plans.curation import CurationJob, CurationPolicy

from . import checks, gen

# the round-1 core-15 feature set that BASELINE.json measures
CORE15 = FeatureConfig(enable_spectral=False, enable_mfcc=False)
FRAME = FrameConfig(window=gen.WINDOW, hop=gen.HOP)

TOKEN_DOCS = 60_000
CURATION_DOCS = 1_500  # base docs; planted copies come on top
# base docs of the sweep's feature store; at the sf0.1 size (about 5,000)
# its build, queries and oracle check alone take over two minutes on 4 cores
STORE_DOCS = 200


def featurize_left(spark: SparkSession, paths: dict[str, str]):
    """tokens -> frame features (W=64, H=16, core-15), projected to the
    as-of left side.  A doc's entity is pmod(xxhash64(doc_id), 64), as
    in bench.py."""
    feats = frame_features_arrow(spark.read.parquet(paths["tokens"]), FRAME, CORE15)
    return feats.select(
        "rms_energy",
        F.pmod(F.xxhash64("doc_id"), F.lit(gen.N_ENTITIES)).alias("entity"),
        F.col("frame_ts").alias("ts"),
    )


def asof_summary(spark: SparkSession, left, paths: dict[str, str]):
    """As-of join (union strategy) on the catalog -> one count/sum row."""
    joined = asof_join(left, spark.read.parquet(paths["catalog"]), strategy="union")
    return joined.select(
        F.count("*").alias("n_frames"),
        F.sum(F.col("matched_ref_ts").isNotNull().cast("long")).alias("n_matched"),
        F.round(F.sum("rms_energy"), 3).alias("sum_rms"),
    )


class FeaturizeAsof:
    name = "featurize_asof"
    min_timed = 7  # about 21 s of timed iterations on 4 cores

    def __init__(self, cache: str, run_dir: str, seed: int):
        self.seed = seed
        self.n_docs = TOKEN_DOCS
        self.paths = gen.tokens_inputs(cache, seed, TOKEN_DOCS)
        self.ref: dict | None = None

    def prepare(self) -> None:
        pass

    def iterate(self, spark: SparkSession, tracer) -> dict:
        left = featurize_left(spark, self.paths)
        return asof_summary(spark, left, self.paths).collect()[0].asDict()

    def check(self, spark: SparkSession, out: dict) -> list[str]:
        if self.ref is None:
            self.ref = self.reference(spark)
        return checks.check_featurize(out, self.ref)

    def reference(self, spark: SparkSession) -> dict:
        """Recompute the summary in numpy from the generator's arrays.
        Spark only evaluates xxhash64 to map docs to entities."""
        lens, flat = gen.token_arrays(self.seed, self.n_docs)
        ent = (
            spark.read.parquet(self.paths["tokens"])
            .select(
                "doc_id",
                F.pmod(F.xxhash64("doc_id"), F.lit(gen.N_ENTITIES)).alias("e"),
            )
            .toPandas()
            .sort_values("doc_id")["e"]
            .to_numpy()
        )
        cat = gen.catalog_arrays(self.seed)
        return checks.featurize_reference(
            lens, flat, ent, cat["entity"], cat["ref_ts"]
        )


class Curation:
    name = "curation"
    min_timed = 2  # about 28 s of timed iterations on 4 cores
    policy = CurationPolicy()

    def __init__(self, cache: str, run_dir: str, seed: int):
        self.paths = gen.documents_inputs(cache, seed, CURATION_DOCS)
        self.words = load_words(self.paths["documents"])
        with open(self.paths["pairs"]) as f:
            self.pairs = json.load(f)
        self.n_docs = len(self.words)
        self.root = os.path.join(run_dir, "curation")
        self.n = 0
        self.job: CurationJob | None = None

    def prepare(self) -> None:
        if self.job is not None:
            shutil.rmtree(self.job.out_dir, ignore_errors=True)
        self.n += 1
        self.job = CurationJob(os.path.join(self.root, f"job{self.n}"), policy=self.policy)

    def iterate(self, spark: SparkSession, tracer) -> CurationJob:
        run_phases(spark, self.job, self.paths["documents"], tracer)
        return self.job

    def check(self, spark: SparkSession, job: CurationJob) -> list[str]:
        dec = job.decisions(spark).toPandas()
        chunked = job.chunks(spark).select("doc_id").distinct().toPandas()
        p = self.policy
        return checks.check_curation(
            dec, self.words, self.pairs, p.jaccard, p.min_quality, p.min_tokens,
            set(chunked["doc_id"].astype(str)),
        )


def run_phases(spark: SparkSession, job: CurationJob, documents: str, tracer) -> None:
    docs = spark.read.parquet(documents)
    with tracer.span("plans.curation.ensure_labels"):
        job.ensure_labels(docs)
    with tracer.span("plans.curation.run"):
        job.run(docs)
    with tracer.span("plans.curation.run_chunks"):
        job.run_chunks(docs)


def load_words(documents: str) -> dict[str, list[str]]:
    t = pq.read_table(documents, columns=["doc_id", "text"]).to_pydict()
    return {str(d): s.split() for d, s in zip(t["doc_id"], t["text"])}


WORKLOADS = {w.name: w for w in (FeaturizeAsof, Curation)}
