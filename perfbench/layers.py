"""The layer sweep of the traced run.

Every traced run, whatever its workload, ends with this sweep so that
it reports every per-layer metric.  Each probe lands its input once,
untimed, then times one call into a module's public function from that
input to a materialized output, inside a span named after the function.

The ``feature_store`` probe (plans.feature_tables.build_all into an
empty FeatureStore, then the store-backed consumer queries of
__spark_entry__) lives only here: as an end-to-end workload it costs
over a minute a run on 4 cores, which the run budget cannot carry.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession

from sonar_spark import kernels
from sonar_spark.functions.text import to_token_table
from sonar_spark.operators.features import feature_cols
from sonar_spark.operators.fingerprint import (
    connected_components,
    lsh_candidate_pairs,
    minhash_fingerprints,
)
from sonar_spark.plans.curation import CurationJob

from . import checks, gen, workloads
from .trace import NoTrace
from .workloads import CORE15, Curation, run_phases

STORE_QUERIES = ("speech_analysis", "featurize_music", "pitch_tracked", "content_detect")
CATALYST_PHASES = ("analysis", "optimization", "planning")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return size, files


def features(spark: SparkSession, tracer, paths: dict, seed: int, run_dir: str) -> dict:
    m = {}
    with tracer.span("operators.features.frame_features_arrow"):
        _noop(workloads.featurize_left(spark, paths))
    lens, flat = gen.token_arrays(seed, workloads.TOKEN_DOCS)
    # the kernel's input as the operator hands it over: float64 values
    flat, lens = flat.astype(np.float64), lens.astype(np.int64)
    with tracer.span("kernels.frame_features_flat"):
        _, doc_nf = kernels.frame_features_flat(
            flat, lens, gen.WINDOW, gen.HOP, CORE15.entropy_bins,
            keys=tuple(feature_cols(CORE15)),
        )
    m["kernels.frames"] = int(doc_nf.sum())
    landed = os.path.join(run_dir, "features")
    workloads.featurize_left(spark, paths).write.parquet(landed)
    with tracer.span("operators.asof.asof_join"):
        row = workloads.asof_summary(spark, spark.read.parquet(landed), paths).collect()[0]
    m["operators.asof.match_ratio"] = row["n_matched"] / row["n_frames"]
    return m


def fingerprint(spark: SparkSession, tracer, documents: str, words: dict, run_dir: str) -> dict:
    # the MinHash settings a CurationJob runs with
    cfg, jmin = CurationJob(run_dir).minhash_cfg, Curation.policy.jaccard
    tok = to_token_table(spark.read.parquet(documents))
    sigs = os.path.join(run_dir, "sigs")
    with tracer.span("operators.fingerprint.minhash_fingerprints"):
        minhash_fingerprints(tok, cfg).write.parquet(sigs)
    with tracer.span("operators.fingerprint.lsh_candidate_pairs"):
        cand = lsh_candidate_pairs(spark.read.parquet(sigs), cfg, with_est=False).collect()
    # exact verify in Python against the generated words, not the engine
    edges = [(r.doc_a, r.doc_b) for r in cand if gen.jaccard(words[r.doc_a], words[r.doc_b]) >= jmin]
    graph = spark.createDataFrame(edges, "doc_a string, doc_b string")
    with tracer.span("operators.fingerprint.connected_components"):
        connected_components(graph).collect()
    return {
        "operators.fingerprint.candidates": len(cand),
        "operators.fingerprint.verify_yield": len(edges) / len(cand) if cand else 0.0,
    }


def curation(spark: SparkSession, tracer, w: Curation, fresh: bool) -> tuple[dict, list[str]]:
    """With ``fresh``, one new job runs here, in per-phase spans, and is
    checked; otherwise the phases were traced in the workload's loop and
    ``w.job`` is its last job.  Then the resume of that job is timed."""
    problems = []
    if fresh:
        w.prepare()
        run_phases(spark, w.job, w.paths["documents"], tracer)
        problems = w.check(spark, w.job)
    size, files = tree_size(w.job.out_dir)
    with tracer.span("plans.curation.resume"):
        run_phases(spark, w.job, w.paths["documents"], NoTrace())
    m = {"plans.curation.bytes_written": size, "plans.curation.files_written": files}
    return m, problems


def feature_store(spark: SparkSession, tracer, sf_dir: str) -> tuple[dict, dict]:
    """build_all into an empty store (with the dup-label root, as
    bench.py builds it), then the store-backed consumer queries.
    Returns (metrics, {query: pandas result})."""
    import __spark_entry__ as E
    from sonar_spark.plans.feature_tables import build_all

    store = E._store(spark, sf_dir)
    m = {}
    with tracer.span("plans.feature_tables.build_all") as build:
        build_all(spark, sf_dir, store, extra_roots=(lambda: E._dup_group_labels(spark, sf_dir),))
    tables = [meta["table"] for meta in store.metrics()]
    for meta in store.metrics():
        m[f"plans.feature_tables.{meta['table']}_s"] = meta["build_wall_sec"]
    with tracer.span("plans.feature_tables.count_back"):
        for t in tables:
            spark.read.parquet(store.path(t)).count()
    size, files = tree_size(store.base_dir)
    m["plans.pipeline.store_bytes_written"] = size
    m["plans.pipeline.store_files_written"] = files
    qs = E.queries()
    out = {}
    catalyst = dict.fromkeys(CATALYST_PHASES, 0.0)
    query_s = 0.0
    for q in STORE_QUERIES:
        with tracer.span(f"entry.{q}") as s:
            with tracer.span("entry.construct"):
                df = qs[q](spark, sf_dir)
            out[q] = df.toPandas()
        query_s += s.end - s.start
        phases = df._jdf.queryExecution().tracker().phases()
        for p in CATALYST_PHASES:
            if phases.contains(p):
                catalyst[p] += phases.apply(p).durationMs() / 1e3
    m.update({f"catalyst.{p}_s": v for p, v in catalyst.items()})
    m["entry.construct_s"] = tracer.total("entry.construct")
    m["store_build_s"] = build.end - build.start
    m["store_query_s"] = query_s
    return m, out


def oracle_problems(sf_dir: str, results: dict) -> list[str]:
    """Each consumer query against its oracle_sql() in DuckDB."""
    import duckdb

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        bad = []
        for q, got in results.items():
            bad += checks.check_oracle(q, got, con.execute(oracles[q]).df())
        return bad
    finally:
        con.close()


def sweep(spark: SparkSession, tracer, w, cache: str, run_dir: str, seed: int):
    """Every probe, on the run's seed.  Returns (metrics, checked
    operations, problems); each problem is one failed operation."""
    m = {}
    m.update(features(spark, tracer, gen.tokens_inputs(cache, seed, workloads.TOKEN_DOCS), seed, run_dir))
    fresh = not isinstance(w, Curation)
    cw = Curation(cache, run_dir, seed) if fresh else w
    m.update(fingerprint(spark, tracer, cw.paths["documents"], cw.words, run_dir))
    cm, bad = curation(spark, tracer, cw, fresh)
    m.update(cm)
    store_dir = gen.documents_inputs(cache, seed, workloads.STORE_DOCS)["dir"]
    sm, results = feature_store(spark, tracer, store_dir)
    m.update(sm)
    problems = ["; ".join(bad)] if bad else []
    problems += oracle_problems(store_dir, results)
    return m, int(fresh) + len(results), problems


def span_metrics(tracer) -> dict:
    """Median seconds of every layer span, as ``<span name>_s``."""
    names = {s.name for s in tracer.spans if "." in s.name}
    return {f"{n}_s": float(np.median(tracer.seconds(n))) for n in names}
