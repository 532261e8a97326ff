"""CurationJob (plans/curation.py): kill/resume identity, write-once
label table reuse, and decision semantics vs a plain-Python oracle on
a planted-duplicate corpus."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sonar_spark.plans.curation import CurationJob, CurationPolicy

WORDS = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "and", "runs", "far", "away", "today", "again", "with", "joy",
]


def _docs(spark):
    import random

    rng = random.Random(31)
    rows = []
    for i in range(48):
        n = rng.randint(2, 24)
        text = " ".join(rng.choice(WORDS) for _ in range(n))
        rows.append((i, text, f"s{i % 4}"))
    # planted near-dups of every 6th doc (drop the last word) — the
    # pairs land in arbitrary buckets, so dedup must be corpus-global
    for i in range(0, 48, 6):
        base = rows[i][1].split()
        if len(base) > 6:
            rows.append((1000 + i, " ".join(base[:-1]), "sdup"))
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def _decision_rows(job, spark):
    return sorted(
        tuple(r[c] for c in
              ["doc_id", "lang", "quality", "n_tokens", "component",
               "is_canonical", "keep"])
        for r in job.decisions(spark).collect()
    )


def test_curation_job_kill_resume_identity(spark, tmp_path):
    docs = _docs(spark)
    ref = CurationJob(str(tmp_path / "ref"), n_buckets=8)
    ref.run(docs)

    job = CurationJob(str(tmp_path / "out"), n_buckets=8)
    with pytest.raises(RuntimeError, match="buckets pending"):
        job.run(docs, fail_after=2)
    assert len(job.completed_buckets()) == 2
    labels_success = os.path.join(job.labels_dir, "_SUCCESS")
    stat_before = os.stat(labels_success).st_mtime_ns

    # resume: remaining buckets complete, labels NOT rebuilt
    res = CurationJob(str(tmp_path / "out"), n_buckets=8).run(docs)
    assert len([r for r in res if r.skipped]) == 2
    assert os.stat(labels_success).st_mtime_ns == stat_before
    assert _decision_rows(job, spark) == _decision_rows(ref, spark)

    # lineage metrics cover every bucket, and their counts are the
    # decision table's per-bucket counts
    ms = CurationJob(str(tmp_path / "out"), n_buckets=8).metrics()
    assert sorted(m["bucket"] for m in ms) == list(range(8))
    want = {
        r["__bucket"]: (r["n"], r["kept"])
        for r in job.decisions(spark)
        .groupBy("__bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        )
        .collect()
    }
    for m in ms:
        assert (m["rows_out"], m["rows_kept"]) == want.get(
            m["bucket"], (0, 0)
        ), m
    # the on-disk format a resume reads
    assert sorted(os.listdir(tmp_path / "out" / "_lineage")) == [
        f"bucket_{b:05d}.json" for b in range(8)
    ]
    assert all(
        set(m) == {"bucket", "rows_in", "rows_out", "rows_kept",
                   "wall_sec", "completed_at"}
        for m in ms
    )
    total_in = sum(m["rows_in"] for m in ms)
    assert total_in == docs.count()


def test_ensure_labels_clears_crashed_build_and_loses_race(spark, tmp_path):
    """A crashed build's tmp dir is cleared before the label build,
    and a build that loses the commit race drops its own copy instead
    of raising, leaving the committed labels as they were."""
    from sonar_spark.plans.pipeline import commit_table

    docs = _docs(spark)
    job = CurationJob(str(tmp_path / "j"), n_buckets=4)
    crashed = tmp_path / "j" / "labels.tmp-1"
    crashed.mkdir(parents=True)
    (crashed / "part-00000.parquet").write_bytes(b"partial")
    labels = sorted(job.ensure_labels(docs).collect())
    assert not crashed.exists()
    assert len(labels) == docs.count()

    assert not commit_table(job.labels_dir, docs.select("doc_id"))
    assert [d for d in os.listdir(tmp_path / "j")
            if d.startswith("labels.tmp-")] == []
    assert sorted(job.ensure_labels(docs).collect()) == labels


def test_curation_job_decision_semantics(spark, tmp_path):
    from sonar_spark.functions.text import detect_language, quality_score

    docs = _docs(spark)
    job = CurationJob(
        str(tmp_path / "j"),
        n_buckets=4,
        policy=CurationPolicy(min_quality=0.5, min_tokens=5),
    )
    job.run(docs)
    dec = {r["doc_id"]: r for r in job.decisions(spark).collect()}
    assert len(dec) == docs.count()

    # scoring columns replay the engine expressions exactly
    scored = {
        r["doc_id"]: r
        for r in docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            detect_language(F.col("text")).alias("lang"),
            F.round(quality_score(F.col("text")), 6).alias("quality"),
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long")
            .alias("n_tokens"),
        ).collect()
    }
    n_dup_components = 0
    for did, r in dec.items():
        s = scored[did]
        assert (r["lang"], r["quality"], r["n_tokens"]) == (
            s["lang"], s["quality"], s["n_tokens"]
        )
        assert r["is_canonical"] == (r["doc_id"] == r["component"])
        assert r["keep"] == (
            r["is_canonical"]
            and r["quality"] >= 0.5
            and r["n_tokens"] >= 5
        )
        if not r["is_canonical"]:
            n_dup_components += 1
    # the planted near-dups must group (and only canonicals survive)
    assert n_dup_components >= 4
    kept = {r["doc_id"] for r in job.kept(spark).collect()}
    assert kept == {d for d, r in dec.items() if r["keep"]}
    assert all(dec[d]["is_canonical"] for d in kept)


def _chunk_rows(job, spark):
    return sorted(
        tuple(r[c] for c in
              ["doc_id", "chunk_id", "start", "chunk_len", "chunk_md5"])
        for r in job.chunks(spark).collect()
    )


def test_chunk_stage_kill_resume_identity(spark, tmp_path):
    docs = _docs(spark)
    ref = CurationJob(str(tmp_path / "ref"), n_buckets=8)
    ref.run(docs)
    ref.run_chunks(docs)

    job = CurationJob(str(tmp_path / "out"), n_buckets=8)
    job.run(docs)
    with pytest.raises(RuntimeError, match="chunk buckets pending"):
        job.run_chunks(docs, fail_after=3)
    assert len(job.completed_chunk_buckets()) == 3

    # resume: only the pending 5 run; committed buckets skipped
    res = CurationJob(str(tmp_path / "out"), n_buckets=8).run_chunks(docs)
    assert len([r for r in res if r.skipped]) == 3
    assert _chunk_rows(job, spark) == _chunk_rows(ref, spark)

    ms = CurationJob(str(tmp_path / "out"), n_buckets=8).chunk_metrics()
    assert sorted(m["bucket"] for m in ms) == list(range(8))
    assert all(m["window"] == 32 and m["stride"] == 24 for m in ms)
    # marker counts are the chunk table's per-bucket counts
    want = {
        r["__bucket"]: (r["n_docs"], r["n_chunks"], r["tokens_out"])
        for r in job.chunks(spark)
        .groupBy("__bucket")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_chunks"),
            F.sum("chunk_len").alias("tokens_out"),
        )
        .collect()
    }
    for m in ms:
        assert (m["n_docs"], m["n_chunks"], m["tokens_out"]) == want.get(
            m["bucket"], (0, 0, 0)
        ), m
    # the on-disk format a resume reads
    assert sorted(os.listdir(tmp_path / "out" / "_lineage_chunks")) == [
        f"bucket_{b:05d}.json" for b in range(8)
    ]
    assert all(
        set(m) == {"bucket", "n_docs", "n_chunks", "tokens_out",
                   "wall_sec", "completed_at", "window", "stride"}
        for m in ms
    )


def test_chunk_stage_matches_direct_chunker(spark, tmp_path):
    from sonar_spark.operators.packing import chunk_documents

    docs = _docs(spark)
    job = CurationJob(str(tmp_path / "j"), n_buckets=4)
    job.run(docs)
    job.run_chunks(docs, window=16, stride=8)

    kept = {r["doc_id"] for r in job.kept(spark).collect()}
    direct = chunk_documents(
        docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.split(F.trim(F.col("text")), r"\s+").alias("words"),
        ).where(F.col("doc_id").isin(list(kept))),
        window=16,
        stride=8,
    )
    got = _chunk_rows(job, spark)
    want = sorted(
        tuple(r[c] for c in
              ["doc_id", "chunk_id", "start", "chunk_len", "chunk_md5"])
        for r in direct.collect()
    )
    assert got == want
    # every kept doc chunked, nothing else
    assert {t[0] for t in got} == kept


def test_chunk_stage_requires_decisions(spark, tmp_path):
    docs = _docs(spark)
    job = CurationJob(str(tmp_path / "j"), n_buckets=4)
    # no decision markers yet -> nothing eligible, all skipped
    res = job.run_chunks(docs)
    assert all(r.skipped for r in res)
    assert job.completed_chunk_buckets() == []


def test_chunk_stage_nothing_kept(spark, tmp_path):
    """No pending bucket keeps a doc, so the chunk write lands no
    partition: the stage must still commit every bucket with zero
    counts (and a resume must find nothing left), not fail to infer a
    schema from an empty table."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "s0"),
            (2, "over the lazy dog today", "s1"),
        ],
        "doc_id long, text string, source string",
    )
    job = CurationJob(
        str(tmp_path / "j"),
        n_buckets=4,
        policy=CurationPolicy(min_quality=2.0),
    )
    job.run(docs)
    assert job.kept(spark).count() == 0
    res = job.run_chunks(docs)
    assert not any(r.skipped for r in res)
    assert job.completed_chunk_buckets() == list(range(4))
    assert all(
        (m["n_docs"], m["n_chunks"], m["tokens_out"]) == (0, 0, 0)
        for m in job.chunk_metrics()
    )
    assert all(r.skipped for r in job.run_chunks(docs))


def test_decisions_bucket_without_input_rows(spark, tmp_path):
    """A pending bucket with no input rows commits zero counts, also
    when no bucket the run takes has a row: Spark prunes the observed
    node of a provably empty local input and delivers an empty metrics
    row, which must read as zeros, not block or fail."""
    from sonar_spark.plans.pipeline import bucket_of

    ids = spark.range(1, 40).select(
        "id", bucket_of(F.col("id").cast("string"), 4).alias("b")
    )
    doc = ids.where("b = 3").first()["id"]
    docs = spark.createDataFrame(
        [(doc, "the quick brown fox jumps over the lazy dog", "s0")],
        "doc_id long, text string, source string",
    )
    job = CurationJob(str(tmp_path / "j"), n_buckets=4)
    with pytest.raises(RuntimeError, match="buckets pending"):
        job.run(docs, fail_after=1)
    res = job.run(docs)
    assert [r.bucket for r in res if r.skipped] == [0]
    ms = {m["bucket"]: m for m in job.metrics()}
    assert sorted(ms) == [0, 1, 2, 3]
    for b, m in ms.items():
        n = int(b == 3)
        assert (m["rows_in"], m["rows_out"], m["rows_kept"]) == (n, n, n), m


def test_bucket_phases_submit_no_job_after_the_write(spark, tmp_path):
    """The marker counts are observed during each phase's write, so
    neither phase runs a job of its own to count rows: run and
    run_chunks each submit at most 3 Spark jobs (a recount after the
    write made them 8 and 7)."""
    sc = spark.sparkContext
    docs = _docs(spark)
    job = CurationJob(str(tmp_path / "j"), n_buckets=8)
    job.ensure_labels(docs)

    def n_jobs(group, phase):
        sc.setJobGroup(group, group)
        try:
            phase(docs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status tracker learns of jobs through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert n_jobs(f"run-{tmp_path.name}", job.run) <= 3
    assert n_jobs(f"chunks-{tmp_path.name}", job.run_chunks) <= 3
