"""Streaming/batch equivalence: the same transform over the same rows
must agree between a batch run and an availableNow stream run — plus
the replay harness's own guarantees (fail fast on a stalled stream,
release the sink and scratch dir) and the stream_* driver queries
value-checked against their DuckDB oracles."""

from __future__ import annotations

import os
import tempfile

import pytest

import __spark_entry__ as E
from sonar_spark.streaming import replay as R
from sonar_spark.streaming.replay import replay
from sonar_spark.streaming.windows import sessionize_stream, windowed_stats_stream
from tools.check_oracle import assert_matches_oracle

STREAM_QUERIES = [k for k in E.queries() if k.startswith("stream_")]


def _norm(df, keys):
    return sorted(
        (tuple(r[k] for k in keys) for r in df.collect()),
    )


def test_windowed_stats_stream_equals_batch(spark, sf_dir):
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    res_batch = windowed_stats_stream(batch)
    res_stream = replay([batch], windowed_stats_stream, "complete")
    keys = ["window_start", "event_type", "n_events", "sum_value"]
    assert _norm(res_batch, keys) == _norm(res_stream, keys)
    assert res_batch.count() > 10


def test_sessionize_stream_equals_batch(spark, sf_dir):
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    res_batch = sessionize_stream(batch)
    res_stream = replay([batch], sessionize_stream, "complete")
    keys = ["user_id", "session_start", "n_events"]
    assert _norm(res_batch, keys) == _norm(res_stream, keys)
    assert res_batch.count() > 10


def test_dedup_stream_equals_batch(spark, sf_dir):
    """Streaming exact dedup (dropDuplicatesWithinWatermark) keeps
    exactly one row per fingerprint and the kept fingerprint set
    equals the batch dedup's."""
    from pyspark.sql import functions as F

    from sonar_spark.functions.text import doc_fingerprint
    from sonar_spark.streaming.windows import dedup_stream

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # plant exact duplicates (same text, later doc_id/ts)
    dups = base.where(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + 900000
    )
    docs = base.unionByName(dups).withColumn(
        "ts", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_interval(secs=F.col("doc_id").cast("double") % 1000),
    )

    fp = doc_fingerprint(F.col("text"))
    batch_kept = dedup_stream(docs, fp)
    # append-mode sink: dropDuplicatesWithinWatermark emits rows as
    # they are first seen
    stream_kept = replay([docs], lambda s: dedup_stream(s, fp), "append")

    def fps(df):
        return sorted(
            r["fp"] for r in df.select(fp.alias("fp")).distinct().collect()
        )

    assert fps(batch_kept) == fps(stream_kept)
    # one row per fingerprint on both sides
    assert batch_kept.count() == len(fps(batch_kept))
    assert stream_kept.count() == len(fps(stream_kept))
    # dedup actually removed something (corpus has exact dups)
    assert batch_kept.count() < docs.count()


def test_replay_times_out_and_releases(spark, sf_dir, tmp_path, monkeypatch):
    """A replay that has not drained in _TIMEOUT_S raises TimeoutError
    with its query stopped, its sink view dropped and its scratch dir
    removed."""
    monkeypatch.setattr(R, "_TIMEOUT_S", 0.001)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    chunks = [ev.where(ev.event_id % 3 == i) for i in range(3)]
    tables = spark.catalog.listTables()
    with pytest.raises(TimeoutError):
        replay(chunks, windowed_stats_stream, "complete")
    assert spark.streams.active == []
    assert spark.catalog.listTables() == tables
    assert os.listdir(tmp_path) == []


@pytest.fixture(scope="module")
def stream_runs(spark, sf_dir):
    """name -> (result as pandas, catalog tables before and after the
    query, streams still active after it); each query runs once."""
    runs = {}

    def run(name):
        if name not in runs:
            before = spark.catalog.listTables()
            got = E.queries()[name](spark, sf_dir).toPandas()
            runs[name] = (
                got, before, spark.catalog.listTables(), spark.streams.active
            )
        return runs[name]

    return run


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_releases_sink(stream_runs, name):
    _, before, after, active = stream_runs(name)
    assert after == before
    assert active == []


@pytest.mark.parametrize("name", STREAM_QUERIES)
def test_stream_query_matches_oracle(stream_runs, sf_dir, name):
    assert_matches_oracle(stream_runs(name)[0], sf_dir, name)
