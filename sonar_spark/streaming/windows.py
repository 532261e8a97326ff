"""Structured Streaming wrappers (SURVEY §2.16): the streaming STFT /
sessionizer roles (reference fingerprint/analyzers/spectral.go:287-374
STFTStreamer; silence sessionizer silence_detection.go:44-75) mapped
to event-time windows + watermarks.

Each transform works identically on a batch DataFrame and a streaming
DataFrame (tested by equivalence: availableNow stream over the same
files must produce the batch answer). The reference's carry-over
frame buffer is subsumed by Spark's window state store; late data is
handled by watermark (the reference assumes arrival order — we
strictly generalize).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_stats_stream(events: DataFrame) -> DataFrame:
    """Tumbling event-time window stats (the per-window
    statistics bundle of SURVEY §2.5 in streaming form).

    Output: window_start, window_end, event_type, n_events, sum/avg/min/
    max of value."""
    # watermarks require TIMESTAMP (tz-aware); parquet often carries NTZ
    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", "3650 days")
    return (
        df.groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


def dedup_stream(docs: DataFrame, fingerprint_col) -> DataFrame:
    """Streaming exact deduplication: keep the first arrival per
    content fingerprint (the exact-dedup operator of
    operators/fingerprint.exact_dedup in streaming form).

    dropDuplicatesWithinWatermark bounds the dedup state store by the
    watermark horizon — the training-pipeline ingest shape at scale:
    an unbounded stream cannot keep every fingerprint forever, so
    dedup is exact within the lateness window and the state is
    evicted beyond it. Works identically on batch input (plain
    dropDuplicates there, where state is unbounded anyway)."""
    df = docs.withColumn("__fp", fingerprint_col).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    if df.isStreaming:
        df = df.withWatermark("ts", "2 hours")
        return df.dropDuplicatesWithinWatermark(["__fp"]).drop("__fp")
    return df.dropDuplicates(["__fp"]).drop("__fp")


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Session windows by inactivity gap — the sessionize-by-gap
    operator in streaming form (session_window state merging).

    Output: user_id, session_start, session_end, n_events."""
    df = events.withColumn("ts", F.col("ts").cast("timestamp"))
    if df.isStreaming:
        df = df.withWatermark("ts", "3650 days")
    return (
        df.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )
