"""Frame/hop expansion of token sequences — the STFT-framing analog
(reference fingerprint/analyzers/spectral.go:385-545, frame-count
formula :409, frame slice :502-513).

Two physical strategies, both shuffle-free (narrow — each input row
fans out in place, so Catalyst keeps this inside one stage and the
parquet scan's partitioning carries through):

1. expand_frames — pure built-in expressions (sequence + slice inside
   transform): materializes the window arrays. Good when downstream
   wants the raw windows (e.g. MinHash on windows).
2. frame_features_arrow (in features.py) — mapInArrow straight from
   (doc_id, tokens) to per-frame feature rows without ever
   materializing window arrays — the 10^12-sequence path (SURVEY §7.4
   hard part 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import FrameConfig


def n_frames_col(n_tok: Column, cfg: FrameConfig) -> Column:
    """(n - W) // H + 1 for n >= W else 0 (spectral.go:409)."""
    return F.when(
        n_tok >= cfg.window,
        F.floor((n_tok - F.lit(cfg.window)) / F.lit(cfg.hop)) + 1,
    ).otherwise(F.lit(0)).cast("long")


def expand_frames(df: DataFrame, cfg: FrameConfig = FrameConfig()) -> DataFrame:
    """tokens table -> one row per (doc_id, frame_idx) with the window
    slice materialized. Narrow transformation: no shuffle.

    Output: doc_id, source, n_tok, frame_idx, frame_ts, window.
    frame_ts = frame_idx * hop (token-offset ticks — the synthetic
    clock of FIXTURES.md #1)."""
    W, H = cfg.window, cfg.hop
    nf = n_frames_col(F.col("n_tok"), cfg)
    frames = F.transform(
        F.sequence(F.lit(0), nf - 1),
        lambda i: F.struct(
            i.alias("frame_idx"),
            (i * H).cast("long").alias("frame_ts"),
            F.slice(F.col("tokens"), i.cast("int") * H + 1, W).alias("window"),
        ),
    )
    return (
        df.where(F.col("n_tok") >= W)
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.explode(frames).alias("f"),
        )
        .select("doc_id", "source", "n_tok", "f.frame_idx", "f.frame_ts", "f.window")
    )
