"""Per-frame windowed feature extraction — the backfilled per-window
statistics of the north rule.

frame_features_arrow is the one implementation: mapInArrow over the
*token table* directly — one Arrow batch in, vectorized numpy
(stride-tricks) per doc, frame rows out. Zero shuffle, never
materializes window arrays. This is the 10^12-scale path.
tests/test_features.py checks it against the loop golden
(tests/golden.py) and against a Catalyst-expression twin kept there.

Feature formulas cited in sonar_spark.kernels docstring.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import FeatureConfig, FrameConfig
from .. import kernels

SPECTRAL_COLS = [
    "centroid", "rolloff", "bandwidth", "flatness", "flatness_db",
    "slope", "contrast", "power", "log_power",
]

MFCC_COLS = list(kernels._MFCC_KEYS)

# bark band energies are opt-in (enable_bark=False by default), so
# they live outside FEATURE_COLS (the default output contract)
BARK_COLS = list(kernels._BARK_KEYS)

FEATURE_COLS = [
    "rms_energy", "mean", "var", "std", "skew", "kurt", "min", "max",
    "crest", "zcr", "flux", "p25", "p50", "p75", "entropy",
] + SPECTRAL_COLS + MFCC_COLS

ALL_COLS = FEATURE_COLS + BARK_COLS

# Enable* flag -> feature columns (config-driven pruning, the
# reference's FeatureConfig semantics, fingerprint/config/config.go:22-27)
_FLAG_GROUPS = {
    "enable_energy": ["rms_energy", "crest"],
    "enable_moments": ["mean", "var", "std", "skew", "kurt", "min", "max"],
    "enable_percentiles": ["p25", "p50", "p75"],
    "enable_entropy": ["entropy"],
    "enable_zcr": ["zcr"],
    "enable_flux": ["flux"],
    "enable_spectral": SPECTRAL_COLS,
    "enable_mfcc": MFCC_COLS,
    "enable_bark": BARK_COLS,
}


def feature_cols(feat_cfg: FeatureConfig) -> list[str]:
    """Ordered feature subset selected by the Enable* flags."""
    enabled: set[str] = set()
    for flag, cols in _FLAG_GROUPS.items():
        if getattr(feat_cfg, flag, False):
            enabled.update(cols)
    return [c for c in ALL_COLS if c in enabled]


def _arrow_schema(cols: list[str]) -> str:
    return (
        "doc_id string, source string, n_tok int, frame_idx long, "
        "frame_ts long, " + ", ".join(f"{c} double" for c in cols)
    )


def frame_features_arrow(
    df: DataFrame,
    frame_cfg: FrameConfig = FrameConfig(),
    feat_cfg: FeatureConfig = FeatureConfig(),
) -> DataFrame:
    """Token table -> per-frame feature rows, one vectorized pass.

    Narrow (mapInArrow): each doc's frames are produced where the doc
    row lives; no shuffle, no window-array materialization, no
    per-row Python objects — the Arrow ListArray's contiguous values
    buffer feeds the flat kernel directly, and per-doc fan-out of the
    key columns is an Arrow take() (SURVEY §4.3 vectorization
    discipline)."""
    W, H, bins = frame_cfg.window, frame_cfg.hop, feat_cfg.entropy_bins
    cols = feature_cols(feat_cfg)
    keys = tuple(cols)
    if frame_cfg.window_type != "rectangular":
        from ..functions.windows import window_coefficients

        wcoef = window_coefficients(frame_cfg.window_type, W)
    else:
        wcoef = None

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        scratch = kernels._scratch
        for batch in batches:
            vals, lens = kernels.list_flat(
                batch.column(batch.schema.get_field_index("tokens"))
            )
            flat = scratch.get("flat_tok", (len(vals),))
            np.copyto(flat, vals)
            feats, doc_nf = kernels.frame_features_flat(
                flat, lens, W, H, bins, scratch=scratch, keys=keys,
                weights=wcoef,
            )
            total = int(doc_nf.sum())
            if total == 0:
                continue
            take_idx = pa.array(np.repeat(np.arange(len(lens)), doc_nf))
            starts = np.concatenate(([0], np.cumsum(doc_nf)[:-1]))
            frame_idx = np.arange(total, dtype=np.int64) - np.repeat(
                starts, doc_nf
            )
            out = {
                "doc_id": pc.take(
                    batch.column(batch.schema.get_field_index("doc_id")), take_idx
                ),
                "source": pc.take(
                    batch.column(batch.schema.get_field_index("source")), take_idx
                ),
                "n_tok": pc.take(
                    batch.column(batch.schema.get_field_index("n_tok")), take_idx
                ),
                "frame_idx": pa.array(frame_idx),
                "frame_ts": pa.array(frame_idx * H),
            }
            for c in cols:
                out[c] = pa.array(feats[c], type=pa.float64())
            names = list(out)
            yield pa.RecordBatch.from_arrays([out[n] for n in names], names=names)

    out_cols = ["doc_id", "source", "n_tok", "frame_idx", "frame_ts"] + cols
    return (
        df.select("doc_id", "tokens", "n_tok", "source")
        .mapInArrow(gen, schema=_arrow_schema(cols))
        .select(*out_cols)
    )


def chroma_doc_stats(hpcp: DataFrame) -> DataFrame:
    """Per-doc mean chroma vector as 12 fingerprint columns
    chroma0..chroma11 — the music-extractor composite's chroma
    feature group (extractors/music.go:327-376 per-frame chroma ->
    fingerprint/comparison.go:691-712 calculateMeanChromaVector; the
    compare side takes the cosine of these mean vectors,
    :673-688).  Values are 6-dp rounded (quantized fingerprint
    interface).  One aggregation: mean per (doc, class) then a
    12-way max(when) fold — no pivot shuffle."""
    m = hpcp.groupBy("doc_id", "pitch_class").agg(
        F.round(F.avg("hpcp"), 6).alias("__mv")
    )
    return m.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(F.col("pitch_class") == i, F.col("__mv"))
            ).alias(f"chroma{i}")
            for i in range(12)
        ]
    )


def doc_stats(features: DataFrame) -> DataFrame:
    """Per-doc (mean,std) summary of each frame feature — the stats
    fingerprint mirroring extractMFCCStatistics (reference
    fingerprint/comparison.go:774-800). Pure groupBy aggregates
    (map-side partial agg; one shuffle on doc_id)."""
    aggs = []
    for c in FEATURE_COLS:
        if c in features.columns:
            aggs.append(F.avg(c).alias(f"{c}_mean"))
            aggs.append(F.stddev_pop(c).alias(f"{c}_std"))
    return features.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_frames"), *aggs
    )
