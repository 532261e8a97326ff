"""Multimodal columns: image/audio/video as opaque binary payloads
with typed metadata, processed by Arrow-batched UDFs.

The decode step itself needs codec libraries (PIL / libsndfile /
ffmpeg, the reference's transcode/decoder.go:146-174 role) that are
not in this environment, so it is a STUB: a deterministic
byte-derived decode (payload bytes interpreted as the raw
sample/pixel stream), so the Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape, downstream
featurization — is real and testable end-to-end.

Decoded audio streams are framed by the SAME frame/hop arithmetic as
token sequences (kernels.n_frames) — one engine, two modalities.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .. import kernels
from ..session import map_rows

MEDIA_SCHEMA = (
    "media_id string, kind string, width int, height int, sample_rate int, "
    "n_bytes int, sha256 string, payload binary"
)


def media_payload(i: int) -> np.ndarray:
    """Deterministic payload bytes for media row i:
    byte[j] = (197 i + 17 j + (j^2 mod 251)) mod 256 — a pure integer
    formula (NOT an opaque RNG) so the DuckDB oracle can reconstruct
    the byte values and value-verify the whole decode->feature
    pipeline, while the payload still exercises a real binary column
    + checksum path."""
    size = 32 * 24 if i % 2 == 0 else 4000
    j = np.arange(size, dtype=np.int64)
    return ((197 * i + 17 * j + (j * j) % 251) % 256).astype(np.uint8)


_N_MEDIA = 64


def synth_media_table(spark: SparkSession) -> DataFrame:
    """Deterministic synthetic media table: alternating image/audio
    rows with formula-derived binary payloads + integrity checksum
    (see media_payload — SQL-reconstructible by design)."""

    def row(i):
        if i % 2 == 0:
            w, h, sr = 32, 24, 0
            kind = "image"
        else:
            w, h, sr = 0, 0, 8000
            kind = "audio"
        raw = media_payload(i).tobytes()
        return [
            (f"m{i:06d}", kind, w, h, sr, len(raw),
             hashlib.sha256(raw).hexdigest(), raw)
        ]

    return map_rows(spark.range(_N_MEDIA), row, MEDIA_SCHEMA)


def media_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract every media row (Arrow-batched).

    - integrity: sha256(payload) must equal the metadata checksum
      (rows failing are emitted with ok=false and null features);
    - image: 16-bin intensity histogram + mean/std (resize stub:
      features over the raw pixel stream);
    - audio: global rms/mean/std over decoded samples PLUS n_frames
      from the shared frame/hop kernel at W=256, H=64 (frame-sample
      plumbing).

    Output: media_id, kind, ok, n_values, mean, std, rms, n_frames,
    hist array<double>(16)."""
    out_schema = (
        "media_id string, kind string, ok boolean, n_values int, "
        "mean double, std double, rms double, n_frames long, "
        "hist array<double>"
    )

    def row(mid, kind, sha, payload):
        raw = bytes(payload)
        if hashlib.sha256(raw).hexdigest() != sha:
            return [(mid, kind, False, 0, None, None, None, None, None)]
        # stub decode: payload bytes ARE the sample/pixel stream
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        mean = float(x.mean())
        std = float(x.std())
        rms = float(np.sqrt((x.astype(np.float64) ** 2).mean()))
        hist = np.bincount(x // 16, minlength=16)[:16] / len(x)
        nf = kernels.n_frames(len(x), 256, 64) if kind == "audio" else 0
        return [(mid, kind, True, len(x), mean, std, rms, nf, hist)]

    return map_rows(
        media.select("media_id", "kind", "sha256", "payload"), row, out_schema
    )
