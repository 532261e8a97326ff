"""Binary ingest functions (reference transcode/decoder.go) —
the two rows SURVEY §2.1 had ruled out of scope, implemented as
sandbox-faithful analogs:

- bytes_to_float64 (decoder.go:849-870): raw little-endian float64
  bytes -> samples; a length not divisible by 8 is TRIMMED to a
  multiple of 8, empty input decodes to no samples (the Go returns
  nil).  Vectorized numpy frombuffer inside Arrow-batched UDFs — no
  per-row Python in the engine path.
- fetch_payloads (DecodeURL, decoder.go:146-174 role): distributed
  fetch of a URI column + sha256 integrity gate + float64 decode.
  Transport here is file:// (this sandbox has no network; an HTTP
  GET is a transport detail, same stance as the multimodal codec
  stub) — the Spark-side shape (URI table in, per-executor fetch,
  checksum, decode, stats out) is the real pipeline.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame

from ..session import map_rows


def bytes_to_float64(payload: bytes | None) -> np.ndarray:
    """decoder.go:849-870: trim to a multiple of 8 bytes, interpret
    as little-endian IEEE-754 float64."""
    if payload is None:
        return np.empty(0, dtype=np.float64)
    n = len(payload) - (len(payload) % 8)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    return np.frombuffer(payload[:n], dtype="<f8")


FETCH_SCHEMA = (
    "media_id long, ok boolean, n_samples long, mean double, "
    "rms double, first double, last double"
)


def fetch_payloads(uris: DataFrame) -> DataFrame:
    """DecodeURL analog: uris(media_id long, uri string,
    sha256 string) -> fetch bytes from each URI (file:// or plain
    path), verify the checksum, decode float64 samples, emit
    per-payload stats.  Integrity failures emit ok=false with null
    stats (the Go surfaces a decode error); missing files likewise.
    Arrow-batched; the fetch + decode runs on executors, not the
    driver."""

    def row(mid, uri, sha):
        path = uri[7:] if uri.startswith("file://") else uri
        try:
            with open(path, "rb") as f:
                raw = f.read()
        except OSError:
            return [(mid, False, 0, None, None, None, None)]
        if hashlib.sha256(raw).hexdigest() != sha:
            return [(mid, False, 0, None, None, None, None)]
        v = bytes_to_float64(raw)
        if len(v) == 0:
            return [(mid, True, 0, None, None, None, None)]
        return [
            (mid, True, len(v), float(v.mean()),
             float(np.sqrt((v * v).mean())), float(v[0]), float(v[-1]))
        ]

    return map_rows(uris.select("media_id", "uri", "sha256"), row, FETCH_SCHEMA)
