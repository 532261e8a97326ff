"""Recursive IIR row-wise transforms over token sequences: DC removal
(dc_removal.go:100-126) and the RBJ bandpass biquad
(bandpass.go:82-150), zero initial state per doc (the reference
resets state per file).

Physical design: one narrow mapInArrow pass; the per-doc recursion is
vectorized as a convolution with the (batch-shared) AR impulse
response, so there is no per-sample Python anywhere — per doc it is
one or two numpy C calls.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import kernels

_OUT_SCHEMA = "doc_id string, filtered array<double>"


def _apply_per_doc(df: DataFrame, fn) -> DataFrame:
    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            vals, lens = kernels.list_flat(
                batch.column(batch.schema.get_field_index("tokens"))
            )
            vals = vals.astype(np.float64)
            max_len = int(lens.max()) if len(lens) else 0
            ctx = fn(max_len)  # per-batch precompute (impulse response)
            outs = []
            off = 0
            for n in lens:
                outs.append(ctx(vals[off : off + n]))
                off += n
            flat = (
                np.concatenate(outs) if outs else np.empty(0, dtype=np.float64)
            )
            arr = pa.ListArray.from_arrays(
                pa.array(
                    np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
                ),
                pa.array(flat, type=pa.float64()),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(batch.schema.get_field_index("doc_id")),
                    arr,
                ],
                names=["doc_id", "filtered"],
            )

    return df.select("doc_id", "tokens").mapInArrow(gen, schema=_OUT_SCHEMA)


def dc_removal(df: DataFrame, pole: float = 0.995) -> DataFrame:
    """(doc_id, filtered): DC-blocked token values, per-doc zero
    initial state."""

    def make(max_len: int):
        return lambda x: kernels.dc_removal_apply(x, pole)

    return _apply_per_doc(df, make)


_SAMPLE_RATE = 64
_CENTER_FREQ = 8.0
_Q = 1.0


def bandpass(df: DataFrame) -> DataFrame:
    """(doc_id, filtered): bandpass-biquad-filtered token values.
    Defaults pick a mid-band center on the token-tick clock analog."""
    coeffs = kernels.bandpass_coefficients(_SAMPLE_RATE, _CENTER_FREQ, _Q)

    def make(max_len: int):
        g = kernels.iir2_impulse(coeffs[3], coeffs[4], max(max_len, 2))
        return lambda x: kernels.biquad_apply(x, coeffs, g)

    return _apply_per_doc(df, make)
