"""Frame expansion: count formula, window contents."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import golden
from sonar_spark import datagen, kernels
from sonar_spark.config import FrameConfig
from sonar_spark.operators.frames import expand_frames


@given(
    n=st.integers(min_value=0, max_value=500),
    w=st.integers(min_value=1, max_value=64),
    h=st.integers(min_value=1, max_value=64),
)
def test_frame_count_formula(n, w, h):
    got = kernels.n_frames(n, w, h)
    want = len(golden.frame_slices(list(range(n)), w, h))
    assert got == want


@given(
    n=st.integers(min_value=0, max_value=300),
    w=st.integers(min_value=1, max_value=48),
    h=st.integers(min_value=1, max_value=48),
)
@settings(max_examples=50)
def test_frame_view_matches_slices(n, w, h):
    """The kernel's frame view (sliding_window_view rows at
    flat_frame_starts) equals the loop slices."""
    x = np.arange(n, dtype=np.float64)
    starts, _ = kernels.flat_frame_starts(np.array([n]), w, h)
    want = golden.frame_slices(x, w, h)
    assert len(starts) == len(want)
    if want:
        view = np.lib.stride_tricks.sliding_window_view(x, w)[starts]
        np.testing.assert_array_equal(view, np.asarray(want))


def test_expand_frames_matches_oracle(spark):
    cfg = FrameConfig(window=64, hop=16)
    df = datagen.token_table(spark, n_docs=8)
    rows = {r["doc_id"]: r for r in df.collect()}
    got = expand_frames(df, cfg).collect()
    # group by doc
    by_doc: dict[str, list] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, src in rows.items():
        want = golden.frame_slices(src["tokens"], cfg.window, cfg.hop)
        have = sorted(by_doc.get(doc_id, []), key=lambda r: r["frame_idx"])
        assert len(have) == len(want), doc_id
        for fr, w in zip(have, want):
            assert fr["frame_ts"] == fr["frame_idx"] * cfg.hop
            assert [float(t) for t in fr["window"]] == w


def test_edge_docs_present(spark):
    """Docs 0/1/2 hit the frame-count boundaries (FIXTURES.md #1)."""
    cfg = FrameConfig(window=64, hop=16)
    df = datagen.token_table(spark, n_docs=4)
    nf = {
        r["doc_id"]: r["n"]
        for r in expand_frames(df, cfg)
        .groupBy("doc_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert "doc00000000" not in nf  # n_tok=32 < W
    assert nf["doc00000001"] == 1  # n_tok == W
    assert nf["doc00000002"] == 1  # n_tok == W+H-1
