"""Buffer primitives (reference algorithms/common/buffers.go) as
Spark relational operators — the SURVEY §2.2 'buffers' row made
literal instead of only "subsumed by window state":

- CircularBuffer / SlidingWindow: the carry-over buffer semantics ARE
  the stateful streaming featurizer (streaming/stateful.py
  stream_frame_features holds exactly the unframed tail per doc); no
  separate operator needed.
- DelayLine (buffers.go:181-230): out[i] = in[i - delay] with a
  zero-filled initial buffer — literally `lag(col, delay, 0.0)`; the
  fractional-delay variant linearly interpolates between the two
  bracketing taps.
- OverlapAddBuffer (buffers.go:247-291): AddFrame accumulates each
  windowed frame into a ring and emits hop-size output chunks.  The
  emitted stream has the closed form
      out[p] = sum over frames f of frame_f[p - f*H]
               for 0 <= p - f*H < W, p < n_frames*H
  (a frame added later never reaches an already-emitted chunk), so
  the whole stateful loop is one explode + groupBy with an
  order-pinned float fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_DELAY = 3


def delay_line(df: DataFrame) -> DataFrame:
    """Integer delay line (buffers.go:189-204 Process): out[i] =
    in[i - delay], 0.0 while the zero-initialized buffer covers the
    tap.  Requires delay >= 1: the Go's delay-0 call reads the slot
    about to be overwritten (i.e. in[i - size], the ring's oldest
    sample) — a documented quirk this relational form excludes."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return df.withColumn("delayed", F.lag("v", _DELAY, 0.0).over(w))


_FRACTIONAL_DELAY = 2.5


def delay_line_interpolated(df: DataFrame) -> DataFrame:
    """Fractional delay line (buffers.go:206-230
    ProcessInterpolated): taps at floor(delay) and floor(delay)+1
    samples ago, output = s1 + frac * (s2 - s1), zero-filled initial
    buffer (lag default 0.0)."""
    int_d = int(_FRACTIONAL_DELAY)
    frac = _FRACTIONAL_DELAY - int_d
    w = Window.partitionBy("doc_id").orderBy("pos")
    s1 = F.lag("v", int_d, 0.0).over(w)
    s2 = F.lag("v", int_d + 1, 0.0).over(w)
    return df.withColumn("delayed_interp", s1 + F.lit(frac) * (s2 - s1))


_HOP = 4


def overlap_add(frames: DataFrame) -> DataFrame:
    """Overlap-add reconstruction (buffers.go:260-291 AddFrame loop)
    in closed form: explode every frame to (global position, value),
    keep positions below n_frames*hop (samples still inside the ring
    after the last AddFrame are never emitted — the Go's remainder),
    and sum contributions per position with a frame-order-pinned fold
    (Go adds frames in arrival order; an unordered float sum could
    differ in the last ulp).

    frames: one row per (key, frame_idx) with the WINDOWED frame as
    an array column.  Output: (key, pos, value)."""
    nf = frames.groupBy("doc_id").agg(
        F.count("*").alias("__nf")
    )
    ex = frames.select(
        "doc_id",
        "frame_idx",
        F.posexplode("window").alias("__j", "__v"),
    ).withColumn(
        "__p", F.col("frame_idx") * _HOP + F.col("__j")
    )
    summed = (
        ex.groupBy("doc_id", "__p")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("frame_idx", F.col("__v")))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["__v"],
            ).alias("value")
        )
    )
    return (
        summed.join(nf, "doc_id")
        .where(F.col("__p") < F.col("__nf") * _HOP)
        .select("doc_id", F.col("__p").alias("pos"), "value")
    )
