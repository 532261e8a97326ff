"""Sequence packing — the last step between a curated corpus and a
training run: place documents into fixed-capacity context windows
(e.g. 256 / 2048 / 8192 tokens) so batches waste no padding.  The
reference engine stops at curation; every real pretraining pipeline
(GPT-3 appendix B, T5, Llama) packs.

Packing is inherently sequential WITHIN a shard (each placement
depends on the running fill), so the scalable unit is the shard:
documents are packed per `shard_col` (source here) in deterministic
doc-id order with the NEXT-FIT rule, and shards pack independently —
the 100 TB plan is one groupBy(shard) whose per-group fold touches
only that shard's (id, length) pairs, never the text.  Shard sizes
are bounded by construction upstream (a corpus is sharded long
before packing), so the per-group state stays small; the fold is a
pure Catalyst `aggregate()` — no UDF, no driver loop.

Next-fit (not first-fit-decreasing) is the rule streaming packers
actually use: it preserves document order (curriculum / dedup
locality) and needs O(1) state.  A document longer than the capacity
gets a window of its own with `truncated = true` and closes that
window (fill pinned to capacity), which is how truncating packers
behave.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_CAPACITY = 96


def pack_sequences(docs: DataFrame) -> DataFrame:
    """Pack (id, token-length) rows into fixed-size windows per shard.

    Output one row per document: its shard, assigned window id
    (0-based, per shard), offset inside the window, and the truncated
    flag.  Deterministic: docs are folded in ascending `doc_id` order
    within each shard.

    r6: the per-shard fold runs in an applyInArrow kernel — the
    Catalyst aggregate() built the output array with a concat per
    element, i.e. O(shard^2) struct copies per shard (a genuine
    scale-killer: quadratic in shard size, measured ~3 s at sf1.0's
    12.5k-doc shards); the kernel is the same next-fit recurrence as
    a linear Python loop over (id, length) pairs only.  Bit-equality
    vs the retained fold form: tests/test_curation.py::
    test_pack_sequences_kernel_equals_fold.
    """
    import numpy as np
    import pyarrow as pa

    from ..session import arrow_batch, arrow_schema

    cap_i = int(_CAPACITY)
    shard_type = docs.schema["source"].dataType.simpleString()
    id_type = docs.schema["doc_id"].dataType.simpleString()
    schema = (
        f"doc_id {id_type}, source {shard_type}, "
        "window_id long, window_off long, truncated boolean"
    )
    out = arrow_schema(schema)

    def pack_one(t: pa.Table) -> pa.Table:
        # (id, n) sort matches sort_array's struct ordering in the
        # retained fold form (ids are unique in practice; the length
        # tie-break keeps the two forms identical if they ever are
        # not); Arrow's sort is stable
        t = t.sort_by([("doc_id", "ascending"), ("n_tok", "ascending")])
        ids = t.column("doc_id").to_numpy()
        ns = t.column("n_tok").to_numpy()
        bins = np.empty(len(ids), dtype=np.int64)
        offs = np.empty(len(ids), dtype=np.int64)
        truncs = np.empty(len(ids), dtype=bool)
        b = fill = 0
        for j in range(len(ids)):
            n = int(ns[j])
            if fill > 0 and fill + n > cap_i:
                b += 1
                off = 0
            else:
                off = fill
            trunc = n > cap_i
            fill = cap_i if trunc else off + n
            bins[j] = b
            offs[j] = off
            truncs[j] = trunc
        return pa.Table.from_batches([
            arrow_batch(
                out,
                [ids, t.column("source").to_numpy(), bins, offs, truncs],
            )
        ])

    return (
        docs.select("source", "doc_id", "n_tok")
        .groupBy("source")
        .applyInArrow(pack_one, schema)
    )


def chunk_documents(
    docs: DataFrame,
    *,
    window: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token-window chunking — the other half of the
    context-window preprocessing step (pack short docs, CHUNK long
    ones): split each document into windows of ``window`` tokens
    every ``stride`` tokens (overlap = window - stride), exactly the
    sliding chunker long-context pipelines run before packing.

    Chunk starts are 0, stride, 2*stride, ... while start < n_tokens,
    so the tail is always covered (a final short chunk rather than a
    dropped one).  Output per chunk: chunk_id, start, chunk_len and
    the md5 of the space-joined piece (the content fingerprint a
    chunk-level dedup keys on).  Pure Catalyst: sequence + posexplode
    + slice — one scan, zero shuffles, no floats anywhere, so the
    result is trivially engine-exact.
    """
    words = F.col("words")
    starts = F.sequence(
        F.lit(0), F.size(words) - 1, F.lit(stride)
    )
    ch = docs.where(F.size(words) > 0).select(
        "doc_id",
        words.alias("__w"),
        F.posexplode(starts).alias("chunk_id", "start"),
    )
    piece = F.slice(F.col("__w"), F.col("start") + 1, window)
    return ch.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start"),
        F.size(piece).cast("long").alias("chunk_len"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
    )


_WINDOW = 8
_STRIDE = 8


def chunk_dedup(docs: DataFrame) -> DataFrame:
    """Sub-document (chunk-level) exact dedup — the paragraph-dedup
    pass web pipelines (RefinedWeb, CCNet) run AFTER document-level
    dedup: boilerplate repeats across documents that are not
    themselves duplicates.  Non-overlapping chunks (_STRIDE = _WINDOW)
    are fingerprinted with chunk_documents' md5, a chunk
    is DUPLICATED if its fingerprint appears in more than one
    document (or more than once in the same document), and each doc
    reports its duplicated-chunk fraction — the drop/trim signal.

    Scale shape: one corpus scan -> chunk rows -> ONE exchange on the
    fingerprint key (a window count — no join, no broadcast of a
    corpus-sized table) -> one per-doc aggregate.  No pair stage at
    all: duplication is a group count, never a join of documents.

    Output per doc: n_chunks, n_dup_chunks, dup_chunk_frac (6dp) —
    order-free (counts + one long/long division).
    """
    ch = chunk_documents(
        docs,
        window=_WINDOW,
        stride=_STRIDE,
    )
    # "more than one doc OR more than once in one doc" == total
    # occurrence count > 1, so one windowed count suffices
    from pyspark.sql import Window

    wf = Window.partitionBy("chunk_md5")
    marked = ch.select(
        "doc_id",
        (F.count("*").over(wf) > 1).cast("long").alias("__dup"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("__dup").cast("long").alias("n_dup_chunks"),
        F.round(F.sum("__dup") / F.count("*"), 6).alias(
            "dup_chunk_frac"
        ),
    )
