"""Relational BPE tokenizer training + application (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units")
— the tokens-axis op a pretraining pipeline runs between curation and
packing: learn byte-pair merges from the corpus, then tokenize with
them.  The reference engine has no tokenizer trainer; this adds one
Spark-first.

Shape: training operates on the AGGREGATED word-frequency table (one
corpus scan + groupBy), never the corpus — the classic trick that
makes BPE training corpus-size-independent.  Each merge round is
relational over that table: pair counts = lockstep-zip explode +
groupBy(sum(freq)); the winning pair = a 1-row min over
struct(-count, a, b) (max count, ties to the lexicographically
smallest pair — deterministic, unlike hash-map iteration order);
applying the merge = a per-word greedy left-to-right fold (pure
Catalyst `aggregate()`, tiny arrays).  The word table stays a
DataFrame throughout — at 100 TB it has millions of rows and would
NOT fit a driver dict, but each round here is a small shuffle + a
broadcast of one row, so the loop scales with the vocabulary, not
the corpus.  localCheckpoint per round bounds lineage (the connected-
components precedent).

Application back to documents is a broadcast join word ->
piece-count (the trained table is the tokenizer), one corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, freq) over the corpus — the only corpus-sized step."""
    return (
        docs.select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def _init_symbols(wc: DataFrame) -> DataFrame:
    return wc.select(
        "word",
        "freq",
        F.concat(
            F.regexp_extract_all(F.col("word"), F.lit("."), F.lit(0)),
            F.array(F.lit(END_OF_WORD)),
        ).alias("syms"),
    )


def _pair_counts(ws: DataFrame) -> DataFrame:
    n = F.size("syms")
    return (
        ws.select(
            "freq",
            F.slice("syms", 1, n - 1).alias("__l"),
            F.slice("syms", 2, n - 1).alias("__r"),
        )
        .select("freq", F.explode(F.arrays_zip("__l", "__r")).alias("__p"))
        .groupBy(
            F.col("__p.__l").alias("a"), F.col("__p.__r").alias("b")
        )
        .agg(F.sum("freq").cast("long").alias("c"))
    )


def _apply_merge(ws: DataFrame, best: DataFrame) -> DataFrame:
    """Greedy left-to-right single-pass merge of the winning pair in
    every word — the reference BPE behavior (overlapping occurrences
    like 'aaa' merge first-then-skip)."""
    n = F.size("syms")

    def step(st, i):
        fires = F.when(
            i < n,
            (F.element_at("syms", i) == F.col("a"))
            & (F.element_at("syms", (i + 1).cast("int")) == F.col("b")),
        ).otherwise(F.lit(False))
        take_merge = ~st["skip"] & fires
        return F.struct(
            take_merge.alias("skip"),
            F.when(st["skip"], st["acc"])
            .when(
                take_merge,
                F.concat(
                    st["acc"],
                    F.array(
                        F.concat(
                            F.element_at("syms", i),
                            F.element_at("syms", (i + 1).cast("int")),
                        )
                    ),
                ),
            )
            .otherwise(
                F.concat(st["acc"], F.array(F.element_at("syms", i)))
            )
            .alias("acc"),
        )

    init = F.struct(
        F.lit(False).alias("skip"),
        F.array().cast("array<string>").alias("acc"),
    )
    return ws.crossJoin(F.broadcast(best)).select(
        "word",
        "freq",
        F.aggregate(F.sequence(F.lit(1), n), init, step)["acc"].alias(
            "syms"
        ),
    )


def bpe_train(
    wc: DataFrame, *, n_merges: int = 8
) -> tuple[DataFrame, list]:
    """Run `n_merges` BPE rounds over the (word, freq) table.

    Returns (segmented word table, merge log).  The merge log (one
    1-row collect per round — bounded driver planning data, the
    k-means-codebook precedent) records (step, a, b, count).
    """
    ws = _init_symbols(wc).localCheckpoint(eager=True)
    merges = []
    for k in range(n_merges):
        pairs = _pair_counts(ws)
        best = (
            pairs.agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"),
                        F.col("a"),
                        F.col("b"),
                    )
                ).alias("m")
            )
            .select("m.a", "m.b", (-F.col("m.nc")).alias("c"))
        )
        merges.append((k,) + tuple(best.collect()[0]))
        ws = _apply_merge(ws, best).localCheckpoint(eager=True)
    return ws, merges


_N_MERGES = 8


def segmented_words(docs: DataFrame) -> DataFrame:
    """Train and return the per-word segmentation table:
    (word, freq, pieces, n_pieces) — the tokenizer artifact."""
    ws, _ = bpe_train(word_counts(docs), n_merges=_N_MERGES)
    return ws.select(
        "word",
        "freq",
        F.concat_ws(" ", "syms").alias("pieces"),
        F.size("syms").cast("long").alias("n_pieces"),
    )


def bpe_tokenize_stats(docs: DataFrame, seg: DataFrame) -> DataFrame:
    """Apply a trained segmentation to the corpus: per-doc BPE piece
    counts via one broadcast join on the word column."""
    dw = docs.select("doc_id", F.explode("words").alias("word"))
    j = dw.join(F.broadcast(seg.select("word", "n_pieces")), "word")
    return j.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum("n_pieces").cast("long").alias("n_pieces"),
        F.round(
            F.sum("n_pieces") / F.count("*"), 6
        ).alias("pieces_per_token"),
    )
