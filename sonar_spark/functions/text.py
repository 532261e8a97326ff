"""Text-analysis column functions for the training-data pipeline
surface: tokenization, token counting, quality scoring, language-ID
heuristic, document fingerprinting. All JVM-side expressions.

These adapt the documents table (doc_id, text, lang, source, n_chars)
into the engine's input_hint token shape: tokens are derived
deterministically from the text so Spark and any SQL oracle agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokenize_ws(text: Column) -> Column:
    """Whitespace tokens (array<string>)."""
    return F.split(F.trim(text), r"\s+")


def token_lengths(text: Column) -> Column:
    """array<int> of per-token character lengths — a deterministic
    numeric token stream derivable identically in any SQL engine
    (used as the cross-engine token value for frame features)."""
    return F.transform(tokenize_ws(text), F.length)


def token_ids(text: Column) -> Column:
    """Deterministic int32 token ids via xxhash64(token) % 50,257 (the
    GPT-2 vocabulary size) — the token table adapter (input_hint
    shape) for real text."""
    return F.transform(
        tokenize_ws(text), lambda t: F.pmod(F.xxhash64(t), F.lit(50_257)).cast("int")
    )


def n_tokens(text: Column) -> Column:
    return F.size(tokenize_ws(text))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: blend of mean word length
    band, alpha ratio and terminal punctuation (the pipeline-side
    analog of the reference's rule-score content classifier,
    fingerprint/content_detector.go:156-221)."""
    n_tok = n_tokens(text)
    mean_wl = F.length(F.trim(text)).cast("double") / F.greatest(n_tok, F.lit(1))
    alpha_ratio = (
        F.length(F.regexp_replace(text, r"[^A-Za-z]", "")).cast("double")
        / F.greatest(F.length(text), F.lit(1))
    )
    ends_sentence = F.when(text.rlike(r"[.!?]\s*$"), 1.0).otherwise(0.0)
    wl_band = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), 1.0).otherwise(0.5)
    return (0.4 * alpha_ratio + 0.4 * wl_band + 0.2 * ends_sentence).alias(
        "quality_score"
    )


# GPT-2-style pre-tokenizer pattern (BPE-ish): contractions, letter
# runs, digit runs, punctuation runs — each optionally preceded by a
# space (public pattern shape; Java/RE2-compatible subset).
# Whitespace class is spelled out ([ \t\n\r\f\x0B]) so the Spark and
# DuckDB oracles agree on every input — \s shorthand differs subtly
# across engines.
BPE_ISH_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\r\f\x0BA-Za-z0-9]+"
)


def tokenize_bpe_ish(text: Column) -> Column:
    """BPE-ish regex pre-tokenization (array<string>) — the token
    counting unit a BPE tokenizer would see before merges."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)


def n_tokens_bpe_ish(text: Column) -> Column:
    return F.size(tokenize_bpe_ish(text))


# distinctive-marker profiles for the n-gram language-ID heuristic;
# scores are occurrence counts of language-distinctive character
# sequences (tiny stand-in for a trigram profile table — same shape,
# SQL-replicable via length-difference counting)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", " and ", " of "),
    "de": (" der ", " und ", "sch"),
    "fr": (" le ", " et ", " des "),
    "es": (" el ", " que ", "ción"),
}


def _count_occurrences(text: Column, marker: str) -> Column:
    return (
        F.length(text) - F.length(F.replace(text, F.lit(marker), F.lit("")))
    ) / len(marker)


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-occurrence scores, normalized by text
    length (n-gram-profile language-ID heuristic)."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            c = _count_occurrences(F.lower(text), m)
            s = c if s is None else s + c
        out[lang] = s * 1000.0 / F.greatest(F.length(text), F.lit(1))
    return out


def detect_language(text: Column) -> Column:
    """argmax over lang_scores with deterministic tie-break (language
    name order); returns the language code column."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = None
    for lang in sorted(scores):
        cond = scores[lang] == best
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise("und")


def doc_fingerprint(text: Column) -> Column:
    """64-bit content fingerprint (xxhash64 of normalized text) —
    exact-dup key (the sha256-derived fingerprint ID role,
    reference fingerprint/utils.go:21-28)."""
    return F.xxhash64(F.lower(F.regexp_replace(text, r"\s+", " ")))


def to_token_table(docs: DataFrame) -> DataFrame:
    """documents(doc_id,text,source,...) -> input_hint token table
    (doc_id string, tokens array<int>, n_tok int, source string)."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        token_ids(F.col("text")).alias("tokens"),
        n_tokens(F.col("text")).cast("int").alias("n_tok"),
        F.col("source"),
    )


def to_token_length_table(docs: DataFrame) -> DataFrame:
    """Like to_token_table but token values are per-token character
    lengths — reproducible in DuckDB SQL for oracle checks."""
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        token_lengths(F.col("text")).alias("tokens"),
        n_tokens(F.col("text")).cast("int").alias("n_tok"),
        F.col("source"),
    )


_K = 4


def ngrams_ws(words: Column) -> Column:
    """All _K-token shingle strings of a word array, in order,
    duplicates kept (positions 1..max(n-_K+1, 1); shorter docs yield
    one clamped shingle) — the one string-shingle rule: CurationJob's
    verify sets and the decontaminate shingles (with array_distinct)
    use it, the DuckDB oracles replay it, and
    fingerprint.shingle_hash_table hashes the same shingles."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (_K - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, _K)),
    )


def repetition_profile(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics — the Gopher-style repetition
    filters (Rae et al. 2021, "Scaling Language Models", table A1)
    a pretraining curation pipeline runs next to quality/lang-ID:

    - top_word_frac: occurrences of the most frequent token / n
      (catches 'the the the ...' degenerate pages),
    - dup_3gram_frac / dup_5gram_frac: 1 - distinct/total k-gram
      occurrences (catches looped boilerplate),
    - flagged: policy verdict on the ROUNDED metrics (the quantized
      interface, so the threshold comparison is engine-portable).

    Physical plan (r6): ONE per-row Arrow kernel riding the corpus
    scan — zero shuffles (guide §4.2).  The former plan built the
    k-gram arrays with interpreted Catalyst lambdas and shuffled an
    exploded (doc, token) stream through a two-level aggregate for
    the top word (8.5 s at sf1.0); every metric is per-document, so
    the kernel computes all of them in one pass (sub-second).  The
    quantized 6dp boundaries go through kernels.spark_round (exact
    Catalyst HALF_UP semantics); bit-equality against the retained
    expression form is certified by tests/test_text_kernels.py."""
    top_word_max = 0.2
    dup_3gram_max = 0.3
    from collections import Counter

    import numpy as np

    from ..kernels import list_flat, spark_round
    from ..session import arrow_batch, arrow_schema

    id_type = docs.schema["doc_id"].dataType.simpleString()
    schema = (
        f"doc_id {id_type}, n_tokens long, top_word_frac double,"
        " dup_3gram_frac double, dup_5gram_frac double,"
        " flagged boolean"
    )
    out = arrow_schema(schema)

    def gen(batches):
        for batch in batches:
            flat, lens = list_flat(batch.column(1))
            ends = np.cumsum(lens).tolist()
            ids: list = []
            ns: list = []
            tops: list = []
            d3: list = []
            d5: list = []
            for did, n, e in zip(
                batch.column(0).to_pylist(), lens.tolist(), ends
            ):
                ws = flat[e - n : e].tolist()
                if n == 0:
                    # the expression form's inner join with the
                    # exploded top-word table drops zero-token docs;
                    # match it (split(trim(text)) never yields an
                    # empty array, so this is a contract edge only)
                    continue
                ids.append(did)
                ns.append(n)
                tops.append(max(Counter(ws).values()))
                for k, acc in ((3, d3), (5, d5)):
                    m = max(n - (k - 1), 1)
                    grams = [
                        " ".join(ws[i:i + k]) for i in range(m)
                    ]
                    # int/int -> double division, then 1.0 - x: the
                    # exact Catalyst op order
                    acc.append(1.0 - len(set(grams)) / m)
            if not ids:
                continue
            ns_a = np.asarray(ns, dtype=np.int64)
            twf = spark_round(
                np.asarray(tops, dtype=np.float64) / ns_a, 6
            )
            d3_a = spark_round(np.asarray(d3), 6)
            d5_a = spark_round(np.asarray(d5), 6)
            yield arrow_batch(
                out,
                [ids, ns_a, twf, d3_a, d5_a,
                 (twf > top_word_max) | (d3_a > dup_3gram_max)],
            )

    return docs.select("doc_id", "words").mapInArrow(gen, schema)


# --- PII detection / redaction -------------------------------------

PII_EMAIL = r"[A-Za-z0-9._]+@[A-Za-z0-9.]+"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b555-\d{4}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII detection + redaction — the compliance pass every
    training-data pipeline runs before tokenization (C4 and
    RedPajama both regex-scrub; see also the BigCode PII pipeline):
    count and mask emails, IPv4 addresses and phone numbers.

    Patterns deliberately stay inside the common RE2/Java regex
    subset (character classes, bounded repeats, \\b word boundaries —
    no lookaround) so one pattern table serves Spark, DuckDB and any
    RE2-based scrubber bit-identically.

    Redaction order is fixed (email -> ip -> phone) on a single
    column chain, so the whole op is per-row expressions riding the
    corpus scan: zero shuffles at any scale, and the masked output
    column pushes straight to the sink.  Counts come from the
    PRE-redaction text.
    """
    t = F.col("payload")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("payload", F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("payload", F.lit(PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.size(F.regexp_extract_all("payload", F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        (F.length(t) - F.length(red)).cast("long").alias("chars_delta"),
        F.md5(red).alias("redacted_fp"),
    )
