"""Seeded input generators for the benchmark.

Everything here is plain numpy + pyarrow, so the program under test
receives only the generated files and none of its own code runs while
they are made.  The same (seed, size) always gives the same bytes, and
each input is cached on disk under a directory named by both.

- ``token_table`` / ``catalog``: the BASELINE ``input_hint`` token table
  (doc_id string, tokens array<int32>, n_tok int32, source string) with
  the FIXTURES.md #1 edge docs, and the as-of reference catalog
  (entity long, ref_ts long, ref_version int, ref_features
  array<double>).
- ``documents``: a corpus in the testdata ``documents`` schema
  (doc_id int64, text, lang, source, n_chars int64) with planted
  near-duplicate copies; every planted (base, copy) pair is recorded
  with its exact 4-word-shingle Jaccard.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 50_257
WINDOW, HOP = 64, 16
N_ENTITIES, ROWS_PER_ENTITY, FEAT_DIM = 64, 128, 13
MAX_TS = 8192
TOKEN_SOURCES = ("web", "books", "code", "news")
TOKEN_FILES = 8

# the testdata documents vocabulary (31 words) ...
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch dup"
).split()
# ... plus per-language marker words, so detect_language sees every
# label, and a few tokens that move quality_score (digits, 1-2 letters)
LANG_WORDS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "schema"),
    "fr": ("le", "et", "des"),
    "es": ("el", "que", "seleccion"),
    "zh": (),
}
NOISE_WORDS = ("x86", "2024", "v2", "io", "k8s", "id")
LANGS = tuple(LANG_WORDS)
DOC_SOURCES = 20
DUP_SHARE = 0.12  # share of base docs that get planted copies


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


CACHE_ENTRIES = 6  # the most recently used inputs kept on disk


def _cached(final: str, write) -> None:
    """Make ``final`` by calling ``write(tmp_dir)`` and renaming, unless
    it exists; then evict all but the CACHE_ENTRIES most recently used
    entries of its cache directory."""
    if os.path.isdir(final):
        os.utime(final)
    else:
        tmp = f"{final}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        write(tmp)
        if os.path.isdir(final):  # another run made it first
            shutil.rmtree(tmp)
        else:
            os.rename(tmp, final)
    cache = os.path.dirname(final)
    entries = [os.path.join(cache, d) for d in os.listdir(cache) if ".tmp-" not in d]
    entries.sort(key=os.path.getmtime)
    for old in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------- tokens


def token_lengths(seed: int, n_docs: int) -> np.ndarray:
    """Per-doc token counts: log-normal-ish, clipped to [32, 8192],
    with the FIXTURES.md #1 edge docs first: n < W, n == W and
    n == W + H - 1 (the frame-count boundary)."""
    rng = _rng(seed, 1)
    n = np.clip(np.exp(rng.normal(5.5, 0.8, size=n_docs)), 32, 8192)
    n = n.astype(np.int32)
    edges = np.array([32, WINDOW, WINDOW + HOP - 1], dtype=np.int32)
    k = min(n_docs, len(edges))
    n[:k] = edges[:k]
    return n


def token_arrays(seed: int, n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """(lens, flat int32 token values) of the seeded token table."""
    lens = token_lengths(seed, n_docs)
    flat = _rng(seed, 2).integers(0, VOCAB, size=int(lens.sum()), dtype=np.int32)
    return lens, flat


def _token_table(seed: int, n_docs: int) -> pa.Table:
    lens, flat = token_arrays(seed, n_docs)
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    ids = np.arange(n_docs)
    return pa.table(
        {
            "doc_id": pa.array([f"doc{i:08d}" for i in ids], pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array(
                [TOKEN_SOURCES[i % 4] for i in ids], pa.string()
            ),
        }
    )


def catalog_arrays(seed: int) -> dict[str, np.ndarray]:
    """Reference catalog: per entity, sorted irregular timestamps with
    a deliberate duplicate timestamp (tie-break) and a leading gap
    (frames before the first ref_ts have no match)."""
    rng = _rng(seed, 3)
    ent = np.repeat(np.arange(N_ENTITIES, dtype=np.int64), ROWS_PER_ENTITY)
    ts = np.sort(
        rng.integers(WINDOW, MAX_TS, size=(N_ENTITIES, ROWS_PER_ENTITY)), axis=1
    )
    ts[:, 1] = ts[:, 0]
    ver = np.tile(np.arange(ROWS_PER_ENTITY, dtype=np.int32), N_ENTITIES)
    feats = rng.standard_normal((len(ent), FEAT_DIM)).round(6)
    return {
        "entity": ent,
        "ref_ts": ts.ravel().astype(np.int64),
        "ref_version": ver,
        "ref_features": feats,
    }


def _catalog_table(seed: int) -> pa.Table:
    c = catalog_arrays(seed)
    n = len(c["entity"])
    offsets = pa.array(np.arange(n + 1, dtype=np.int32) * FEAT_DIM)
    return pa.table(
        {
            "entity": pa.array(c["entity"]),
            "ref_ts": pa.array(c["ref_ts"]),
            "ref_version": pa.array(c["ref_version"]),
            "ref_features": pa.ListArray.from_arrays(
                offsets, pa.array(c["ref_features"].ravel())
            ),
        }
    )


def tokens_inputs(cache: str, seed: int, n_docs: int) -> dict[str, str]:
    """Write (or reuse) the token table and catalog; returns their
    parquet directories.  The token table is split into TOKEN_FILES
    files so the scan is split-parallel without a repartition."""
    final = os.path.join(cache, f"tokens-s{seed}-n{n_docs}")

    def write(tmp: str) -> None:
        tab = _token_table(seed, n_docs)
        step = -(-n_docs // TOKEN_FILES)
        os.makedirs(os.path.join(tmp, "tokens"))
        for i in range(TOKEN_FILES):
            part = tab.slice(i * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(tmp, "tokens", f"part-{i:03d}.parquet"))
        os.makedirs(os.path.join(tmp, "catalog"))
        pq.write_table(_catalog_table(seed), os.path.join(tmp, "catalog", "part-000.parquet"))

    _cached(final, write)
    return {
        "tokens": os.path.join(final, "tokens"),
        "catalog": os.path.join(final, "catalog"),
    }


# ------------------------------------------------------------- documents


def shingles(words: list[str], k: int = 4) -> set[str]:
    """The curation verify unit: distinct space-joined k-word shingles,
    or the whole doc as one shingle when it is shorter than k."""
    if len(words) < k:
        return {" ".join(words)}
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: list[str], b: list[str]) -> float:
    """Exact shingle Jaccard, rounded to 6 dp as the engine rounds it."""
    sa, sb = shingles(a), shingles(b)
    return round(len(sa & sb) / len(sa | sb), 6)


def _doc_words(rng: np.random.Generator, lang: str) -> list[str]:
    n = int(rng.integers(3, 6)) if rng.random() < 0.03 else int(rng.integers(10, 101))
    pool = list(BASE_WORDS) + list(LANG_WORDS[lang]) * 3
    if rng.random() < 0.2:
        pool += list(NOISE_WORDS) * 4
    words = [pool[j] for j in rng.integers(0, len(pool), size=n)]
    if rng.random() < 0.4:
        words[-1] += "."
    return words


def _planted_copy(rng: np.random.Generator, words: list[str]) -> list[str]:
    """A near-duplicate of ``words``: drop a short tail, or substitute
    a few words in place (heavier edits land below the 0.8 threshold)."""
    out = list(words)
    if rng.random() < 0.5 and len(out) > 6:
        return out[: len(out) - int(rng.integers(1, 4))]
    for _ in range(int(rng.integers(1, 5))):
        i = int(rng.integers(0, len(out)))
        out[i] = BASE_WORDS[int(rng.integers(0, len(BASE_WORDS)))]
    return out


def documents_corpus(seed: int, n_base: int):
    """(table, pairs): the documents table — n_base base docs followed
    by their planted copies — and the planted pairs as
    [base_id, copy_id, jaccard]."""
    rng = _rng(seed, 4)
    texts: list[list[str]] = []
    langs: list[str] = []
    for _ in range(n_base):
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        langs.append(lang)
        texts.append(_doc_words(rng, lang))
    pairs = []
    for base in np.flatnonzero(rng.random(n_base) < DUP_SHARE):
        base = int(base)
        if len(texts[base]) < 8:
            continue
        for _ in range(int(rng.integers(1, 3))):
            copy = _planted_copy(rng, texts[base])
            pairs.append([base, len(texts), jaccard(texts[base], copy)])
            texts.append(copy)
            langs.append(langs[base])
    text = [" ".join(w) for w in texts]
    n = len(text)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % DOC_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    return table, pairs


def documents_inputs(cache: str, seed: int, n_base: int) -> dict[str, str]:
    """Write (or reuse) the documents corpus as ``<dir>/documents.parquet``
    (the testdata layout the entry queries read) plus ``pairs.json``."""
    final = os.path.join(cache, f"documents-s{seed}-n{n_base}")

    def write(tmp: str) -> None:
        table, pairs = documents_corpus(seed, n_base)
        pq.write_table(table, os.path.join(tmp, "documents.parquet"))
        with open(os.path.join(tmp, "pairs.json"), "w") as f:
            json.dump(pairs, f)

    _cached(final, write)
    return {
        "dir": final,
        "documents": os.path.join(final, "documents.parquet"),
        "pairs": os.path.join(final, "pairs.json"),
    }
