"""Correctness checks, run outside the timed region.

Each check returns a list of problems; an empty list means the output
is correct.  The references here never call the code path being timed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .gen import HOP, WINDOW, jaccard

# a planted family is one base doc plus at most two copies; a component
# far larger than that cannot come from this corpus
MAX_COMPONENT = 64
# relative tolerance of sum_rms: the pipeline rounds it to 3 dp and sums
# in another order
SUM_RMS_REL = 1e-9


def featurize_reference(
    lens: np.ndarray,
    flat: np.ndarray,
    doc_entity: np.ndarray,
    cat_entity: np.ndarray,
    cat_ts: np.ndarray,
) -> dict:
    """n_frames, n_matched and sum_rms of the featurize -> as-of ->
    aggregate pipeline, recomputed with integer prefix sums.

    A frame f of a doc has ts = f * HOP; it is matched when its
    entity has a catalog row with ref_ts <= ts."""
    lens = np.asarray(lens, dtype=np.int64)
    nf = np.where(lens >= WINDOW, (lens - WINDOW) // HOP + 1, 0)
    sq = np.concatenate(([0], np.cumsum(flat.astype(np.int64) ** 2)))
    doc_off = np.concatenate(([0], np.cumsum(lens)[:-1]))
    frame_doc = np.repeat(np.arange(len(lens)), nf)
    first = np.concatenate(([0], np.cumsum(nf)[:-1]))
    local = np.arange(int(nf.sum())) - np.repeat(first, nf)
    starts = doc_off[frame_doc] + local * HOP
    energy = (sq[starts + WINDOW] - sq[starts]).astype(np.float64)
    min_ts = np.full(int(cat_entity.max()) + 1, np.iinfo(np.int64).max)
    np.minimum.at(min_ts, cat_entity, cat_ts)
    first_ts = min_ts[np.asarray(doc_entity)[frame_doc]]
    return {
        "n_frames": int(nf.sum()),
        "n_matched": int((local * HOP >= first_ts).sum()),
        "sum_rms": float(np.sqrt(energy / WINDOW).sum()),
    }


def check_featurize(row: dict, ref: dict) -> list[str]:
    """Frame count and match count exactly; the rms sum to SUM_RMS_REL
    plus the 3-dp rounding."""
    bad = []
    for k in ("n_frames", "n_matched"):
        if row[k] != ref[k]:
            bad.append(f"{k}={row[k]} expected {ref[k]}")
    if not abs(row["sum_rms"] - ref["sum_rms"]) <= SUM_RMS_REL * abs(ref["sum_rms"]) + 1e-3:
        bad.append(f"sum_rms={row['sum_rms']} expected {ref['sum_rms']}")
    return bad


def check_curation(
    dec: pd.DataFrame,
    words: dict[str, list[str]],
    pairs: list,
    jaccard_min: float,
    min_quality: float,
    min_tokens: int,
    chunk_ids: set[str] | None = None,
) -> list[str]:
    """The decision table against the corpus and its planted pairs:

    - one row per corpus doc;
    - every planted pair at or above ``jaccard_min`` shares a component;
    - each component is named by one of its members and is connected by
      pairs at or above ``jaccard_min`` (exact Jaccard, recomputed);
    - is_canonical and keep match the policy recomputed from the
      decision columns;
    - only kept docs are chunked."""
    bad = []
    ids = dec["doc_id"].astype(str)
    if ids.duplicated().any() or set(ids) != set(words):
        return [f"decision rows {len(dec)} do not cover the {len(words)} docs once"]
    comp = dict(zip(ids, dec["component"].astype(str)))
    for a, b, j in pairs:
        if j >= jaccard_min and comp[str(a)] != comp[str(b)]:
            bad.append(f"planted pair {a},{b} (J={j}) split")
    members: dict[str, list[str]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    for c, ms in members.items():
        if len(ms) == 1 and ms[0] == c:
            continue
        if c not in ms or len(ms) > MAX_COMPONENT:
            bad.append(f"component {c} of {len(ms)} docs is not named by a member")
            continue
        if not _connected(ms, words, jaccard_min):
            bad.append(f"component {c} is not connected by near-dup pairs")
    canon = ids == dec["component"].astype(str)
    if (dec["is_canonical"].astype(bool) != canon).any():
        bad.append("is_canonical differs from doc_id == component")
    keep = canon & (dec["quality"] >= min_quality) & (dec["n_tokens"] >= min_tokens)
    n_keep = int((dec["keep"].astype(bool) != keep).sum())
    if n_keep:
        bad.append(f"keep differs from the policy on {n_keep} docs")
    if chunk_ids is not None and not chunk_ids <= set(ids[keep]):
        bad.append("chunks exist for docs that are not kept")
    return bad


def _connected(ms: list[str], words: dict[str, list[str]], jmin: float) -> bool:
    seen, todo = {ms[0]}, [ms[0]]
    while todo:
        a = todo.pop()
        for b in ms:
            if b not in seen and jaccard(words[a], words[b]) >= jmin:
                seen.add(b)
                todo.append(b)
    return len(seen) == len(ms)


def check_oracle(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """A consumer query against its oracle_sql() result, under the
    strict comparison of tools/check_oracle.py."""
    from tools.check_oracle import normalize, strict_equal

    a, b = normalize(got), normalize(want)
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return [f"{name}: {len(a)} rows {list(a.columns)} vs {len(b)} rows {list(b.columns)}"]
    if not strict_equal(a, b)[0]:
        return [f"{name}: values differ from the oracle"]
    return []
