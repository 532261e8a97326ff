"""MinHash/SimHash/LSH: estimator accuracy vs exact Jaccard (oracle),
planted near-duplicates recovered end-to-end, determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import golden
from sonar_spark import kernels
from sonar_spark.config import MinHashConfig
from sonar_spark.functions.text import ngrams_ws
from sonar_spark.operators.fingerprint import (
    minhash_fingerprints,
    near_dup_pairs,
    simhash_near_duplicates,
)

CFG = MinHashConfig(num_hashes=128, bands=32)


def _shingle_set(tokens, k=4):
    t = list(tokens)
    if len(t) < k:
        t = t + [-1] * (k - len(t))
    out = set()
    B = 1_000_003
    for i in range(len(t) - k + 1):
        h = 0
        for j in range(k):
            h = (h * B + int(t[i + j])) % (1 << 63)  # py ints; engine wraps int64
        out.add(h)
    return out


def test_minhash_estimates_jaccard():
    """MinHash signature agreement ~ exact shingle Jaccard within
    binomial-error bounds (distance.go:198-216 estimand)."""
    rng = np.random.default_rng(3)
    base = rng.integers(0, 1000, size=400).astype(np.int64)
    for mut_rate in (0.0, 0.05, 0.2, 0.6):
        other = base.copy()
        idx = rng.random(len(other)) < mut_rate
        other[idx] = rng.integers(1000, 2000, size=int(idx.sum()))
        flat = np.concatenate([base, other])
        lens = np.array([len(base), len(other)])
        sig = kernels.minhash_batch(flat, lens, 4, 256, 42)
        est = (sig[0] == sig[1]).mean()
        sh_a, _ = kernels.shingle_hashes_flat(base, np.array([len(base)]), 4)
        sh_b, _ = kernels.shingle_hashes_flat(other, np.array([len(other)]), 4)
        exact = golden.jaccard_exact(sh_a.tolist(), sh_b.tolist())
        # 256 hashes: std err = sqrt(j(1-j)/256) <= 0.032; 4 sigma
        assert abs(est - exact) < 0.13, (mut_rate, est, exact)


def test_minhash_identical_and_disjoint():
    a = np.arange(100, dtype=np.int64)
    b = np.arange(1000, 1100, dtype=np.int64)
    sig = kernels.minhash_batch(
        np.concatenate([a, a, b]), np.array([100, 100, 100]), 4, 64, 42
    )
    assert (sig[0] == sig[1]).all()  # identical docs -> identical sigs
    assert (sig[0] == sig[2]).mean() < 0.2  # disjoint -> near-zero agreement


def test_simhash_close_for_near_dup():
    rng = np.random.default_rng(5)
    base = rng.integers(0, 1000, size=500).astype(np.int64)
    near = base.copy()
    near[::50] = 7777  # 2% mutation
    far = rng.integers(0, 1000, size=500).astype(np.int64)
    sim = kernels.simhash_batch(
        np.concatenate([base, near, far]), np.array([500, 500, 500]), 4
    )
    ham_near = bin(int(sim[0]) ^ int(sim[1])).count("1")
    ham_far = bin(int(sim[0]) ^ int(sim[2])).count("1")
    assert ham_near < ham_far
    assert ham_near <= 10


def _planted_docs(spark, n=40):
    """n base docs + near-dup copies of docs 0..4 (ids 1000+i)."""
    rng = np.random.default_rng(9)
    rows = []
    for i in range(n):
        toks = rng.integers(0, 5000, size=200, dtype=np.int64)
        rows.append((f"d{i:04d}", [int(x) for x in toks], 200, "web"))
        if i < 5:
            dup = toks.copy()
            dup[::40] = 4999  # 2.5% mutation -> jaccard ~0.85
            rows.append((f"d{1000+i:04d}", [int(x) for x in dup], 200, "web"))
    return spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )


def test_lsh_recovers_planted_neardups(spark):
    """The curation chain (near_dup_pairs: MinHash -> banded LSH ->
    exact Jaccard over a 4-gram shingle table) finds every planted
    pair and nothing else."""
    df = _planted_docs(spark)
    words = F.transform("tokens", lambda t: t.cast("string"))
    sh = df.select("doc_id", ngrams_ws(words).alias("sh"))
    pairs = near_dup_pairs(df, sh, CFG, threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    want = {(f"d{i:04d}", f"d{1000+i:04d}") for i in range(5)}
    assert want <= got, got
    # no false positives among unrelated docs at this threshold
    assert got == want, got


def test_simhash_near_duplicates_spark(spark):
    """Recall guarantee: every pair within hamming<=3 shares one of 4
    identical 16-bit blocks (pigeonhole), so block-LSH must find it."""
    df = _planted_docs(spark)
    sigs = minhash_fingerprints(df, CFG)
    sims = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
    want = set()
    for i in range(5):
        a, b = f"d{i:04d}", f"d{1000+i:04d}"
        if bin(sims[a] ^ sims[b]).count("1") <= 3:
            want.add((a, b))
    pairs = simhash_near_duplicates(sigs).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert want <= got
    for r in pairs:  # precision of the hamming column itself
        assert bin(sims[r["doc_a"]] ^ sims[r["doc_b"]]).count("1") == r["hamming"]


def test_fingerprints_deterministic(spark):
    df = _planted_docs(spark)
    a = {r["doc_id"]: (list(r["minhash"]), r["simhash"])
         for r in minhash_fingerprints(df.repartition(1), CFG).collect()}
    b = {r["doc_id"]: (list(r["minhash"]), r["simhash"])
         for r in minhash_fingerprints(df.repartition(5), CFG).collect()}
    assert a == b


def test_simhash_pigeonhole_completeness(spark):
    """Candidate generation by 16-bit blocks must surface EVERY pair
    within hamming <= 3 (pigeonhole: 3 flipped bits cannot touch all
    4 blocks) — compared against brute-force all-pairs hamming."""
    import itertools

    import numpy as np
    from pyspark.sql import functions as F

    from sonar_spark.operators.fingerprint import simhash_near_duplicates

    rng = np.random.default_rng(41)
    base = int(rng.integers(0, 1 << 62))
    sigs = []
    # planted cluster: base signature with 0..3 random bit flips, plus
    # far-away random signatures
    for i in range(8):
        s = base
        for b in rng.choice(62, size=i % 4, replace=False):
            s ^= 1 << int(b)
        sigs.append((f"d{i:02d}", int(s)))
    for i in range(8, 20):
        sigs.append((f"d{i:02d}", int(rng.integers(0, 1 << 62))))
    df = spark.createDataFrame(sigs, "doc_id string, simhash long")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_duplicates(df).collect()
    }
    want = set()
    for (ida, sa), (idb, sb) in itertools.combinations(sigs, 2):
        if bin(sa ^ sb).count("1") <= 3:
            want.add(tuple(sorted((ida, idb))))
    assert got == want and len(want) >= 10


def _union_find_labels(edges):
    """Scalar union-find reference: {node: the min node of its
    component} over every endpoint of ``edges``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id of the component
    comp_min = {}
    for x in list(parent):
        r = find(x)
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[find(x)] for x in parent}


# connected_components labels small edge tables on the driver and
# larger ones in distributed rounds; a ceiling of 0 forces the rounds
_PATHS = ("driver", "rounds")


def _force_path(monkeypatch, path):
    from sonar_spark.operators import fingerprint

    monkeypatch.undo()
    if path == "rounds":
        monkeypatch.setattr(fingerprint, "_CEIL", 0)


def test_connected_components_chain_and_stars(spark, monkeypatch):
    """Pointer-jumping min-label propagation, on both paths: a 12-node
    path graph (worst-case diameter), a star, a triangle, and
    singletons-by-absence all collapse to min-id components; with
    _MAX_ITER = 1 the path graph cannot converge and must raise."""
    from sonar_spark.operators import fingerprint
    from sonar_spark.operators.fingerprint import connected_components

    path = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)]
    edges = (
        # path n00-n01-...-n11 (diameter 11)
        path
        # star centered high, min at a leaf
        + [("s9", "s5"), ("s9", "s3"), ("s9", "s7")]
        # triangle with duplicate + reversed edges
        + [("t2", "t1"), ("t1", "t0"), ("t0", "t2"), ("t1", "t2")]
    )
    df = spark.createDataFrame(edges, "doc_a string, doc_b string")
    path_df = spark.createDataFrame(path, "doc_a string, doc_b string")
    for p in _PATHS:
        _force_path(monkeypatch, p)
        got = {
            r["node"]: r["comp"]
            for r in connected_components(df).collect()
        }
        for i in range(12):
            assert got[f"n{i:02d}"] == "n00", p
        for s in ("s3", "s5", "s7", "s9"):
            assert got[s] == "s3", p
        for t in ("t0", "t1", "t2"):
            assert got[t] == "t0", p
        assert len(got) == 12 + 4 + 3, p
        monkeypatch.setattr(fingerprint, "_MAX_ITER", 1)
        with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
            connected_components(path_df)


def test_connected_components_random_graphs(spark, monkeypatch):
    """Random sparse graphs vs a scalar union-find, on both paths:
    component labels must equal the min reachable node id everywhere
    (pointer jumping converges within the iteration cap on every
    topology).  The last graph has long ids (dbscan passes its
    numeric id column): the labels must agree and ``comp`` must keep
    the input type."""
    from sonar_spark.operators.fingerprint import connected_components

    rng = np.random.default_rng(77)
    kinds = [("string", lambda v: f"v{v:03d}")] * 4 + [
        ("bigint", lambda v: 10**12 + v)
    ]
    for trial, (kind, node) in enumerate(kinds):
        n = int(rng.integers(20, 60))
        m = int(rng.integers(10, 80))
        edges = [
            (node(int(a)), node(int(b)))
            for a, b in rng.integers(0, n, size=(m, 2))
            if a != b
        ]
        if not edges:
            continue
        want = _union_find_labels(edges)
        df = spark.createDataFrame(edges, f"doc_a {kind}, doc_b {kind}")
        for p in _PATHS:
            _force_path(monkeypatch, p)
            cc = connected_components(df)
            assert cc.schema.simpleString() == (
                f"struct<node:{kind},comp:{kind}>"
            ), (trial, p)
            got = {r["node"]: r["comp"] for r in cc.collect()}
            assert got == want, (trial, p)


def test_connected_components_paths_agree(spark, monkeypatch):
    """Certificate for the driver path: on every edge case the driver
    kernel and the distributed rounds return identical rows and
    schema — the empty table, self-loops only, duplicate and reversed
    edges, null endpoints, bigint ids, and non-ASCII string ids whose
    minimum must follow Spark's UTF-8 byte order."""
    from sonar_spark.operators.fingerprint import connected_components

    s, big = "doc_a string, doc_b string", "doc_a bigint, doc_b bigint"
    cases = {
        "empty": ([], s),
        "self_loops": ([("x", "x"), ("y", "y")], s),
        "dup_reversed": ([("b", "a"), ("a", "b"), ("a", "b"), ("c", "b")], s),
        "null_endpoint": ([("a", None), (None, "b"), ("c", "d")], s),
        "bigint": (
            [(10**12 + 5, 10**12 + 3), (7, 10**12 + 5), (9, 8), (9, 9)],
            big,
        ),
        "non_ascii": (
            [("é", "z"), ("z", "ab"), ("ß", "ÿ"), ("\uffff", "😀"),
             ("Ω", "Z")],
            s,
        ),
    }
    for name, (rows, schema) in cases.items():
        df = spark.createDataFrame(rows, schema)
        out = {}
        for p in _PATHS:
            _force_path(monkeypatch, p)
            cc = connected_components(df)
            out[p] = (cc.schema, sorted(cc.collect()))
        assert out["driver"] == out["rounds"], name
    # byte order: "😀" (F0 9F 98 80) sorts above U+FFFF (EF BF BF);
    # UTF-16 order (a surrogate pair, D83D ...) would invert them
    assert dict(out["driver"][1])["😀"] == "\uffff"


def test_connected_components_driver_path_writes_no_checkpoint(
    spark, monkeypatch
):
    """Below the ceiling the edge table is collected from its plan:
    no localCheckpoint is written (dropping one made Spark log a
    lineage-truncation WARN on every call) and no persisted RDD is
    left behind."""
    from sonar_spark.operators.fingerprint import connected_components

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "doc_a string, doc_b string"
    )
    calls = []
    real = type(df).localCheckpoint

    def spy(self, *args, **kwargs):
        calls.append((args, kwargs))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    got = dict(connected_components(df).collect())
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert calls == []
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_min_label_components_matches_union_find():
    """Spark-free: the driver kernel labels random symmetrized graphs
    with the scalar union-find's min-code components, and reports
    non-convergence (changed > 0) when max_iter runs out."""
    rng = np.random.default_rng(5)
    for trial in range(20):
        n = int(rng.integers(2, 300))
        raw = rng.integers(0, n, size=(int(rng.integers(1, 400)), 2))
        pairs = {(int(a), int(b)) for a, b in raw if a != b}
        sym = sorted(pairs | {(b, a) for a, b in pairs})
        if not sym:
            continue
        # dense codes over the nodes on an edge, in ascending order
        nodes = sorted({a for a, _ in sym})
        code = {v: i for i, v in enumerate(nodes)}
        a = np.array([code[x] for x, _ in sym])
        b = np.array([code[y] for _, y in sym])
        labels, changed = kernels.min_label_components(
            a, b, len(nodes), max_iter=25
        )
        assert changed == 0, trial
        want = _union_find_labels(sym)
        assert {nodes[i]: nodes[c] for i, c in enumerate(labels)} == want, trial
    path = np.arange(11)
    a = np.r_[path, path + 1]
    b = np.r_[path + 1, path]
    labels, changed = kernels.min_label_components(a, b, 12, max_iter=1)
    assert changed == 11
    labels, changed = kernels.min_label_components(a, b, 12, max_iter=25)
    assert changed == 0 and (labels == 0).all()
    empty = np.empty(0, np.int64)
    labels, changed = kernels.min_label_components(empty, empty, 0, 25)
    assert len(labels) == 0 and changed == 0


# ------------------------------------------------------- winnowing


def _winnow_scalar(words, k=4, w=4):
    """Line-for-line scalar winnowing (Schleimer et al. 2003): hash
    every k-shingle (md5-prefix, the engine's convention), slide a
    w-window over the hashes, select each window's min with ties to
    the RIGHTMOST; distinct (hash, pos)."""
    import hashlib

    n_sh = max(len(words) - (k - 1), 1)
    hs = []
    for i in range(n_sh):
        s = " ".join(words[i : i + k])
        hs.append(int(hashlib.md5(s.encode()).hexdigest()[:8], 16))
    out = set()
    for j in range(max(len(hs) - (w - 1), 1)):
        win = hs[j : j + w]
        m = min(win)
        # rightmost occurrence of the min
        pos = j + max(i for i, h in enumerate(win) if h == m) + 1
        out.add((m, pos))
    return out


def test_winnow_matches_scalar_reference(spark):
    """Engine winnowing == the scalar algorithm on random docs,
    including docs shorter than k and shorter than k+w-1."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    want = {}
    for d in range(40):
        n = rng.choice([1, 2, 3, 4, 5, 6, 7, 10, 25, 60])
        words = [rng.choice(vocab) for _ in range(n)]
        rows.append((str(d), words))
        want[str(d)] = _winnow_scalar(words)
    from sonar_spark.operators.fingerprint import winnow_fingerprints

    df = spark.createDataFrame(rows, "doc_id string, words array<string>")
    got = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r["doc_id"], set()).add((r["fp"], r["pos"]))
    assert got == want


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing guarantee: two docs sharing a token run of
    length >= w + k - 1 share at least one fingerprint VALUE."""
    import random

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(50)]
    rows = []
    for d in range(20):
        a = [rng.choice(vocab) for _ in range(30)]
        run = [rng.choice(vocab) for _ in range(7)]  # w + k - 1
        b = [rng.choice(vocab) for _ in range(15)] + run + [
            rng.choice(vocab) for _ in range(8)
        ]
        ia = rng.randrange(0, len(a) - 6)
        a = a[:ia] + run + a[ia + 7 :]
        rows.append((f"a{d}", a))
        rows.append((f"b{d}", b))
    from sonar_spark.operators.fingerprint import winnow_fingerprints

    df = spark.createDataFrame(rows, "doc_id string, words array<string>")
    fps = {}
    for r in winnow_fingerprints(df).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    for d in range(20):
        assert fps[f"a{d}"] & fps[f"b{d}"], d


def test_fingerprint_matches_caps_and_scores(spark):
    """Stop-fingerprint cap drops ubiquitous fps; overlap uses the
    UNCAPPED per-doc counts; identical docs score overlap 1.0."""
    from sonar_spark.operators.fingerprint import (
        fingerprint_matches,
        winnow_fingerprints,
    )

    boiler = ["x"] * 10  # identical boilerplate in every doc
    rows = [(f"d{i}", boiler) for i in range(10)]
    # two identical docs with unique content
    uniq = [f"u{i}" for i in range(20)]
    rows += [("p1", uniq), ("p2", list(uniq))]
    df = spark.createDataFrame(rows, "doc_id string, words array<string>")
    fps = winnow_fingerprints(df)
    out = fingerprint_matches(fps).collect()
    # the boilerplate fp appears in 12 docs > 8 -> capped; only the
    # planted identical pair survives
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {("p1", "p2")}
    assert out[0]["overlap"] == 1.0


def test_repetition_profile_crafted(spark):
    """Exact metric values on hand-computable docs."""
    from sonar_spark.functions.text import repetition_profile

    rows = [
        ("loop", ["a"] * 6),            # 4 3-grams all equal
        ("clean", [f"v{i}" for i in range(8)]),
        ("half", ["a", "b", "a", "b", "a", "b"]),
    ]
    df = spark.createDataFrame(rows, "doc_id string, words array<string>")
    got = {r["doc_id"]: r for r in repetition_profile(df).collect()}
    r = got["loop"]
    assert r["top_word_frac"] == 1.0
    assert r["dup_3gram_frac"] == 0.75  # 1 - 1/4
    assert r["flagged"]
    r = got["clean"]
    assert r["top_word_frac"] == 0.125
    assert r["dup_3gram_frac"] == 0.0 and r["dup_5gram_frac"] == 0.0
    assert not r["flagged"]
    r = got["half"]
    assert r["top_word_frac"] == 0.5
    # 3-grams: aba bab aba bab -> 1 - 2/4
    assert r["dup_3gram_frac"] == 0.5
    assert r["flagged"]


def test_incremental_dedup_verdicts(spark):
    """Exact copies -> exact_of; trimmed near-dups -> best_match;
    fresh docs -> keep; corpus x corpus pairs never influence the
    batch verdicts."""
    from pyspark.sql import functions as F

    from sonar_spark.operators.fingerprint import incremental_dedup

    def wdf(rows):
        return spark.createDataFrame(
            rows, "doc_id string, words array<string>"
        )

    vocab = [f"w{i}" for i in range(30)]
    corpus = wdf(
        [
            ("c1", vocab[:12]),
            ("c2", vocab[:12]),          # corpus-internal dup: ignored
            ("c3", vocab[12:26]),
            ("c4", ["zz"] * 6),
        ]
    )
    batch = wdf(
        [
            ("b1", vocab[:12]),          # exact copy of c1 AND c2
            ("b2", vocab[12:24]),        # near-dup of c3 (trimmed)
            ("b3", ["qq", "rr", "ss", "tt", "uu"]),  # fresh
        ]
    )
    got = {
        r["doc_id"]: r
        for r in incremental_dedup(batch, corpus).collect()
    }
    assert set(got) == {"b1", "b2", "b3"}
    assert got["b1"]["exact_of"] == "c1" and got["b1"]["n_exact"] == 2
    assert got["b1"]["keep"] is False
    assert got["b2"]["exact_of"] is None
    assert got["b2"]["best_match"] == "c3"
    # jaccard of 4-shingles: b2 has 9 shingles, c3 has 11, share 9
    assert got["b2"]["best_jaccard"] == round(9 / 11, 6)
    assert got["b2"]["keep"] is False
    assert got["b3"]["exact_of"] is None
    assert got["b3"]["best_match"] is None
    assert got["b3"]["keep"] is True


def test_incremental_dedup_candidate_injection(spark):
    """A recall-1 candidate source must reproduce the shingle-path
    result exactly; a candidate set MISSING the true pair loses it
    (the verification stage never invents pairs)."""
    from pyspark.sql import functions as F

    from sonar_spark.operators.fingerprint import incremental_dedup

    vocab = [f"w{i}" for i in range(30)]
    corpus = spark.createDataFrame(
        [("c1", vocab[:14]), ("c2", vocab[14:28])],
        "doc_id string, words array<string>",
    )
    batch = spark.createDataFrame(
        [("b1", vocab[:12])], "doc_id string, words array<string>"
    )
    want = sorted(
        map(tuple, incremental_dedup(batch, corpus).collect())
    )
    full = spark.createDataFrame(
        [("b1", "c1"), ("b1", "c2")], "b_id string, c_id string"
    )
    got = sorted(
        map(
            tuple,
            incremental_dedup(
                batch, corpus, candidate_pairs=full
            ).collect(),
        )
    )
    assert got == want
    empty = full.where(F.lit(False))
    miss = incremental_dedup(
        batch, corpus, candidate_pairs=empty
    ).collect()
    assert miss[0]["best_match"] is None
