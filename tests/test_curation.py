"""Brute-force property tests for the round-5 curation additions:
bigram-LM scoring, substring-span dedup, sequence packing, PII scrub.
Each operator is checked against an independent plain-Python oracle
on randomized corpora (seeded), not just the DuckDB driver oracle.
"""

from __future__ import annotations

import math
import random
import re
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sonar_spark.functions.lm import ngram_lm_scores
from sonar_spark.functions.text import PII_EMAIL, PII_IPV4, PII_PHONE, pii_scrub
from sonar_spark.operators.fingerprint import substring_spans
from sonar_spark.operators.packing import pack_sequences


def pack_sequences_expr(
    docs: DataFrame,
    *,
    capacity: int = 256,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
    shard_col: str = "source",
) -> DataFrame:
    """The Catalyst aggregate() fold form of pack_sequences — the
    reference the applyInPandas packer is certified against."""
    cap = F.lit(int(capacity))
    per_shard = docs.groupBy(shard_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(id_col).alias("i"), F.col(len_col).alias("n")))
        ).alias("__ds")
    )
    # fold state: (bin, fill, acc); placement rule — open a new window
    # iff the current one is non-empty and cannot fit the doc.
    init = F.struct(
        F.lit(0).alias("bin"),
        F.lit(0).alias("fill"),
        F.array().cast(
            "array<struct<i:bigint,bin:int,off:int,trunc:boolean>>"
        ).alias("acc"),
    )

    def place(st, d):
        need_new = (st["fill"] > 0) & (st["fill"] + d["n"] > cap)
        new_bin = st["bin"] + need_new.cast("int")
        off = F.when(need_new, F.lit(0)).otherwise(st["fill"])
        trunc = d["n"] > cap
        fill = F.when(trunc, cap).otherwise(off + d["n"])
        return F.struct(
            new_bin.alias("bin"),
            fill.alias("fill"),
            F.concat(
                st["acc"],
                F.array(
                    F.struct(
                        d["i"].cast("bigint").alias("i"),
                        new_bin.alias("bin"),
                        off.cast("int").alias("off"),
                        trunc.alias("trunc"),
                    )
                ),
            ).alias("acc"),
        )

    packed = per_shard.select(
        shard_col,
        F.aggregate(F.col("__ds"), init, place)["acc"].alias("__acc"),
    )
    return packed.select(
        shard_col, F.explode("__acc").alias("p")
    ).select(
        F.col("p.i").alias(id_col),
        F.col(shard_col),
        F.col("p.bin").cast("long").alias("window_id"),
        F.col("p.off").cast("long").alias("window_off"),
        F.col("p.trunc").alias("truncated"),
    )

VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _corpus(seed: int, n_docs: int, max_len: int = 40):
    rng = random.Random(seed)
    docs = []
    for i in range(n_docs):
        n = rng.randint(1, max_len)
        words = [rng.choice(VOCAB) for _ in range(n)]
        docs.append((i, words))
    # plant a shared phrase in a third of the docs so duplicated
    # spans exist by construction
    phrase = ["omega", "phi", "chi", "psi", "omega", "phi"]
    for i in range(0, n_docs, 3):
        words = docs[i][1]
        at = len(words) // 2
        docs[i] = (i, words[:at] + phrase + words[at:])
    return docs


def test_ngram_lm_matches_python_oracle(spark):
    docs = _corpus(7, 40)
    df = spark.createDataFrame(
        [(i, w) for i, w in docs], "doc_id long, words array<string>"
    )
    got = {
        r["doc_id"]: r
        for r in ngram_lm_scores(df).collect()
    }

    uni: Counter = Counter()
    bigr: Counter = Counter()
    for _, w in docs:
        uni.update(w)
        bigr.update(zip(w, w[1:]))
    N = sum(uni.values())
    V = len(uni)
    k = 0.5
    bits_by_doc = {}
    for i, w in docs:
        micro = 0
        for pos, tok in enumerate(w):
            if pos == 0:
                p = (uni[tok] + k) / (N + k * V)
            else:
                p = (bigr.get((w[pos - 1], tok), 0) + k) / (
                    uni[w[pos - 1]] + k * V
                )
            lp6 = round(math.log2(p), 6)
            micro += round(lp6 * 1e6)
        bits_by_doc[i] = round(-micro / 1e6 / len(w) + 1e-12, 6)
    for i, w in docs:
        assert got[i]["n_tokens"] == len(w)
        assert got[i]["lm_bits"] == bits_by_doc[i]
        assert got[i]["lm_ppl"] == round(2.0 ** bits_by_doc[i], 6)
    # terciles: bucket boundaries follow the (bits, doc_id) order
    order = sorted(bits_by_doc, key=lambda i: (bits_by_doc[i], i))
    n = len(order)
    sizes = [n // 3 + (1 if j < n % 3 else 0) for j in range(3)]
    want_bucket = {}
    at = 0
    for j, sz in enumerate(sizes):
        for i in order[at : at + sz]:
            want_bucket[i] = j + 1
        at += sz
    assert {i: got[i]["lm_bucket"] for i in want_bucket} == want_bucket


def test_substring_spans_matches_python_oracle(spark):
    k = 4
    docs = _corpus(11, 30)
    df = spark.createDataFrame(
        [(i, w) for i, w in docs], "doc_id long, words array<string>"
    )
    got = {r["doc_id"]: r for r in substring_spans(df).collect()}

    counts: Counter = Counter()
    for _, w in docs:
        for p in range(len(w) - k + 1):
            counts[tuple(w[p : p + k])] += 1
    for i, w in docs:
        marked = set()
        for p in range(len(w) - k + 1):
            if counts[tuple(w[p : p + k])] >= 2:
                marked.update(range(p, p + k))
        # maximal spans = runs of consecutive marked token indices
        spans = []
        for t in sorted(marked):
            if spans and t == spans[-1][1] + 1:
                spans[-1] = (spans[-1][0], t)
            else:
                spans.append((t, t))
        lens = [b - a + 1 for a, b in spans]
        r = got[i]
        assert r["n_tokens"] == len(w)
        assert r["n_dup_spans"] == len(spans)
        assert r["dup_tokens"] == sum(lens)
        assert r["longest_dup_span"] == (max(lens) if lens else 0)
        assert r["dup_token_frac"] == round(sum(lens) / len(w), 6)
    # the planted phrase must surface: every third doc has a span
    assert all(got[i]["n_dup_spans"] >= 1 for i in range(0, 30, 3))


def test_pack_sequences_matches_python_next_fit(spark, monkeypatch):
    from sonar_spark.operators import packing

    # a capacity the 1-70 token docs overflow often (the queries use 96)
    cap = 50
    monkeypatch.setattr(packing, "_CAPACITY", cap)
    rng = random.Random(3)
    rows = [
        (i, f"s{rng.randint(0, 3)}", rng.randint(1, 70)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tok int")
    got = {
        r["doc_id"]: r
        for r in pack_sequences(df).collect()
    }
    assert len(got) == len(rows)

    by_src: dict[str, list[tuple[int, int]]] = {}
    for i, s, n in rows:
        by_src.setdefault(s, []).append((i, n))
    for s, ds in by_src.items():
        b, fill = 0, 0
        for i, n in sorted(ds):
            if fill > 0 and fill + n > cap:
                b, fill = b + 1, 0
            off = fill
            trunc = n > cap
            fill = cap if trunc else off + n
            r = got[i]
            assert (r["source"], r["window_id"], r["window_off"],
                    r["truncated"]) == (s, b, off, trunc)
    # invariants: offsets stay inside the window; both branches live
    assert all(r["window_off"] < cap for r in got.values())
    assert any(r["truncated"] for r in got.values())
    assert any(not r["truncated"] for r in got.values())


def test_pii_scrub_counts_and_idempotence(spark):
    rows = [
        (0, "plain words only"),
        (1, "mail me at a.b@c.d and x9@y.z today"),
        (2, "srv 10.0.0.1 and 192.168.1.255 up"),
        (3, "call 555-0199 or 555-1234 now"),
        (4, "mixed a@b.c 10.1.2.3 555-9999"),
        (5, "dot.name@host.org trailing"),
        (6, "not-a-phone 5555-1234 and 1234.5678 half"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    want = {}
    for i, t in rows:
        want[i] = (
            len(re.findall(PII_EMAIL, t)),
            len(re.findall(PII_IPV4, t)),
            len(re.findall(PII_PHONE, t)),
        )
    for i, (e, ip, ph) in want.items():
        r = got[i]
        assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (e, ip, ph)
    # idempotence: redacting the redacted text changes nothing
    red = df.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("payload", PII_EMAIL, "<EMAIL>"),
                PII_IPV4,
                "<IP>",
            ),
            PII_PHONE,
            "<PHONE>",
        ).alias("payload"),
    )
    again = {r["doc_id"]: r for r in pii_scrub(red).collect()}
    for i in want:
        assert again[i]["n_emails"] == 0
        assert again[i]["n_ips"] == 0
        assert again[i]["n_phones"] == 0
        assert again[i]["chars_delta"] == 0


def _bpe_python(word_freqs: dict[str, int], n_merges: int):
    """Classic in-memory BPE trainer (Sennrich alg. 1) with the same
    deterministic tie rule: max count, ties -> lexicographically
    smallest (a, b); greedy left-to-right merge-then-skip."""
    segs = {w: list(w) + ["</w>"] for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for w, f in word_freqs.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w in segs:
            s = segs[w]
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return segs, merges


def test_bpe_train_matches_python_reference(spark):
    from sonar_spark.operators.bpe import bpe_train, word_counts

    rng = random.Random(5)
    # words engineered for overlap cases: runs of repeated chars make
    # (x, x) pairs win some rounds, exercising merge-then-skip
    pool = ["aaaa", "aaab", "baaa", "abab", "bbbb", "cab", "cc",
            "dada", "add", "a"]
    docs = [
        (i, [rng.choice(pool) for _ in range(rng.randint(1, 12))])
        for i in range(60)
    ]
    df = spark.createDataFrame(docs, "doc_id long, words array<string>")
    ws, merges = bpe_train(word_counts(df), n_merges=8)
    got = {r["word"]: r["syms"] for r in ws.collect()}

    freqs: Counter = Counter()
    for _, w in docs:
        freqs.update(w)
    want_segs, want_merges = _bpe_python(dict(freqs), 8)
    assert [(a, b) for _, a, b, _ in merges] == want_merges
    assert got == want_segs


def test_tfidf_and_bm25_match_python_oracle(spark, monkeypatch):
    from sonar_spark.functions import rank
    from sonar_spark.functions.rank import bm25_scores, tfidf_topk

    docs = _corpus(13, 30)
    df = spark.createDataFrame(docs, "doc_id long, words array<string>")

    tfs = {i: Counter(w) for i, w in docs}
    dfs: Counter = Counter()
    for i, w in docs:
        dfs.update(set(w))
    N = len(docs)

    # tfidf: verify every returned row and the per-doc rank order
    got = [r.asDict() for r in tfidf_topk(df).collect()]
    for r in got:
        tf = tfs[r["doc_id"]][r["term"]]
        assert r["tf"] == tf
        assert r["tfidf"] == round(
            tf * round(math.log(N / dfs[r["term"]]), 6), 6
        )
    by_doc: dict[int, list] = {}
    for r in sorted(got, key=lambda r: r["rank"]):
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, rows in by_doc.items():
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        want = sorted(
            (
                (term, round(tf * round(math.log(N / dfs[term]), 6), 6))
                for term, tf in tfs[i].items()
            ),
            key=lambda t: (-t[1], t[0]),
        )[: len(rows)]
        assert [(r["term"], r["tfidf"]) for r in rows] == want

    # bm25 for a query with a rare planted term
    q = ["omega", "theta", "eps"]
    monkeypatch.setattr(rank, "_QUERY_TERMS", q)
    k1, b = 1.2, 0.75
    avgdl = sum(len(w) for _, w in docs) / N
    scores = {}
    for i, w in docs:
        micro = 0
        for t in q:
            tf = tfs[i][t]
            if not tf:
                continue
            idf6 = round(
                math.log((N - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0), 6
            )
            c = idf6 * (
                tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * len(w) / avgdl))
            )
            micro += round(round(c + 1e-12, 6) * 1e6)
        if micro:
            scores[i] = micro
    order = sorted(scores, key=lambda i: (-scores[i], i))[:20]
    got_bm = {
        r["rank"]: r for r in bm25_scores(df).collect()
    }
    for rk, i in enumerate(order, start=1):
        assert got_bm[rk]["doc_id"] == i
        assert got_bm[rk]["bm25"] == scores[i] / 1e6


def test_ngram_novelty_matches_python_oracle(spark):
    from sonar_spark.operators.fingerprint import ngram_novelty

    k = 4
    docs = _corpus(17, 30)
    df = spark.createDataFrame(docs, "doc_id long, words array<string>")
    got = {r["doc_id"]: r for r in ngram_novelty(df).collect()}

    first: dict[tuple, int] = {}
    for i, w in docs:  # ascending doc_id
        for p in range(len(w) - k + 1):
            first.setdefault(tuple(w[p : p + k]), i)
    for i, w in docs:
        grams = [tuple(w[p : p + k]) for p in range(len(w) - k + 1)]
        novel = sum(1 for g in grams if first[g] == i)
        r = got[i]
        assert r["n_grams"] == len(grams)
        assert r["n_novel"] == novel
        if grams:
            assert r["novelty_frac"] == round(novel / len(grams), 6)
        else:
            assert r["novelty_frac"] == 1.0
    # the planted phrase: its introducing doc (0) counts it novel,
    # later planted docs see it as seen
    assert got[0]["n_novel"] >= 1


def test_dsir_select_matches_python_oracle(spark, monkeypatch):
    import hashlib

    docs = _corpus(11, 50)
    # target sample = every 4th doc (the "domain" the target model
    # is fit on)
    rows = [(i, i % 4 == 0, w) for i, w in docs]
    df = spark.createDataFrame(
        rows, "doc_id long, is_target boolean, words array<string>"
    )
    from sonar_spark.functions import dsir
    from sonar_spark.functions.dsir import dsir_scores

    monkeypatch.setattr(dsir, "_N_SELECT", 10)
    got = {r["doc_id"]: r for r in dsir_scores(df).collect()}

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    B, k = 1024, 0.5
    ct: Counter = Counter()
    cr: Counter = Counter()
    doc_buckets = {}
    for i, tgt, w in rows:
        grams = list(w) + [a + " " + b for a, b in zip(w, w[1:])]
        bl = [h32(g) % B for g in grams]
        doc_buckets[i] = bl
        (ct if tgt else cr).update(bl)
    nt, nr = sum(ct.values()), sum(cr.values())
    lam = {}
    for b in set(ct) | set(cr):
        r6 = round(
            math.log2(
                ((ct[b] + k) / (nt + k * B))
                / ((cr[b] + k) / (nr + k * B))
            ),
            6,
        )
        lam[b] = round(r6 * 1e6)
    keyed = {}
    for i, tgt, w in rows:
        ms = sum(lam[b] for b in doc_buckets[i])
        bits = round(ms / 1e6, 6)
        u = (h32(str(i)) + 0.5) / 4294967296.0
        g6 = round(-math.log(-math.log(u)), 6)
        key = round(round(bits * 0.6931471805599453, 6) + g6, 6)
        keyed[i] = (bits, key, len(doc_buckets[i]))
    order = sorted(keyed, key=lambda i: (-keyed[i][1], i))
    rank = {i: p + 1 for p, i in enumerate(order)}
    for i, tgt, w in rows:
        bits, key, ng = keyed[i]
        assert got[i]["n_grams"] == ng
        assert got[i]["dsir_bits"] == bits
        assert got[i]["gumbel_key"] == key
        assert got[i]["sel_rank"] == rank[i]
        assert got[i]["selected"] == (1 if rank[i] <= 10 else 0)
    # the importance axis must actually discriminate: target docs
    # score higher on average than raw docs (they ARE the target
    # distribution)
    t_bits = [keyed[i][0] for i, tgt, _ in rows if tgt]
    r_bits = [keyed[i][0] for i, tgt, _ in rows if not tgt]
    assert sum(t_bits) / len(t_bits) > sum(r_bits) / len(r_bits)


def test_semdedup_matches_python_oracle(spark):
    import numpy as np

    from sonar_spark.operators.semdedup import (
        SEMDEDUP_K,
        semdedup,
        semdedup_centroids,
    )

    rng = np.random.RandomState(42)
    base = rng.randn(30, 64)
    base /= np.sqrt((base * base).sum(axis=1, keepdims=True))
    rows = [(i, [float(v) for v in base[i]]) for i in range(30)]
    # plant near-duplicates of every 3rd vector (tiny deterministic
    # perturbation - cosine ~0.99998)
    for i in range(0, 30, 3):
        v = base[i] * (1.0 + 0.003 * np.sin(np.arange(1, 65)))
        rows.append((1000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r for r in semdedup(df).collect()}
    assert len(got) == len(rows)

    cents = np.array(semdedup_centroids())

    def cos(a, b):
        return float(
            np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        )

    vec = {i: np.array(v) for i, v in rows}
    asg = {}
    for i, v in vec.items():
        sims = [(round(cos(v, cents[k]), 6), -k) for k in range(SEMDEDUP_K)]
        s, nk = max(sims)
        asg[i] = (-nk, s)
    near = {i: 0 for i in vec}
    lost = {i: 0 for i in vec}
    ids = sorted(vec)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if asg[a][0] != asg[b][0]:
                continue
            if round(cos(vec[a], vec[b]), 6) < 0.95:
                continue
            near[a] += 1
            near[b] += 1
            # keep the lower (centroid_sim, id)
            if (asg[a][1], a) > (asg[b][1], b):
                lost[a] = 1
            else:
                lost[b] = 1
    n_dropped = 0
    for i in vec:
        assert got[i]["cluster"] == asg[i][0]
        assert got[i]["centroid_sim"] == asg[i][1]
        assert got[i]["n_near"] == near[i]
        assert got[i]["dropped"] == lost[i]
        n_dropped += lost[i]
    # the planted pairs that landed in the same cluster must produce
    # drops, and never both sides of a pair with distinct sims
    assert n_dropped >= 1


def test_pmi_collocations_matches_python_oracle(spark, monkeypatch):
    from sonar_spark.functions import corpus
    from sonar_spark.functions.corpus import pmi_collocations

    # thresholds sized to the 60-doc corpus (the queries use 5 and 50)
    monkeypatch.setattr(corpus, "_MIN_COUNT", 3)
    monkeypatch.setattr(corpus, "_TOP_N", 25)

    docs = _corpus(99, 60)
    df = spark.createDataFrame(
        [(i, w) for i, w in docs], "doc_id long, words array<string>"
    )
    got = {
        (r["w1"], r["w2"]): r
        for r in pmi_collocations(df.select("words")).collect()
    }
    uni = Counter(w for _, ws in docs for w in ws)
    big = Counter(
        (ws[i], ws[i + 1])
        for _, ws in docs
        for i in range(len(ws) - 1)
    )
    nt, nb = sum(uni.values()), sum(big.values())
    scored = []
    for (a, b), cxy in big.items():
        if cxy < 3:
            continue
        nat6 = round(
            math.log((cxy * 1.0 * nt * nt) / (nb * 1.0 * uni[a] * uni[b])),
            6,
        )
        scored.append((round(nat6 / 0.6931471805599453, 6), a, b, cxy))
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    assert len(got) == min(25, len(scored))
    for rank, (pmi, a, b, cxy) in enumerate(scored[:25], start=1):
        r = got[(a, b)]
        assert r["rank"] == rank
        assert r["cxy"] == cxy
        assert abs(r["pmi"] - pmi) < 1e-9


def test_vocab_stats_matches_python_oracle(spark):
    from sonar_spark.functions.corpus import vocab_stats

    rng = random.Random(7)
    rows = []
    # group g1 gets hapaxes (unique tokens) so the branch is live;
    # g0 is Zipf-ish over the shared vocab
    for i in range(50):
        n = rng.randint(3, 30)
        ws = [VOCAB[min(int(rng.random() ** 2 * 8), 7)] for _ in range(n)]
        rows.append((i, "g0", ws))
    for i in range(20):
        ws = [rng.choice(VOCAB[:4]), f"uniq{i}"]
        rows.append((100 + i, "g1", ws))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, words array<string>"
    )
    got = {
        r["source"]: r
        for r in vocab_stats(df.select("source", "words")).collect()
    }
    for grp in ("g0", "g1"):
        cnt = Counter(
            w for _, s, ws in rows if s == grp for w in ws
        )
        toks, vocab = sum(cnt.values()), len(cnt)
        hapax = sum(1 for c in cnt.values() if c == 1)
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        xs = [round(round(math.log(r), 6) * 1e6) for r in range(1, len(ranked) + 1)]
        ys = [round(round(math.log(c), 6) * 1e6) for _, c in ranked]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        sxx = sum(x * x for x in xs)
        den = n * sxx - sx * sx
        slope = 0.0 if den == 0 else round((n * sxy - sx * sy) / den, 6)
        r = got[grp]
        assert r["tokens_total"] == toks
        assert r["vocab_size"] == vocab
        assert r["hapax_count"] == hapax
        assert abs(r["ttr"] - round(vocab / toks, 6)) < 1e-12
        assert abs(r["zipf_slope"] - slope) < 1e-9
    assert got["g1"]["hapax_count"] == 20
    assert got["g0"]["zipf_slope"] < 0.0


def test_chunk_documents_matches_python_oracle(spark):
    import hashlib

    from sonar_spark.operators.packing import chunk_documents

    docs = _corpus(123, 40, max_len=60)
    df = spark.createDataFrame(
        docs, "doc_id long, words array<string>"
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_documents(df, window=8, stride=5).collect()
    }
    expect = {}
    for i, ws in docs:
        start, cid = 0, 0
        while start < len(ws):
            piece = ws[start : start + 8]
            expect[(i, cid)] = (
                start,
                len(piece),
                hashlib.md5(" ".join(piece).encode()).hexdigest(),
            )
            start += 5
            cid += 1
    assert set(got) == set(expect)
    for key, (start, clen, h) in expect.items():
        r = got[key]
        assert (r["start"], r["chunk_len"], r["chunk_md5"]) == (
            start,
            clen,
            h,
        )


def test_temperature_mix_matches_python_oracle(spark, monkeypatch):
    from sonar_spark.functions import corpus
    from sonar_spark.functions.corpus import temperature_mix

    # the queries run T 0.3 and a 10^6 budget
    monkeypatch.setattr(corpus, "_TEMPERATURE", 0.5)
    monkeypatch.setattr(corpus, "_BUDGET", 10000)

    rng = random.Random(5)
    rows = []
    # skewed group sizes so T<1 visibly flattens the mix
    for g, n_docs in (("a", 40), ("b", 10), ("c", 2)):
        for i in range(n_docs):
            rows.append(
                (g, [rng.choice(VOCAB) for _ in range(rng.randint(2, 20))])
            )
    df = spark.createDataFrame(rows, "source string, words array<string>")
    got = {
        r["source"]: r
        for r in temperature_mix(df).collect()
    }
    toks = Counter()
    for g, ws in rows:
        toks[g] += len(ws)
    tt = sum(toks.values())
    micro = {
        g: round(round(math.exp(0.5 * round(math.log(t / tt), 6)), 6) * 1e6)
        for g, t in toks.items()
    }
    sm = sum(micro.values())
    for g, t in toks.items():
        r = got[g]
        assert r["tokens"] == t
        assert abs(r["share"] - round(t / tt, 6)) < 1e-12
        assert abs(r["weight"] - round(micro[g] / sm, 6)) < 1e-12
        assert r["alloc_tokens"] == (10000 * micro[g]) // sm
        assert abs(
            r["epochs"] - round((10000 * micro[g]) // sm / t, 6)
        ) < 1e-12
    # temperature < 1 must allocate the rare group MORE than its share
    assert got["c"]["weight"] > got["c"]["share"]
    assert got["a"]["weight"] < got["a"]["share"]


def test_semdedup_pairs_survive_arrow_batch_splits(spark):
    """The per-cluster pair kernel must carry group state across
    Arrow batch boundaries (clusters larger than a batch), and the
    operator leaves no persisted RDD behind."""
    import numpy as np

    from sonar_spark.operators.semdedup import semdedup

    rng = np.random.RandomState(11)
    base = rng.randn(40, 64)
    base /= np.sqrt((base * base).sum(axis=1, keepdims=True))
    rows = [(i, [float(v) for v in base[i]]) for i in range(40)]
    for i in range(0, 40, 4):
        v = base[i] * (1.0 + 0.002 * np.cos(np.arange(1, 65)))
        rows.append((2000 + i, [float(x) for x in v]))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    want = sorted(
        tuple(r) for r in semdedup(df).collect()
    )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        got = sorted(
            tuple(r) for r in semdedup(df).collect()
        )
    finally:
        spark.conf.set(key, old)
    assert got == want
    assert any(r[4] == 1 for r in want)  # drops actually happened


def test_source_divergence_matches_python_oracle(spark):
    from sonar_spark.functions.corpus import source_divergence

    rng = random.Random(13)
    rows = []
    # g0/g1 share the vocab with different skews; g2 is DISJOINT
    # (exclusive-mass + missing-pair branches live); g3 == g0 dist
    for i in range(40):
        rows.append(("g0", [rng.choice(VOCAB[:6]) for _ in range(10)]))
    for i in range(40):
        rows.append(
            ("g1", [VOCAB[min(int(rng.random() ** 3 * 6), 5)] for _ in range(10)])
        )
    for i in range(10):
        rows.append(("g2", [f"other{j % 3}" for j in range(6)]))
    for s, ws in [r for r in rows if r[0] == "g0"]:
        rows.append(("g3", list(ws)))
    df = spark.createDataFrame(rows, "source string, words array<string>")
    got = {
        (r["src_a"], r["src_b"]): r
        for r in source_divergence(df).collect()
    }
    assert len(got) == 6  # complete pair frame over 4 groups
    cnt: dict = {}
    for s, ws in rows:
        c = cnt.setdefault(s, Counter())
        c.update(ws)
    ln2 = 0.6931471805599453

    def replay(sa, sb):
        ca, cb = cnt[sa], cnt[sb]
        t1, t2 = sum(ca.values()), sum(cb.values())
        common = set(ca) & set(cb)
        if not common:
            return 0, 1.0
        smp = smq = 0
        for t in common:
            p, q = ca[t] / t1, cb[t] / t2
            smp += round(round(p * math.log((p + p) / (p + q)), 9) * 1e9)
            smq += round(round(q * math.log((q + q) / (p + q)), 9) * 1e9)
        c1 = sum(ca[t] for t in common)
        c2 = sum(cb[t] for t in common)
        mep = round(round((t1 - c1) / t1 * ln2, 9) * 1e9)
        meq = round(round((t2 - c2) / t2 * ln2, 9) * 1e9)
        return len(common), round(
            (smp + smq + mep + meq) / 1e9 * 0.5 / ln2, 6
        )

    for (sa, sb), r in got.items():
        n, js = replay(sa, sb)
        assert r["n_common"] == n
        assert abs(r["js"] - js) < 1e-12, (sa, sb)
        assert -1e-9 <= r["js"] <= 1.0 + 1e-9
    assert got[("g0", "g2")]["js"] == 1.0  # disjoint -> maximal
    assert got[("g0", "g3")]["js"] < 1e-6  # identical dist -> ~0
    assert got[("g0", "g1")]["js"] > 0.01  # skew shift registers


def test_chunk_dedup_matches_python_oracle(spark, monkeypatch):
    import hashlib

    from sonar_spark.operators import packing
    from sonar_spark.operators.packing import chunk_dedup

    # 4-token chunks, so the planted 8-token prefix spans two (the
    # queries use 8 and 8)
    monkeypatch.setattr(packing, "_WINDOW", 4)
    monkeypatch.setattr(packing, "_STRIDE", 4)

    docs = _corpus(77, 30, max_len=30)
    # plant cross-doc boilerplate: docs 100/101/102 share a prefix
    boiler = ["alpha", "beta", "gamma", "delta"] * 2
    rows = list(docs)
    for k in range(3):
        rows.append((100 + k, boiler + [VOCAB[k]] * 3))
    df = spark.createDataFrame(rows, "doc_id long, words array<string>")
    got = {
        r["doc_id"]: r for r in chunk_dedup(df).collect()
    }
    freq: dict = {}
    chunks: dict = {}
    for i, ws in rows:
        cs = []
        for s in range(0, len(ws), 4):
            h = hashlib.md5(" ".join(ws[s : s + 4]).encode()).hexdigest()
            cs.append(h)
            freq[h] = freq.get(h, 0) + 1
        chunks[i] = cs
    for i, cs in chunks.items():
        nd = sum(1 for h in cs if freq[h] > 1)
        r = got[i]
        assert r["n_chunks"] == len(cs)
        assert r["n_dup_chunks"] == nd
        assert abs(r["dup_chunk_frac"] - round(nd / len(cs), 6)) < 1e-12
    # the planted boilerplate chunks must register as duplicated
    assert got[100]["n_dup_chunks"] >= 2


def test_chunk_documents_covers_every_token(spark):
    """Coverage property: with stride <= window every token index of
    every doc appears in at least one chunk, chunk starts advance by
    exactly stride, and total chunk tokens == n + overlap-duplicates."""
    from sonar_spark.operators.packing import chunk_documents

    docs = _corpus(55, 50, max_len=80)
    df = spark.createDataFrame(docs, "doc_id long, words array<string>")
    rows = chunk_documents(df, window=9, stride=4).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, ws in docs:
        n = len(ws)
        chunks = sorted(by_doc[i], key=lambda r: r["chunk_id"])
        starts = [r["start"] for r in chunks]
        assert starts == list(range(0, n, 4))
        covered = set()
        for r in chunks:
            covered.update(range(r["start"], r["start"] + r["chunk_len"]))
            assert r["chunk_len"] == min(9, n - r["start"])
        assert covered == set(range(n))


def test_temperature_mix_budget_conservation(spark, monkeypatch):
    """The integer allocation never exceeds the budget and the
    shortfall is bounded by the group count (floor division)."""
    from sonar_spark.functions import corpus
    from sonar_spark.functions.corpus import temperature_mix

    monkeypatch.setattr(corpus, "_TEMPERATURE", 0.7)
    monkeypatch.setattr(corpus, "_BUDGET", 55555)

    rng = random.Random(2)
    rows = []
    for g in range(7):
        for _ in range(rng.randint(1, 30)):
            rows.append(
                (f"g{g}", [rng.choice(VOCAB) for _ in range(rng.randint(1, 9))])
            )
    df = spark.createDataFrame(rows, "source string, words array<string>")
    out = temperature_mix(df).collect()
    total = sum(r["alloc_tokens"] for r in out)
    assert total <= 55555
    assert 55555 - total < len(out)  # floor-division shortfall bound
    assert abs(sum(r["weight"] for r in out) - 1.0) < 1e-4


def test_pack_sequences_kernel_equals_fold(spark, sf_dir):
    """The r6 applyInPandas packer must reproduce the retained
    Catalyst fold form row-for-row on the real corpus (capacity 96:
    the truncation branch is live)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
    )
    cols = ["doc_id", "source", "window_id", "window_off", "truncated"]
    a = sorted(map(tuple, pack_sequences(docs)
                   .select(cols).collect()))
    b = sorted(map(tuple, pack_sequences_expr(docs, capacity=96)
                   .select(cols).collect()))
    assert len(a) == len(b) > 0
    assert a == b
