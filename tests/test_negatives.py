"""global_dense_index == row_number under any partitioning; the
negative-pairs skip-self bijection is self-free, exact-k, and
exactly uniform over the other docs in expectation; the fused
hard-negative kernel (ann.hard_negatives_allpairs) equals the
windowed reference `hard_negatives` below."""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sonar_spark.operators.negatives import (
    global_dense_index,
    negative_pairs,
)


def hard_negatives(
    pairs: DataFrame,
    *,
    k: int = 3,
    pos_threshold: float = 0.4,
    directed: bool = False,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every
    anchor that has at least one POSITIVE (cosine >= pos_threshold —
    the embedding near-dup rule), rank all other vectors by cosine
    and keep the top-k BELOW the positive threshold — the closest
    vectors that are not (near-)duplicates, i.e. the negatives a
    contrastive loss learns the most from (in-batch-uniform's
    targeted complement; see negative_pairs for the uniform draw).

    `pairs` is the scored pair table from the allpairs_cosine
    kernel (LSH/IVF candidates at corpus scale): undirected
    (id_a < id_b) by default, or directed=True for the
    anchors-bounded LEFT x ALL shape (id_a = anchor) — then no
    mirror union is needed and the plan is candidate-linear in the
    anchor set.

    Output per anchor: rank (1..k by sim desc, neighbor id
    tie-break), neighbor_id, cosine_sim, and n_excluded — how many
    candidates the positive filter removed (certifies the exclusion
    branch fired).  One mirror-union + two windows over the
    anchors-bounded candidate set.
    """
    sym = pairs.select(
        F.col("id_a").alias("query_id"),
        F.col("id_b").alias("neighbor_id"),
        "s",
    )
    if not directed:
        sym = sym.unionByName(
            pairs.select(
                F.col("id_b").alias("query_id"),
                F.col("id_a").alias("neighbor_id"),
                "s",
            )
        )
    anchors = (
        sym.where(F.col("s") >= pos_threshold)
        .select("query_id")
        .distinct()
    )
    cand = sym.join(anchors, "query_id")
    wq = Window.partitionBy("query_id")
    wr = Window.partitionBy("query_id").orderBy(
        F.col("s").desc(), F.col("neighbor_id").asc()
    )
    n_exc = F.sum(
        (F.col("s") >= pos_threshold).cast("long")
    ).over(wq)
    ranked = cand.withColumn("n_excluded", n_exc).where(
        F.col("s") < pos_threshold
    ).withColumn("rank", F.row_number().over(wr))
    return ranked.where(F.col("rank") <= k).select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "neighbor_id",
        F.round("s", 6).alias("cosine_sim"),
        F.col("n_excluded").cast("long").alias("n_excluded"),
    )


def test_dense_index_equals_row_number(spark):
    # non-contiguous, shuffled ids across several partitions
    ids = [3, 7, 1, 100, 42, 999, 0, 55, 18, 2, 404, 77]
    df = spark.createDataFrame(
        [(i,) for i in ids], "doc_id long"
    ).repartition(5)
    got = {
        r["doc_id"]: r["gidx"]
        for r in global_dense_index(df).collect()
    }
    want = {d: g for g, d in enumerate(sorted(ids))}
    assert got == want
    # partition invariance
    got2 = {
        r["doc_id"]: r["gidx"]
        for r in global_dense_index(df.repartition(1)).collect()
    }
    assert got2 == want


def test_negative_pairs_properties(spark):
    n, k = 40, 4
    docs = spark.createDataFrame(
        [(i * 3,) for i in range(n)], "doc_id long"
    )
    rows = negative_pairs(docs).collect()
    assert len(rows) == n * k
    by_anchor: dict = {}
    for r in rows:
        assert r["neg_doc_id"] != r["doc_id"]  # self-free
        by_anchor.setdefault(r["doc_id"], set()).add(r["j"])
    assert all(js == set(range(k)) for js in by_anchor.values())
    # exact replay of the draw
    order = sorted(i * 3 for i in range(n))
    gidx = {d: g for g, d in enumerate(order)}
    for r in rows:
        h = int(
            hashlib.md5(f"neg1:{r['doc_id']}:{r['j']}".encode()).hexdigest()[
                :15
            ],
            16,
        )
        rr = h % (n - 1)
        ng = rr + 1 if rr >= gidx[r["doc_id"]] else rr
        assert r["neg_gidx"] == ng
        assert gidx[r["neg_doc_id"]] == ng


def test_negative_pairs_uniformity():
    # pure-python law check over many salts: each other index hit
    # ~uniformly (chi-square-ish loose bound)
    n, trials = 10, 2000
    hits = np.zeros(n)
    g = 4  # fixed anchor index
    for s in range(trials):
        h = int(hashlib.md5(f"s{s}".encode()).hexdigest()[:15], 16)
        r = h % (n - 1)
        hits[r + 1 if r >= g else r] += 1
    assert hits[g] == 0
    p = trials / (n - 1)
    assert np.all(np.abs(hits[np.arange(n) != g] - p) < 5 * np.sqrt(p))


def test_global_cumsum_and_shard_balance(spark):
    from sonar_spark.operators.sharding import (
        global_cumsum,
        shard_balance,
    )

    rng = np.random.default_rng(9)
    rows = [(int(i * 7 + i % 3), int(rng.integers(1, 50)))
            for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long").repartition(7)
    got = {
        r["doc_id"]: r["cum_before"]
        for r in global_cumsum(df).collect()
    }
    acc, want = 0, {}
    for d, n in sorted(rows):
        want[d] = acc
        acc += n
    assert got == want

    n_shards = 8
    out = shard_balance(
        spark.createDataFrame(rows, "doc_id long, n_tok long")
    ).collect()
    total = sum(n for _, n in rows)
    target = -(-total // n_shards)
    max_tok = max(n for _, n in rows)
    shard_of = {}
    per_shard: dict = {}
    for r in out:
        assert 0 <= r["shard"] < n_shards
        assert r["shard"] == min((r["cum_before"] // target), n_shards - 1)
        shard_of[r["doc_id"]] = r["shard"]
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + r["n_tok"]
        assert r["shard_tokens"] > 0
    # contiguity in doc order + greedy balance bound
    prev = None
    for d in sorted(shard_of):
        s = shard_of[d]
        assert prev is None or s >= prev
        prev = s
    for s, tok in per_shard.items():
        assert tok <= target + max_tok - 1
    # realized totals on rows match the recount
    for r in out:
        assert r["shard_tokens"] == per_shard[r["shard"]]


def test_hard_negatives_vs_bruteforce(spark):
    # pair table with planted positives (s >= 0.4) for anchors 0,1,2
    rng = np.random.default_rng(17)
    n = 12
    sims = {}
    for a in range(n):
        for b in range(a + 1, n):
            sims[(a, b)] = float(np.round(rng.uniform(-0.3, 0.39), 4))
    sims[(0, 1)] = 0.95  # dup pair -> anchors 0 and 1
    sims[(2, 7)] = 0.41  # boundary-ish positive -> anchors 2 and 7
    pairs = spark.createDataFrame(
        [(a, b, s) for (a, b), s in sims.items()],
        "id_a long, id_b long, s double",
    )
    got = hard_negatives(pairs, k=3, pos_threshold=0.4).collect()
    anchors = {0, 1, 2, 7}
    assert {r["query_id"] for r in got} == anchors
    for q in anchors:
        cand = []
        n_exc = 0
        for (a, b), s in sims.items():
            if q not in (a, b):
                continue
            other = b if a == q else a
            if s >= 0.4:
                n_exc += 1
            else:
                cand.append((-s, other))
        cand.sort()
        want = [other for _, other in cand[:3]]
        rows = sorted(
            (r for r in got if r["query_id"] == q),
            key=lambda r: r["rank"],
        )
        assert [r["neighbor_id"] for r in rows] == want, q
        for r in rows:
            assert r["n_excluded"] == n_exc
            assert r["cosine_sim"] < 0.4


def test_hard_negatives_directed_equals_undirected(spark, sf_dir):
    """The anchors-bounded directed path (the corpus-scale shape:
    positives from phase 1, then LEFT x ALL over anchors) must give
    the same result as the single-pass undirected plan."""
    from sonar_spark.operators.ann import allpairs_cosine

    path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(path)
    und = allpairs_cosine(emb, path, threshold=-1.0).select(
        "id_a", "id_b", "s"
    )
    a = sorted(
        map(tuple, hard_negatives(und, k=3, pos_threshold=0.4).collect())
    )
    pos = allpairs_cosine(emb, path, threshold=0.4)
    anchors = (
        pos.select(F.col("id_a").alias("vec_id"))
        .unionByName(pos.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    cand = allpairs_cosine(
        emb.join(anchors, "vec_id"), path, threshold=-1.0, directed=True
    ).select("id_a", "id_b", "s")
    b = sorted(
        map(
            tuple,
            hard_negatives(
                cand, k=3, pos_threshold=0.4, directed=True
            ).collect(),
        )
    )
    assert a == b and len(a) > 0


def test_hard_negatives_kernel_equals_windowed(spark, sf_dir):
    """The r6 fused kernel (rank reduction inside the block
    nested-loop task) must reproduce the windowed operator over the
    full threshold=-1 pair table bit-for-bit — including 6dp
    rounding and the (s desc, neighbor asc) raw-double tie-break."""
    from sonar_spark.operators.ann import (
        allpairs_cosine,
        hard_negatives_allpairs,
    )

    path = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(path)
    und = allpairs_cosine(emb, path, threshold=-1.0).select(
        "id_a", "id_b", "s"
    )
    a = sorted(
        map(tuple, hard_negatives(und, k=3, pos_threshold=0.4).collect())
    )
    b = sorted(
        map(
            tuple,
            hard_negatives_allpairs(
                emb, path).collect(),
        )
    )
    assert a == b and len(a) > 0
