"""IVF ANN: exhaustive-probe equals brute force; pruned-probe recall;
determinism of the trained quantizer."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sonar_spark.operators import ann
from sonar_spark.operators.ann import ivf_assign, ivf_search, train_centroids
from sonar_spark.operators.topk import knn_bruteforce

N, DIM = 300, 16
K = ann._K  # ivf_search's top-k


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(21)
    # clustered data so IVF pruning is meaningful
    centers = rng.standard_normal((8, DIM)) * 3
    rows = []
    for i in range(N):
        c = centers[i % 8]
        rows.append((i, (c + rng.standard_normal(DIM)).astype(float).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_exhaustive_probe_equals_bruteforce(spark, emb):
    cents = train_centroids(emb)
    assert len(cents) == ann._N_PROBE  # every centroid is probed
    index = ivf_assign(emb, cents)
    queries = emb.where(F.col("vec_id") < 20)
    got = ivf_search(index, queries, cents).collect()
    want = [r for r in knn_bruteforce(queries, emb).collect() if r["rank"] <= K]
    gm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got}
    wm = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in want}
    assert gm == wm


def test_pruned_probe_recall(spark, emb, monkeypatch):
    monkeypatch.setattr(ann, "_N_PROBE", 2)  # 2 of the 8 cells
    cents = train_centroids(emb)
    index = ivf_assign(emb, cents)
    queries = emb.where(F.col("vec_id") < 30)
    got = ivf_search(index, queries, cents).collect()
    want = [r for r in knn_bruteforce(queries, emb).collect() if r["rank"] <= K]
    gset = {(r["query_id"], r["neighbor_id"]) for r in got}
    wset = {(r["query_id"], r["neighbor_id"]) for r in want}
    recall = len(gset & wset) / len(wset)
    assert recall >= 0.8, recall


def test_centroids_deterministic(spark, emb):
    a = train_centroids(emb)
    b = train_centroids(emb)
    np.testing.assert_array_equal(a, b)


def test_assignment_covers_all(spark, emb):
    cents = train_centroids(emb)
    index = ivf_assign(emb, cents)
    assert index.count() == N
    cids = [r["centroid_id"] for r in index.select("centroid_id").distinct().collect()]
    assert all(0 <= c < 8 for c in cids)


def test_hyperplane_lsh_recall(spark):
    """Random-hyperplane LSH candidates contain every high-cosine
    pair (planted near-identical vectors); disjoint random vectors do
    not flood the candidate set."""
    import numpy as np
    from pyspark.sql import functions as F

    from sonar_spark.operators.ann import hyperplane_lsh_pairs

    rng = np.random.default_rng(71)
    rows = []
    for i in range(60):
        v = rng.standard_normal(32)
        rows.append((i, v.tolist()))
        if i < 10:  # planted near-dup: tiny perturbation
            rows.append((1000 + i, (v + 0.01 * rng.standard_normal(32)).tolist()))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in hyperplane_lsh_pairs(df).collect()
    }
    want = {(i, 1000 + i) for i in range(10)}
    assert want <= cand, want - cand
    # candidate set stays sparse: nowhere near all-pairs (70*69/2=2415)
    assert len(cand) < 500, len(cand)


def test_ivfpq_index_and_recall(spark, sf_dir, monkeypatch):
    """IVF-PQ: codes are partitioning-invariant (content-keyed
    quantization), the index compresses 64 doubles to 1+8 small
    codes, quantization preserves locality (reconstruction error well
    below the random-pair distance), and ADC top-5 lands in the near
    tail of the TRUE distance distribution.  Exact-top-5 recall is
    NOT the bar here: the embeddings table is near-uniform on the
    sphere (no pair reaches 0.6 cosine), so neighbor gaps are smaller
    than any 72-bit quantizer's cell size — the driver oracle pins
    the quantized math exactly; this test pins the quality envelope."""
    from sonar_spark.operators.ann import pq_index, pq_search, pq_train

    C, B = pq_train()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = pq_index(emb, C, B)
    idx1 = {
        r["vec_id"]: (r["cell"], tuple(r["codes"])) for r in idx.collect()
    }
    idx2 = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in pq_index(emb.repartition(7), C, B).collect()
    }
    assert idx1 == idx2 and len(idx1) > 0
    assert all(len(v[1]) == 8 for v in idx1.values())

    rows = emb.collect()
    V = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in rows
    }
    # quantization fidelity: recon error << random-pair distance
    errs = []
    for i, (cell, codes) in idx1.items():
        recon = C[cell].copy()
        sub = C.shape[1] // B.shape[0]
        for s in range(B.shape[0]):
            recon[s * sub : (s + 1) * sub] += B[s][codes[s]]
        errs.append(float(((V[i] - recon) ** 2).sum()))
    ids = sorted(V)
    rnd = [
        float(((V[a] - V[b]) ** 2).sum())
        for a, b in zip(ids[:200], ids[250:450])
    ]
    assert np.mean(errs) < 0.5 * np.mean(rnd), (np.mean(errs), np.mean(rnd))

    # search quality: ADC top-5 in the near tail of true distances
    qs = emb.where(F.col("vec_id") < 8)
    monkeypatch.setattr(ann, "_PQ_N_PROBE", 8)  # the queries probe 2
    got = pq_search(idx, qs, C, B).collect()
    top = {}
    for r in got:
        top.setdefault(r["query_id"], []).append(r["neighbor_id"])
    pcts = []
    for q, nbrs in top.items():
        d_all = sorted(
            (float(((V[i] - V[q]) ** 2).sum()), i) for i in V if i != q
        )
        rank_of = {i: r for r, (_, i) in enumerate(d_all)}
        pcts.extend(rank_of[n] / len(d_all) for n in nbrs)
    assert np.mean(pcts) < 0.2, np.mean(pcts)  # measured ~0.08


def test_embedding_knn_keeps_antipodal_neighbor(spark, tmp_path):
    """embedding_knn ranks every other vector: an exact negation
    (cosine -1, which often computes one ulp below -1.0) must not be
    dropped by the no-filter threshold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    v0 = [
        0.0018383339340982316, -0.4137970831284381, -0.3556849165163359,
        -0.9752107026689719, 0.4811324870739124, 0.5384835018864853,
        -0.4997847410170141, -0.23615880423160815,
    ]
    rng = np.random.default_rng(5)
    vecs = [v0, [-x for x in v0]] + rng.standard_normal((4, 8)).tolist()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(6), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float64())),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = [
        r
        for r in E.q_embedding_knn(spark, str(tmp_path)).collect()
        if r["query_id"] == 0
    ]
    assert len(rows) == 5
    assert {r["neighbor_id"] for r in rows} == {1, 2, 3, 4, 5}
    assert [r["cosine_sim"] for r in rows if r["neighbor_id"] == 1] == [-1.0]


@pytest.mark.parametrize(
    "elem, d", [("float", 12), ("double", 12), ("float", 64), ("double", 64)]
)
def test_cosine_block_equals_catalyst_fold(spark, elem, d):
    """Certificate for kernels.cosine_block against the Catalyst fold
    functions.arrays.cosine_similarity on a cross join of two vector
    tables: bit-equal (float64 view, signbit-strict) on every pair,
    zero vectors on both sides and negative components included, for
    array<float> and array<double> at the chroma (12) and embedding
    (64) widths.  The right side is wider than one tile, so the
    tiled accumulation runs at least two tiles."""
    import pyarrow as pa

    from sonar_spark.functions.arrays import cosine_similarity
    from sonar_spark.kernels import cosine_block, vectors_matrix

    n, m = 40, 3300
    assert m > (1 << 17) // n  # >= 2 right-side tiles
    rng = np.random.default_rng(d)
    vtype = pa.list_(pa.float32() if elem == "float" else pa.float64())

    def table(rows, zero):
        v = rng.standard_normal((rows, d))
        v[zero] = 0.0
        return pa.table(
            {
                "id": pa.array(range(rows), pa.int64()),
                "v": pa.array(list(v), vtype),
            }
        )

    lt, rt = table(n, 3), table(m, 17)
    left, right = spark.createDataFrame(lt), spark.createDataFrame(rt)
    assert dict(left.dtypes)["v"] == f"array<{elem}>"
    got = (
        left.select(F.col("id").alias("i"), F.col("v").alias("a"))
        .crossJoin(right.select(F.col("id").alias("j"), F.col("v").alias("b")))
        .select("i", "j", cosine_similarity(F.col("a"), F.col("b")).alias("s"))
        .toArrow()
    )
    fold = np.empty((n, m))
    fold[got.column("i").to_numpy(), got.column("j").to_numpy()] = (
        got.column("s").to_numpy()
    )
    s = cosine_block(
        vectors_matrix(lt.column("v")), vectors_matrix(rt.column("v"))
    )
    assert got.num_rows == n * m
    assert (s[3] == 0.0).all() and (s[:, 17] == 0.0).all()
    assert (s < 0).any()
    np.testing.assert_array_equal(s.view(np.int64), fold.view(np.int64))


def test_vectors_matrix_and_cosine_block_reject_bad_input():
    """Spark-free: vectors_matrix reads a sliced or chunked column
    through its values buffer, returns (0, 0) for an empty column and
    raises ValueError on a ragged column or a null row; cosine_block
    raises ValueError when the two sides' dims differ."""
    import pyarrow as pa

    from sonar_spark.kernels import cosine_block, vectors_matrix

    rows = [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]
    arr = pa.array(rows, pa.list_(pa.float32()))
    np.testing.assert_array_equal(vectors_matrix(arr.slice(1)), rows[1:])
    np.testing.assert_array_equal(
        vectors_matrix(pa.chunked_array([arr.slice(0, 1), arr.slice(2)])),
        [rows[0], rows[2]],
    )
    assert vectors_matrix(arr).dtype == np.float64
    assert vectors_matrix(pa.array([], pa.list_(pa.float64()))).shape == (0, 0)
    with pytest.raises(ValueError, match="ragged"):
        vectors_matrix(pa.array([[1.0, 2.0], [1.0]]))
    with pytest.raises(ValueError, match="null"):
        vectors_matrix(pa.array([[1.0, 2.0], None]))
    with pytest.raises(ValueError, match="dims differ"):
        cosine_block(np.ones((2, 4)), np.ones((3, 3)))
