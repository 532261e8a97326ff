"""Approximate nearest-neighbor search over embedding columns:
IVF (inverted-file) index — k-means coarse quantizer + bucketed
candidate probing (SURVEY training-data-pipeline surface; the scale
path over the knn_bruteforce baseline in operators.topk; k-means
per reference algorithms/stats/clustering.go:156-330, seeded like its
seed-42 default :117-120).

Physical design at 10^12 rows:
- the coarse quantizer is trained driver-side on a bounded SAMPLE
  (deterministic takeSample analog), then broadcast — centroids are
  tiny (n_centroids x dim floats);
- assignment is a narrow mapInArrow pass (argmax of dot products
  against the broadcast centroid matrix);
- the index table is written bucketed by centroid_id, so a query
  probing n_probe buckets scans only those partitions (partition
  pruning);
- search: queries x probed buckets equi-join on centroid_id then
  in-bucket brute force + per-query top-k.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.arrays import cosine_similarity
from ..kernels import cosine_block, list_flat, spark_round, vectors_matrix
from ..session import arrow_batch, arrow_schema
from .topk import topk_per_group


def _normalize_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.where(n > 0, n, 1.0)


_N_CENTROIDS = 8
_SEED = 42


def train_centroids(emb: DataFrame) -> np.ndarray:
    """Spherical k-means on a deterministic sample (orderBy id, limit):
    returns (n_centroids, dim) float64 unit vectors. Lloyd iterations
    with empty-cluster re-seeding; deterministic for a fixed seed
    (clustering.go:117-120 seed-42 precedent)."""
    n_iter = 10
    sample = 10000
    t = emb.select("vec_id", "embedding").orderBy("vec_id").limit(sample).toArrow()
    X = _normalize_rows(vectors_matrix(t.column("embedding")))
    rng = np.random.default_rng(_SEED)
    k = min(_N_CENTROIDS, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(n_iter):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            if len(members) == 0:
                newC[j] = X[rng.integers(0, len(X))]
            else:
                newC[j] = members.mean(axis=0)
        C = _normalize_rows(newC)
    return C


def ivf_assign(emb: DataFrame, centroids: np.ndarray) -> DataFrame:
    """Assign every vector to its nearest centroid (cosine):
    (id, centroid_id, embedding). Narrow mapInArrow pass against the
    broadcast centroid matrix."""
    C = centroids.astype(np.float64)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(C)

    def gen(batches):
        import pyarrow as pa

        Cl = bc.value
        for batch in batches:
            vec = batch.column(batch.schema.get_field_index("embedding"))
            ids = batch.column(batch.schema.get_field_index("vec_id"))
            if len(vec) == 0:
                continue
            X = vectors_matrix(vec)
            Xn = _normalize_rows(X)
            assign = (Xn @ Cl.T).argmax(axis=1).astype(np.int32)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(assign), vec],
                names=["vec_id", "centroid_id", "embedding"],
            )

    vec_type = dict(emb.dtypes)["embedding"]
    id_type = dict(emb.dtypes)["vec_id"]
    return emb.select("vec_id", "embedding").mapInArrow(
        gen, schema=f"vec_id {id_type}, centroid_id int, embedding {vec_type}"
    )


_N_BITS = 256
_BAND_BITS = 16


def hyperplane_lsh_pairs(emb: DataFrame) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH candidate pairs —
    the 100-TB path for embedding-cosine near-dup: sign bits against a
    broadcast seeded Gaussian plane matrix, packed into
    n_bits/band_bits band keys, ONE shuffle on the band key, bucketed
    self-join with a size cap. P(bit agree) = 1 - angle/pi, so with
    r=16 bits x 16 bands a 0.98-cosine pair is missed with
    probability ~1e-14.

    Output: (doc_a, doc_b) distinct candidate pairs (verify with exact
    cosine downstream — candidates only)."""
    seed = 42
    max_bucket = 1000
    from pyspark.sql import Window

    n_bands = _N_BITS // _BAND_BITS

    def gen(batches):
        import pyarrow as pa
        import pyarrow.compute as pc  # noqa: F401

        planes = None
        for batch in batches:
            vec = batch.column(batch.schema.get_field_index("embedding"))
            ids = batch.column(batch.schema.get_field_index("vec_id"))
            if len(vec) == 0:
                continue
            X = vectors_matrix(vec)
            if planes is None:
                local_rng = np.random.default_rng(seed)
                planes = local_rng.standard_normal((X.shape[1], _N_BITS))
            bits = (X @ planes) > 0  # (n, n_bits) sign pattern
            # pack each band's bits into an int64 key (fixed order)
            keys = np.zeros((len(X), n_bands), dtype=np.int64)
            for b in range(n_bands):
                for j in range(_BAND_BITS):
                    keys[:, b] = (keys[:, b] << 1) | bits[
                        :, b * _BAND_BITS + j
                    ].astype(np.int64)
            band_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(len(X) + 1, dtype=np.int32) * n_bands
                ),
                pa.array(keys.ravel()),
            )
            yield pa.RecordBatch.from_arrays(
                [ids, band_arr], names=["vec_id", "bands"]
            )

    id_type = dict(emb.dtypes)["vec_id"]
    sigs = emb.select("vec_id", "embedding").mapInArrow(
        gen, schema=f"vec_id {id_type}, bands array<long>"
    )
    b = sigs.select(
        "vec_id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    counted = b.withColumn(
        "__n",
        F.count("*").over(Window.partitionBy("band_idx", "band_hash")),
    ).where(F.col("__n") <= max_bucket)
    left = counted.select(
        "band_idx", "band_hash", F.col("vec_id").alias("doc_a")
    )
    right = counted.select(
        "band_idx", "band_hash", F.col("vec_id").alias("doc_b")
    )
    return (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def ivf_probes(
    queries: DataFrame,
    centroids: np.ndarray,
    *,
    n_probe: int = 4,
) -> DataFrame:
    """Per-query probe list: top n_probe centroids by cosine against
    the broadcast centroid matrix, emitted as (query_id, centroid_id)
    rows — one narrow Arrow pass."""
    C = centroids.astype(np.float64)
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast(C)

    def probes(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        Cl = bc.value
        npb = min(n_probe, len(Cl))
        for batch in batches:
            vec = batch.column(batch.schema.get_field_index("embedding"))
            ids = batch.column(batch.schema.get_field_index("vec_id"))
            if len(vec) == 0:
                continue
            X = vectors_matrix(vec)
            sims = _normalize_rows(X) @ Cl.T
            top = np.argsort(-sims, axis=1, kind="stable")[:, :npb].astype(
                np.int32
            )
            n = len(X)
            idx = np.repeat(np.arange(n), npb)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(ids, pa.array(idx)),
                    pa.array(top.ravel()),
                ],
                names=["query_id", "centroid_id"],
            )

    id_type = dict(queries.dtypes)["vec_id"]
    return queries.select("vec_id", "embedding").mapInArrow(
        probes, schema=f"query_id {id_type}, centroid_id int"
    )


_K = 5
_N_PROBE = 8


def ivf_search(
    index: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
) -> DataFrame:
    """Probe the n_probe nearest centroids per query, brute-force
    within probed buckets, top-_K by cosine. With _N_PROBE ==
    n_centroids this is exhaustive and must equal knn_bruteforce.

    Output: query_id, rank, neighbor_id, cosine_sim."""
    probes = ivf_probes(queries, centroids, n_probe=_N_PROBE)
    qv = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    cand = (
        probes.join(
            index.select(
                "centroid_id",
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("__cv"),
            ),
            "centroid_id",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .join(F.broadcast(qv), "query_id")
    )
    scored = cand.withColumn(
        "cosine_sim", cosine_similarity(F.col("__qv"), F.col("__cv"))
    ).select("query_id", "neighbor_id", "cosine_sim")
    return topk_per_group(
        scored,
        "query_id",
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        _K,
    )


def _scored_blocks(batches, emb_path: str):
    """The block nested-loop scorer shared by allpairs_cosine and
    hard_negatives_allpairs: reads the FULL right side (vec_id,
    embedding) executor-side from the parquet file, then yields (left
    ids, right ids, kernels.cosine_block(left, right)) per non-empty
    Arrow batch of (id, vector) rows."""
    import pyarrow.parquet as pq

    right = pq.read_table(emb_path, columns=["vec_id", "embedding"])
    rid = right.column("vec_id").to_numpy()
    rb = vectors_matrix(right.column("embedding"))
    for batch in batches:
        if batch.num_rows:
            yield (
                batch.column(0).to_numpy(),
                rid,
                cosine_block(vectors_matrix(batch.column(1)), rb),
            )


def allpairs_cosine(
    emb: DataFrame,
    emb_path: str,
    *,
    threshold: float = 0.4,
    directed: bool = False,
) -> DataFrame:
    """All-pairs cosine similarity above a threshold — the exact
    quadratic near-dup BASELINE (the scale path is the LSH variant,
    hyperplane_lsh_pairs).  Block nested-loop shape: each task takes
    its partition of the left side and scores it against the FULL
    right side, which it reads executor-side from the (small) parquet
    file — the build side of a broadcast hash join, built per task
    without shipping pair rows through a join first.  The threshold
    is applied INSIDE the kernel, so only qualifying pairs ever
    materialize (the expression-join form materialized all O(n^2)
    pair rows before filtering).

    Scores come from kernels.cosine_block, bit-equal to the Catalyst
    fold version (certified by tests/test_ann.py).

    Output: (id_a, id_b, s) with id_a < id_b, s >= threshold, s RAW
    (caller rounds at its quantization boundary).  directed=True
    emits LEFT x ALL instead (id_a from the left side only, every
    id_b != id_a) — the anchors-bounded candidate shape of
    hard-negative mining when the left side is pre-filtered."""

    def gen(batches):
        import pyarrow as pa

        for lid, rid, s in _scored_blocks(batches, emb_path):
            if directed:
                mask = (lid[:, None] != rid[None, :]) & (s >= threshold)
            else:
                mask = (lid[:, None] < rid[None, :]) & (s >= threshold)
            ii, jj = np.nonzero(mask)
            # chunked yields: one low-threshold block can qualify
            # millions of pairs, and a single yielded batch is a
            # single Arrow batch — capping rows per yield bounds the
            # executor's direct-buffer usage (guide §4.2 batch-size
            # caveat; observed 300 MB allocations at sf1.0 directed)
            step = 1_000_000
            for lo in range(0, len(ii), step):
                i, j = ii[lo : lo + step], jj[lo : lo + step]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(lid[i], pa.int64()),
                        pa.array(rid[j], pa.int64()),
                        pa.array(s[i, j]),
                    ],
                    names=["id_a", "id_b", "s"],
                )

    return emb.select("vec_id", "embedding").mapInArrow(
        gen, schema="id_a long, id_b long, s double"
    )


_N_NEGATIVES = 3
_POS_THRESHOLD = 0.4


def hard_negatives_allpairs(emb: DataFrame, emb_path: str) -> DataFrame:
    """Hard-negative mining fused INTO the block nested-loop cosine
    kernel (r6, guide §1.2 'fix the distributed algorithm first'):
    each task scores its left block against the full executor-side
    table exactly like allpairs_cosine (kernels.cosine_block), and —
    because every left row sees its COMPLETE similarity row — reduces
    it in place to the hard-negative rows: n_excluded =
    #(s >= pos_threshold), top-k of the s < pos_threshold candidates
    by (s desc, neighbor id asc) on RAW doubles, rows only for
    anchors (n_excluded >= 1).

    The r5 plan materialized the O(n^2) pair table through a mirror
    union and two windows (179 s at sf1.0, 41% of the whole bench);
    the anchors-bounded directed two-pass (the documented corpus-scale
    shape) degenerates on this corpus because ~100% of vectors have a
    positive at 0.4.  Fusing the rank reduction into the kernel emits
    exactly the <= k output rows per anchor — no pair row ever leaves
    the task.  Equivalence to the windowed reference over
    allpairs_cosine(threshold=-1) (tests/test_negatives.py
    hard_negatives) is certified by tests/test_negatives.py::
    test_hard_negatives_kernel_equals_windowed.

    Output: query_id, rank (int), neighbor_id, cosine_sim (6dp via
    kernels.spark_round — the operator's F.round boundary), n_excluded
    (long)."""

    def gen(batches):
        import pyarrow as pa

        for lid, rid, s in _scored_blocks(batches, emb_path):
            q_ids, ranks, n_ids, sims, n_excs = [], [], [], [], []
            for i in range(len(lid)):
                row = s[i]
                other = rid != lid[i]
                n_exc = int(((row >= _POS_THRESHOLD) & other).sum())
                if n_exc == 0:
                    continue
                below = other & (row < _POS_THRESHOLD)
                cand_s = row[below]
                cand_id = rid[below]
                # top-k with exact (s desc, id asc) raw-double
                # semantics: prune to the rows tied-or-above the
                # k-th largest s with argpartition (O(n)), THEN
                # lexsort only the survivors — a full 20k-row
                # lexsort per anchor dominated the task profile
                if len(cand_s) > _N_NEGATIVES:
                    kth = np.partition(cand_s, len(cand_s) - _N_NEGATIVES)[
                        len(cand_s) - _N_NEGATIVES
                    ]
                    keep = cand_s >= kth
                    cand_s = cand_s[keep]
                    cand_id = cand_id[keep]
                # -s is an exact sign flip; lexsort's last key is
                # primary
                order = np.lexsort((cand_id, -cand_s))[:_N_NEGATIVES]
                m = len(order)
                q_ids.extend([lid[i]] * m)
                ranks.extend(range(1, m + 1))
                n_ids.extend(cand_id[order])
                sims.extend(cand_s[order])
                n_excs.extend([n_exc] * m)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(q_ids, dtype=np.int64)),
                    pa.array(np.asarray(ranks, dtype=np.int32)),
                    pa.array(np.asarray(n_ids, dtype=np.int64)),
                    pa.array(
                        spark_round(np.asarray(sims, dtype=np.float64), 6)
                    ),
                    pa.array(np.asarray(n_excs, dtype=np.int64)),
                ],
                names=[
                    "query_id", "rank", "neighbor_id", "cosine_sim",
                    "n_excluded",
                ],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        gen,
        schema=(
            "query_id long, rank int, neighbor_id long, "
            "cosine_sim double, n_excluded long"
        ),
    )


# ------------------------------------------------------------- IVF-PQ

def pq_train() -> tuple[np.ndarray, np.ndarray]:
    """Product-quantization codebooks: coarse centroids C
    (n_cells, dim) + per-subspace codebooks B (n_sub, n_codes,
    dim/n_sub), trained with plain Lloyd k-means on a SEEDED SYNTHETIC
    sample — codebooks are trained offline on a representative sample
    in any real deployment; a deterministic synthetic sample makes
    them plan-time constants BOTH engines can embed (the CQT-kernel /
    tonnetz-coordinate precedent), so the quantized search is fully
    value-oracle-able.  Euclidean k-means (PQ quantizes residual
    geometry, not direction).  The sample is drawn uniform on the
    unit sphere — the embeddings table is unit-normalized, and
    codebooks must live in the data's geometry (training on raw
    N(0,1) vectors of norm ~8 put every reconstruction hopelessly
    far from the sphere: measured recall 0)."""
    dim = 64
    n_cells = 8
    n_sub = 8
    n_codes = 64
    n_iter = 10
    seed = 7
    sample = 1024
    rng = np.random.default_rng(seed)
    X = rng.normal(0.0, 1.0, size=(sample, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)

    def lloyd(data: np.ndarray, k: int) -> np.ndarray:
        C = data[rng.choice(len(data), size=k, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((data[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(k):
                m = data[a == j]
                C[j] = m.mean(axis=0) if len(m) else data[
                    rng.integers(0, len(data))
                ]
        return C

    C = lloyd(X, n_cells)
    sub = dim // n_sub
    # residuals against the assigned coarse centroid
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    R = X - C[d2.argmin(axis=1)]
    B = np.stack(
        [lloyd(R[:, s * sub : (s + 1) * sub], n_codes) for s in range(n_sub)]
    )
    return C, B


def _d2_asc(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise squared distance with ascending-dim accumulation
    (fixed float order — reproducible across batch shapes and
    engines).  a: (n, d), b: (d,) -> (n,)."""
    out = np.zeros(len(a))
    for k in range(a.shape[1]):
        diff = a[:, k] - b[k]
        out += diff * diff
    return out


def _r6pos(x: np.ndarray) -> np.ndarray:
    """Half-up 6-dp for non-negative values (the quantized compare
    boundary shared with the SQL side's round(x, 6))."""
    return np.floor(x * 1e6 + 0.5) / 1e6


def pq_index(emb: DataFrame, C: np.ndarray, B: np.ndarray) -> DataFrame:
    """Encode every vector: coarse cell (argmin 6-dp-rounded squared
    distance, ties -> smaller cell) + per-subspace residual codes
    (same rule).  Output (id, cell, codes array<int>) — the 100 TB
    memory story: 64 float64 dims (512 B) become 1 cell byte + 8 code
    bytes."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast((C, B))

    def gen(batches):
        import pyarrow as pa

        Cl, Bl = bc.value
        n_sub = Bl.shape[0]
        sub = Cl.shape[1] // n_sub
        for batch in batches:
            if not batch.num_rows:
                continue
            X = vectors_matrix(batch.column(1))
            cd = np.stack(
                [_r6pos(_d2_asc(X, Cl[j])) for j in range(len(Cl))], axis=1
            )
            cell = cd.argmin(axis=1)  # first minimum = smaller cell
            R = X - Cl[cell]
            codes = np.empty((len(X), n_sub), dtype=np.int32)
            for s in range(n_sub):
                rs = R[:, s * sub : (s + 1) * sub]
                dd = np.stack(
                    [_r6pos(_d2_asc(rs, Bl[s, c])) for c in range(Bl.shape[1])],
                    axis=1,
                )
                codes[:, s] = dd.argmin(axis=1)
            offsets = np.arange(len(X) + 1, dtype=np.int32) * n_sub
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pa.array(cell.astype(np.int32)),
                    pa.ListArray.from_arrays(
                        pa.array(offsets), pa.array(codes.ravel())
                    ),
                ],
                names=["vec_id", "cell", "codes"],
            )

    id_type = dict(emb.dtypes)["vec_id"]
    return emb.select("vec_id", "embedding").mapInArrow(
        gen, schema=f"vec_id {id_type}, cell int, codes array<int>"
    )


_PQ_N_PROBE = 2


def pq_search(
    index: DataFrame,
    queries: DataFrame,
    C: np.ndarray,
    B: np.ndarray,
) -> DataFrame:
    """Asymmetric-distance (ADC) IVF-PQ search: each query probes its
    n_probe nearest coarse cells (6-dp-rounded distance, ties ->
    smaller cell), candidates are the index rows of the probed cells
    (a broadcast join on cell — the partition-pruning shape), and the
    approximate distance is the ADC sum over subspaces
    sum_s ||q_s - C_cell_s - B_s,code_s||^2, 6-dp-rounded before
    ranking (rank ties -> smaller neighbor id).  The exact vectors
    are never touched after indexing."""
    spark = index.sparkSession
    qt = queries.select("vec_id", "embedding").toArrow()  # bounded query set
    Q = vectors_matrix(qt.column("embedding"))
    qids = qt.column("vec_id").to_numpy()
    n_sub = B.shape[0]
    sub = C.shape[1] // n_sub
    # probe set per query (driver-side planning over tiny matrices)
    probes = []
    for qi, q in zip(qids, Q):
        cd = _r6pos(np.array([
            float(_d2_asc(q[None, :], C[j])[0]) for j in range(len(C))
        ]))
        order = np.lexsort((np.arange(len(C)), cd))
        for cell in order[:_PQ_N_PROBE]:
            probes.append((int(qi), int(cell)))
    pr = spark.createDataFrame(probes, f"query_id long, cell int")
    cand = index.join(F.broadcast(pr), "cell")
    bc = spark.sparkContext.broadcast((C, B, {int(i): q for i, q in zip(qids, Q)}))

    schema = "query_id long, neighbor_id long, adc_dist double"
    out = arrow_schema(schema)

    def gen(batches):
        Cl, Bl, qmap = bc.value
        for batch in batches:
            if not batch.num_rows:
                continue
            qid = batch.column("query_id")
            dists = np.zeros(batch.num_rows)
            cells = batch.column("cell").to_numpy()
            codes = list_flat(batch.column("codes"))[0].reshape(-1, n_sub)
            qs = np.stack([qmap[q] for q in qid.to_pylist()])
            for s in range(n_sub):
                qsv = qs[:, s * sub : (s + 1) * sub]
                recon = Cl[cells][:, s * sub : (s + 1) * sub] + Bl[s][codes[:, s]]
                diffsq = np.zeros(batch.num_rows)
                for d in range(sub):  # ascending dims inside subspace
                    dd = qsv[:, d] - recon[:, d]
                    diffsq += dd * dd
                dists += diffsq  # ascending subspaces
            yield arrow_batch(
                out, [qid, batch.column("vec_id"), _r6pos(dists)]
            )

    from pyspark.sql import Window

    scored = cand.mapInArrow(gen, schema).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _K)
        .select("query_id", "rank", "neighbor_id", "adc_dist")
    )
