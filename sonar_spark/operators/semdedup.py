"""Semantic deduplication — SemDeDup (Abbas et al. 2023, "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication").
The embedding-space near-duplicate pruning step LAION/DataComp-style
pipelines run after exact/MinHash dedup: cluster the embeddings with
k-means so the quadratic pair search is bounded per cluster, then
inside each cluster drop every member of a tau-similar pair except
the one with the LOWEST cosine similarity to its cluster centroid
(the paper's keep rule — low-centroid-sim items are the least
redundant representatives).

The reference engine has no embedding-space curation surface; this
extends its dedup family (exact / MinHash / SimHash / hyperplane-LSH
near-dup) with the published semantic axis.

Relational shape (the whole point of SemDeDup at 100 TB):

- cluster assignment is a broadcast of K constant centroids onto one
  corpus scan (argmax of K cosine columns — no shuffle);
- the pair search runs per cluster after ONE shuffle on the cluster
  key — quadratic only within a cluster, never across the corpus.
  At web scale K grows to ~10^5 (the paper uses 50k on LAION) so
  cluster populations stay bounded; here K=8 over the test corpus.

Cross-engine determinism: the centroids are PLAN-TIME CONSTANTS —
a seeded unit-sphere draw shared between the Spark lit() arrays and
the DuckDB VALUES table as repr floats (the IVF-PQ codebook
precedent: the oracle has no access to data-trained centroids, and
for SemDeDup the k-means quality only shapes the bucketing, not the
keep/drop semantics).  All similarities are rounded to 6dp at the
named quantized boundary before any argmax / threshold / keep-rule
comparison, with (value, id) lexicographic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


SEMDEDUP_K = 8
_DIM = 64
_SEED = 20230322  # SemDeDup arXiv submission date


def semdedup_centroids() -> list[list[float]]:
    """K seeded unit-sphere centroids (deterministic; shared with the
    DuckDB oracle as repr-float literals)."""
    import numpy as np

    rng = np.random.RandomState(_SEED)
    c = rng.randn(SEMDEDUP_K, _DIM)
    c /= np.sqrt((c * c).sum(axis=1, keepdims=True))
    return [[float(v) for v in row] for row in c]


def semdedup_centroids_sql_values() -> str:
    """The same centroids as DuckDB VALUES rows (k, pos, val) —
    1-based pos to match generate_subscripts."""
    rows = []
    for k, row in enumerate(semdedup_centroids()):
        for pos, v in enumerate(row, start=1):
            rows.append(f"({k}, {pos}, {v!r})")
    return ",\n             ".join(rows)


_TAU = 0.95


def semdedup(corpus: DataFrame) -> DataFrame:
    """SemDeDup keep/drop over ``corpus`` (id, array<double> vector).

    Output per input row: cluster (0..K-1), centroid_sim (6dp),
    n_near (tau-similar same-cluster neighbours), dropped (1 iff a
    tau-similar neighbour with lexicographically smaller
    (centroid_sim, id) exists — i.e. the keep rule retains the
    lowest-centroid-sim member of every similar group).
    """
    cents = semdedup_centroids()

    # Centroid assignment as an Arrow-batched kernel (the interpreted
    # Catalyst cosine fold over K x dim per row was the slow path —
    # same lesson as the pair stage below).  Bit-parity with the fold
    # version: kernels.cosine_block, then the half-up (away-from-zero)
    # 6dp round with -0.0 normalized; argmax iterates k ascending with
    # strict > (the array_max lexicographic (s, -k) tie rule).
    import numpy as np

    from ..kernels import cosine_block, vectors_matrix

    cmat = np.asarray(cents, dtype=np.float64)
    n_k = len(cmat)

    def _round6(x: np.ndarray) -> np.ndarray:
        return (
            np.where(
                x >= 0.0,
                np.floor(x * 1e6 + 0.5),
                np.ceil(x * 1e6 - 0.5),
            )
            / 1e6
            + 0.0
        )

    def _assign_kernel(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            s6 = _round6(cosine_block(vectors_matrix(batch.column(1)), cmat))
            best_s = s6[:, 0].copy()
            best_k = np.zeros(len(s6), dtype=np.int64)
            for k in range(1, n_k):  # ascending, strict >: ties keep
                upd = s6[:, k] > best_s  # the smaller k
                best_s[upd] = s6[upd, k]
                best_k[upd] = k
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).cast(pa.int64()),
                    batch.column(1),
                    pa.array(best_k),
                    pa.array(best_s),
                ],
                names=["__id", "__v", "cluster", "centroid_sim"],
            )

    asg = corpus.select("vec_id", "embedding").mapInArrow(
        _assign_kernel,
        schema=(
            "__id long, __v array<double>, cluster long,"
            " centroid_sim double"
        ),
    )

    # Within-cluster pair search as a per-cluster block kernel.  The
    # expression-join draft computed the interpreted Catalyst cosine
    # fold over every within-cluster pair row (~2.2M pairs x 64 dims
    # at sf0.1 = 9.5 s); the kernel scores each cluster's n x n block
    # with kernels.cosine_block (bit-equal to the fold), applies the
    # half-up 6dp round + tau threshold and the keep rule in-kernel,
    # and emits every member's final row — a member's neighbours all
    # sit in its own cluster, so no pair row ever leaves the task and
    # the assigned table has this one consumer (nothing to persist).
    # ONE exchange on the cluster key; per-cluster state (Arrow
    # slices) carries across Arrow batches (clusters can exceed a
    # 10k-row batch — the as-of per-batch kernel lesson).
    tau_f = float(_TAU)

    def _cluster_kernel(batches):
        import pyarrow as pa

        cur_key = None
        parts: list = []

        def flush():
            if not parts:
                return
            t = pa.Table.from_batches(parts)
            idv = t.column("__id").to_numpy()
            csv = t.column("centroid_sim").to_numpy()
            vb = vectors_matrix(t.column("__v"))
            # half-up 6dp (np.round is half-even — never use it here)
            near = _round6(cosine_block(vb, vb)) >= tau_f
            np.fill_diagonal(near, False)
            # j beats i when (centroid_sim, id) of j is lexicographically
            # smaller: the keep rule retains the lowest-centroid-sim
            # member of every similar group
            beats = (csv[None, :] < csv[:, None]) | (
                (csv[None, :] == csv[:, None]) & (idv[None, :] < idv[:, None])
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(idv),
                    pa.array(np.full(len(idv), cur_key, dtype=np.int64)),
                    pa.array(csv),
                    pa.array(near.sum(axis=1, dtype=np.int64)),
                    pa.array((near & beats).any(axis=1).astype(np.int64)),
                ],
                names=["vec_id", "cluster", "centroid_sim", "n_near", "dropped"],
            )

        for batch in batches:
            if not batch.num_rows:
                continue
            cl = batch.column(0).to_numpy()
            cut = np.flatnonzero(cl[1:] != cl[:-1]) + 1
            starts = np.concatenate(([0], cut))
            ends = np.concatenate((cut, [len(cl)]))
            for s, e in zip(starts, ends):
                if cl[s] != cur_key:
                    yield from flush()
                    cur_key = cl[s]
                    parts = []
                parts.append(batch.slice(s, e - s))
        yield from flush()

    return (
        asg.repartition("cluster")
        .sortWithinPartitions("cluster", "__id")
        .select("cluster", "__id", "__v", "centroid_sim")
        .mapInArrow(
            _cluster_kernel,
            schema=(
                "vec_id long, cluster long, centroid_sim double,"
                " n_near long, dropped long"
            ),
        )
    )
