"""Random projection (Johnson-Lindenstrauss) for embedding columns —
the dimensionality-reduction step ahead of ANN / clustering at scale:
project dim-d vectors onto a seeded Gaussian matrix R (scaled
1/sqrt(k)) so pairwise distances are preserved in expectation, at a
k/d memory and compute discount for everything downstream.

Determinism/oracle contract: R is a PLAN-TIME CONSTANT (seeded draw,
shared with the DuckDB oracle as repr-float VALUES — the semdedup
centroid / IVF-PQ codebook precedent), and every float sum is carried
as 9dp integer micro-units (products and squared differences rounded
at the named quantized boundary, then exact BIGINT sums), so
projections and the distance report are bit-identical in any engine
and under any partitioning/order.

Scale shape: the projection is one posexplode + a broadcast join of
the d*k-row matrix + one (vec, j) aggregate — map-side combined, no
corpus self-join; the verification pair sample is a deterministic
vec_id+1 join, linear in the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

JL_SEED = 1984  # Johnson & Lindenstrauss publication year
JL_IN = 64
JL_OUT = 16


def jl_matrix() -> list[tuple[int, int, float]]:
    """(k, j, r) rows of the seeded projection matrix, r ~
    N(0, 1/sqrt(out_dim)) — shared with the oracle as repr floats."""
    import numpy as np

    rng = np.random.RandomState(JL_SEED)
    mat = rng.randn(JL_IN, JL_OUT) / np.sqrt(JL_OUT)
    return [
        (k, j, float(mat[k, j]))
        for k in range(JL_IN)
        for j in range(JL_OUT)
    ]


def jl_matrix_sql_values() -> str:
    return ",\n             ".join(
        f"({k}, {j}, {r!r})" for k, j, r in jl_matrix()
    )


def _micro9(col) -> F.Column:
    return F.round(F.round(col, 9) * 1e9, 0).cast("long")


def jl_project(emb: DataFrame) -> DataFrame:
    """(id, j, p) projected coordinates, 6dp (micro-unit sums).

    r6: vectorized Arrow kernel (guide §4.2) replacing the
    posexplode + broadcast-join + 20M-row hash aggregate (the
    explode amplified every vector d*out_dim-fold before the
    shuffle; 17.3 s at sf1.0).  Same arithmetic contract: each
    product v_k * r_kj is 9dp-micro-quantized (kernels.
    spark_round_micro == the Catalyst round-round-cast idiom), the
    per-(id, j) sum is exact int64, p = round(mu/1e9 + 1e-12, 6) —
    certified bit-equal to the retained expression form by
    tests/test_projection_kernels.py.  Contract: vectors must be
    JL_IN-dimensional (the kernel broadcasts against the full R;
    the expression form would silently project the overlapping k
    range of a shorter vector instead)."""
    import numpy as np

    from ..kernels import spark_round, spark_round_micro, vectors_matrix

    # jl_matrix emits (k, j, r) in k-major order -> row-major reshape
    R = np.array(
        [r for (_, _, r) in jl_matrix()], dtype=np.float64
    ).reshape(JL_IN, JL_OUT)

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            V = vectors_matrix(batch.column(1))
            ids = batch.column(0).to_numpy()
            n, d = V.shape
            # (n, d, out) product tensor, micro-quantized per product
            # then summed exactly over k — chunked to bound memory
            out_ids = np.repeat(ids, JL_OUT)
            out_j = np.tile(np.arange(JL_OUT, dtype=np.int32), n)
            mus = np.empty((n, JL_OUT), dtype=np.int64)
            step = 2048
            for lo in range(0, n, step):
                hi = min(lo + step, n)
                prod = V[lo:hi, :, None] * R[None, :, :]
                micro = spark_round_micro(prod.ravel()).reshape(
                    hi - lo, d, JL_OUT
                )
                mus[lo:hi] = micro.sum(axis=1)
            p = spark_round(mus.ravel() / 1e9 + 1e-12, 6)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, pa.int64()), pa.array(out_j), pa.array(p)],
                names=["vec_id", "j", "p"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        gen, schema="vec_id long, j int, p double"
    )


def jl_distance_report(emb: DataFrame) -> DataFrame:
    """Distance-preservation report over the deterministic
    (even id, id+1) pair sample: squared distance before and after
    projection and their ratio (expectation 1 under JL; variance
    ~2/out_dim).  Output: vec_id_a, vec_id_b, d2_orig, d2_proj,
    ratio — all 6dp."""
    # the projection table feeds both pair sides — persist it so the
    # posexplode+join+aggregate runs once (the dsir model precedent)
    proj = jl_project(emb).persist()
    a = emb.select(
        F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("__va")
    ).where(F.col("vec_id_a") % 2 == 0)
    b = emb.select(
        F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("__vb")
    )
    pairs = a.join(
        b, F.col("vec_id_b") == F.col("vec_id_a") + 1
    )
    d2o_micro = F.aggregate(
        F.zip_with(
            "__va",
            "__vb",
            lambda x, y: F.round((x - y) * (x - y), 9),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.round(t * 1e9, 0).cast("long"),
    )
    # orig feeds the projected pair frame and the final join, but the
    # pair table is tiny and the fold cheap — recomputing beats a
    # persist barrier here (measured: the persist cost bench +1s)
    orig = pairs.select(
        "vec_id_a",
        "vec_id_b",
        F.round(d2o_micro / 1e9 + 1e-12, 6).alias("d2_orig"),
    )
    pa = proj.select(
        F.col("vec_id").alias("vec_id_a"), "j", F.col("p").alias("__pa")
    )
    pb = proj.select(
        F.col("vec_id").alias("vec_id_b"), "j", F.col("p").alias("__pb")
    )
    dproj = (
        orig.select("vec_id_a", "vec_id_b")
        .join(pa, "vec_id_a")
        .join(pb, ["vec_id_b", "j"])
        .groupBy("vec_id_a", "vec_id_b")
        .agg(
            F.sum(
                _micro9(
                    (F.col("__pa") - F.col("__pb"))
                    * (F.col("__pa") - F.col("__pb"))
                )
            ).alias("__mu")
        )
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(F.col("__mu") / 1e9 + 1e-12, 6).alias("d2_proj"),
        )
    )
    return orig.join(dproj, ["vec_id_a", "vec_id_b"]).select(
        "vec_id_a",
        "vec_id_b",
        "d2_orig",
        "d2_proj",
        F.when(F.col("d2_orig") > 0,
               F.round(F.col("d2_proj") / F.col("d2_orig") + 1e-12, 6))
        .otherwise(F.lit(0.0))
        .alias("ratio"),
    )


def int8_quantize_report(emb: DataFrame) -> DataFrame:
    """Per-vector int8 affine quantization report — the 8x storage
    compression embedding stores apply before ANN (the scalar cousin
    of the IVF-PQ codebooks): q_i = round((v_i - min) / scale) with
    scale = (max - min) / 255, reconstruction v' = min + q * scale.

    r6: executed as a vectorized Arrow kernel (mapInArrow + numpy,
    guide §4.2) instead of the interpreted Catalyst array-lambda
    fold — the fold evaluated ~6 interpreted expressions per element
    per row (14.1 s at sf1.0); the kernel does the same arithmetic
    batched (sub-second).  Bit-exactness: every float op is the same
    IEEE double op in the same order, and every round boundary goes
    through kernels.spark_round / spark_round_micro (exact HALF_UP
    on the shortest decimal repr, the Catalyst semantics) — certified
    bit-equal to the retained expression form by
    tests/test_projection_kernels.py over testdata + random vectors.

    All decision points are deterministic: min/max are exact doubles,
    scale rides one double division, the code round gets the +1e-12
    tie nudge (both engines), codes clamp to [0, 255], and the
    reconstruction error is a 9dp micro-unit sum.  A zero-range
    vector (scale == 0) quantizes to all-zero codes and reconstructs
    exactly.

    Output per vector: vmin/vmax (6dp), code_sum (exact int checksum
    of the 64 codes), rmse (6dp).  One scan, zero shuffles (per-row
    kernel).
    """
    import numpy as np

    from ..kernels import spark_round, spark_round_micro, vectors_matrix

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            if not batch.num_rows:
                continue
            V = vectors_matrix(batch.column(1))
            n, d = V.shape
            mn = V.min(axis=1)
            mx = V.max(axis=1)
            sc = (mx - mn) / 255.0
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = (V - mn[:, None]) / sc[:, None] + 1e-12
            q = spark_round(
                np.where(sc[:, None] > 0, raw, 0.0).ravel(), 0
            ).reshape(n, d)
            q = np.clip(q, 0, 255)
            q = np.where(sc[:, None] > 0, q, 0.0)
            recon = mn[:, None] + q * sc[:, None]
            diff = V - recon
            t = spark_round_micro((diff * diff).ravel()).reshape(n, d)
            err = t.sum(axis=1)
            rmse = spark_round(np.sqrt(err / 1e9 / d) + 1e-12, 6)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0).cast(pa.int64()),
                    pa.array(spark_round(mn + 1e-12, 6)),
                    pa.array(spark_round(mn + sc * 255.0 + 1e-12, 6)),
                    pa.array(q.sum(axis=1).astype(np.int64)),
                    pa.array(rmse),
                ],
                names=["vec_id", "vmin", "vmax", "code_sum", "rmse"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        gen,
        schema=(
            "vec_id long, vmin double, vmax double, "
            "code_sum long, rmse double"
        ),
    )
