"""Kernelization certificates for the r6 projection kernels: the
numpy/Arrow forms of jl_project and int8_quantize_report must be
bit-identical to the retained Catalyst expression forms (the
content_detect kernel-swap protocol), including rows engineered onto
rounding boundaries."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sonar_spark.functions.projection import _micro9, jl_matrix


def _vec_table(spark, n=300, dim=64, seed=5):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        v = rng.normal(0.0, 1.0, dim)
        if i % 17 == 0:
            v = np.full(dim, float(rng.normal()))  # zero-range vector
        if i % 23 == 0:
            # quantize components onto 1/255 grid -> code rounds sit
            # exactly on .5 boundaries without the 1e-12 nudge
            v = np.round(v * 255) / 255.0
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def _sorted(df):
    cols = sorted(df.columns)
    return [tuple(r) for r in df.select(cols).orderBy(cols).collect()]


def jl_project_expr(emb: DataFrame, *, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """The posexplode + broadcast-join expression form of jl_project —
    the reference the Arrow kernel is certified bit-equal against."""
    spark = emb.sparkSession
    rdf = spark.createDataFrame(
        jl_matrix(), "k int, j int, r double"
    )
    pos = emb.select(
        id_col, F.posexplode(vec_col).alias("k", "__v")
    )
    return (
        pos.join(F.broadcast(rdf), "k")
        .groupBy(id_col, "j")
        .agg(F.sum(_micro9(F.col("__v") * F.col("r"))).alias("__mu"))
        .select(
            id_col,
            "j",
            F.round(F.col("__mu") / 1e9 + 1e-12, 6).alias("p"),
        )
    )


def int8_quantize_report_expr(
    emb: DataFrame, *, id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The Catalyst array-expression form of int8_quantize_report —
    the reference the kernel is certified bit-equal against."""
    v = F.col(vec_col)
    vmin = F.array_min(v)
    vmax = F.array_max(v)
    scale = (vmax - vmin) / F.lit(255.0)
    code = F.transform(
        v,
        lambda x: F.when(
            scale > 0,
            F.least(
                F.lit(255),
                F.greatest(
                    F.lit(0),
                    F.round((x - vmin) / scale + 1e-12, 0).cast("int"),
                ),
            ),
        ).otherwise(F.lit(0)),
    )
    base = emb.select(
        id_col,
        v.alias("__v"),
        vmin.alias("__mn"),
        scale.alias("__sc"),
        code.alias("__q"),
    )
    err_micro = F.aggregate(
        F.zip_with(
            "__v",
            "__q",
            lambda x, q: F.round(
                (x - (F.col("__mn") + q.cast("double") * F.col("__sc")))
                * (x - (F.col("__mn") + q.cast("double") * F.col("__sc"))),
                9,
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + F.round(t * 1e9, 0).cast("long"),
    )
    return base.select(
        id_col,
        F.round(F.col("__mn") + 1e-12, 6).alias("vmin"),
        F.round(F.col("__mn") + F.col("__sc") * 255.0 + 1e-12, 6).alias(
            "vmax"
        ),
        F.aggregate(
            "__q", F.lit(0).cast("long"), lambda a, q: a + q
        ).alias("code_sum"),
        F.round(
            F.sqrt(err_micro / 1e9 / F.size("__v")) + 1e-12, 6
        ).alias("rmse"),
    )


@pytest.mark.parametrize("src", ["random", "testdata"])
def test_int8_kernel_bit_equal(spark, sf_dir, src):
    from sonar_spark.functions.projection import int8_quantize_report

    if src == "random":
        emb = _vec_table(spark)
    else:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    a = _sorted(int8_quantize_report(emb))
    b = _sorted(int8_quantize_report_expr(emb))
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)


@pytest.mark.parametrize("src", ["random", "testdata"])
def test_jl_project_kernel_bit_equal(spark, sf_dir, src):
    from sonar_spark.functions.projection import jl_project

    if src == "random":
        emb = _vec_table(spark, n=200)
    else:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    a = _sorted(jl_project(emb))
    b = _sorted(jl_project_expr(emb))
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert ra == rb, (ra, rb)
