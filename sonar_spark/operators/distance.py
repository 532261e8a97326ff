"""DistanceMatrix (stats/distance.go:374-395): full mirrored pairwise
distance matrix over a vector table — upper triangle computed once,
lower triangle mirrored, zero diagonal, exactly the reference's fill
pattern expressed relationally (compute-once + union instead of a
nested loop)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def distance_matrix(df: DataFrame, metrics: dict[str, callable]) -> DataFrame:
    """metrics: name -> fn(col_a, col_b) -> Column (e.g.
    functions.arrays.euclidean / pearson_distance). Output one row per
    ordered (id_a, id_b) pair including the zero diagonal."""
    a = df.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va")
    )
    b = df.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb")
    )
    upper = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b")).select(
        "id_a",
        "id_b",
        *[
            fn(F.col("__va"), F.col("__vb")).alias(name)
            for name, fn in metrics.items()
        ],
    )
    mirror = upper.select(
        F.col("id_b").alias("id_a"),
        F.col("id_a").alias("id_b"),
        *[F.col(name) for name in metrics],
    )
    diag = df.select(
        F.col("vec_id").alias("id_a"),
        F.col("vec_id").alias("id_b"),
        *[F.lit(0.0).alias(name) for name in metrics],
    )
    return upper.unionByName(mirror).unionByName(diag)
