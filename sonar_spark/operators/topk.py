"""Top-k ranking operators (SURVEY §2.8: FindBestMatches top-k,
reference fingerprint/comparison.go:197-263; k-NN stats/distance.go:398-433).

Physical notes: row_number over (partitionBy(group) orderBy desc)
compiles to one shuffle + in-partition sort; with orderBy().limit(k)
global variants Catalyst uses TakeOrderedAndProject. For k-NN the
catalog side is broadcast when it fits (local sandbox: always);
at scale the LSH-banded candidate join (operators.fingerprint)
prunes the cross product first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.arrays import cosine_similarity


def topk_per_group(
    df: DataFrame,
    group: str | list[str],
    order: list[Column],
    k: int,
) -> DataFrame:
    """row_number() <= k per group with a deterministic total order
    (caller must include a tie-break column in ``order``)."""
    groups = [group] if isinstance(group, str) else list(group)
    w = Window.partitionBy(*groups).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


_K = 10


def knn_bruteforce(queries: DataFrame, catalog: DataFrame) -> DataFrame:
    """Brute-force cosine top-k: query x catalog, excluding self.

    Output: query_id, rank, neighbor_id, cosine_sim. Catalog is
    broadcast (no shuffle for the join; one shuffle for the per-query
    top-k window). This is the exact baseline the LSH path
    approximates (SURVEY §2.6 NearestNeighbors)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    )
    c = catalog.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv")
    )
    pairs = q.join(F.broadcast(c), F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cosine_sim", cosine_similarity(F.col("__qv"), F.col("__cv"))
    ).drop("__qv", "__cv")
    return topk_per_group(
        scored,
        "query_id",
        [F.col("cosine_sim").desc(), F.col("neighbor_id").asc()],
        _K,
    )
