"""Deterministic synthetic inputs (FIXTURES.md #1/#2): the token table
with the exact input_hint shape (doc_id, tokens array<int32>, n_tok,
source) and the as-of reference catalog (entity, ref_ts, ref_version,
ref_features).

Determinism is per-row (RNG seeded by doc index), so the generated
table is identical under any partitioning / parallelism — required for
the N-vs-4N scaling benchmark to run on byte-identical input.

Generation is distributed: spark.range(n) -> map_rows, so the same
code generates 100 docs for unit tests or millions for bench without a
driver-side bottleneck.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from .session import map_rows

VOCAB = 50_257
SOURCES = ("web", "books", "code", "news")

TOKENS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
CATALOG_SCHEMA = (
    "entity string, ref_ts long, ref_version int, ref_features array<double>"
)


def _doc_row(i: int):
    rng = np.random.default_rng(42 + i)
    # log-normal-ish length, clipped; plus forced edge docs (FIXTURES.md #1)
    if i == 0:
        n = 32  # < window W=64
    elif i == 1:
        n = 64  # == W
    elif i == 2:
        n = 64 + 16 - 1  # == W + H - 1 (frame-count boundary)
    else:
        n = int(np.clip(np.exp(rng.normal(5.5, 0.8)), 32, 8192))
    toks = rng.integers(0, VOCAB, size=n, dtype=np.int32)
    return (f"doc{i:08d}", toks, np.int32(n), SOURCES[i % 4])


def token_table(
    spark: SparkSession,
    n_docs: int = 100,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic token table of input_hint shape."""
    base = spark.range(n_docs)
    if partitions:
        base = base.repartition(partitions)
    return map_rows(base, lambda i: [_doc_row(i)], TOKENS_SCHEMA)


def catalog_table(
    spark: SparkSession,
    n_entities: int = 16,
    rows_per_entity: int = 32,
) -> DataFrame:
    """Reference catalog (as-of right side). Irregular seeded timestamps
    including duplicate ts per entity (tie-break test) and a leading gap
    (no-match -> null test). ref_ts is in token-offset ticks."""

    def rows(e):
        rng = np.random.default_rng(1042 + e)
        ts = np.sort(rng.integers(64, 8192, size=rows_per_entity))
        if rows_per_entity >= 2:
            ts[1] = ts[0]  # deliberate duplicate timestamp
        for v, t in enumerate(ts):
            yield f"ent{e:04d}", int(t), v, rng.standard_normal(13).round(6)

    return map_rows(spark.range(n_entities), rows, CATALOG_SCHEMA)


_N_ENTITIES = 16


def entity_of(doc_id_col):
    """Map doc_id -> entity (many-to-one), deterministic; usable from
    Spark SQL via expressions."""
    from pyspark.sql import functions as F

    return F.format_string(
        "ent%04d", F.pmod(F.xxhash64(doc_id_col), F.lit(_N_ENTITIES))
    )
