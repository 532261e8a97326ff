"""SparkSession factory tuned for the sandbox (local[N]) while keeping
settings that transfer to a real multi-executor cluster, and the one
module that knows the Arrow batch format on both sides of the Python
boundary: ``arrow_frame`` packs driver arrays for the JVM, and
``map_rows`` / ``arrow_batch`` build the batches a mapInArrow or
applyInArrow kernel hands back.

All scale-sensitive knobs live here so bench runs at different
parallelism levels only vary ``cpus``.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import kernels


def get_spark(
    app: str = "sonar_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: local parallelism (defaults to $SPARK_GRAFT_CPUS or 32).
    shuffle_partitions: defaults to max(cpus, 32) locally; on a real
    cluster this would be sized to ~2-3x total cores, with AQE
    coalescing handling the small-SF end.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cpus, 32)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def arrow_frame(
    spark: SparkSession, cols: dict[str, pa.Array], types: dict[str, T.DataType]
) -> DataFrame:
    """The driver-side Arrow arrays ``cols`` (name -> array, all one
    length) as a DataFrame of those columns, in order, column c of
    Spark type types[c].

    The rows ship as ONE row of list columns, zipped back to rows in
    the JVM with inline(arrays_zip(...)): a local relation of one row
    per record ships to its task as one Java-serialized object per row
    (on local[4], a 130k-row table broadcast into a 1M-row join took
    1.1 s that way, 0.5 s as one row)."""
    offsets = pa.array([0, len(next(iter(cols.values())))], pa.int32())
    packed = spark.createDataFrame(
        pa.table({c: pa.ListArray.from_arrays(offsets, a) for c, a in cols.items()}),
        T.StructType([T.StructField(c, T.ArrayType(types[c])) for c in cols]),
    )
    return packed.select(F.inline(F.arrays_zip(*[packed[c] for c in cols])))


def arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema of the Spark DDL string ``schema`` (parse it
    on the driver: the DDL parser lives in the JVM)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(T.StructType.fromDDL(schema))


def arrow_batch(schema: pa.Schema, cols: Iterable) -> pa.RecordBatch:
    """One output batch of ``schema`` from ``cols``, one sequence per
    field in field order (none at all: an empty batch, so
    ``zip(*rows)`` of no rows works).  Each column is converted with
    NaN -> NULL, top level and inside lists, as PySpark's pandas
    serializer masked isnull(), then safe-cast to its field's type: a
    lossy cast (1.5 into a long, 2**40 into an int) raises, where
    converting straight to the type would truncate a Python float."""
    cols = list(cols) or [[]] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, from_pandas=True).cast(f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


def _cells(col: pa.Array) -> list:
    """The per-row Python values of one Arrow column, as pandas gave
    them: a list row is a numpy view into the column's flattened
    values (None for a null row; never to_pylist(), which builds one
    object per element), any other row a Python scalar (a null
    number is NaN)."""
    if not pa.types.is_list(col.type):
        return col.to_numpy(zero_copy_only=False).tolist()
    flat, lens = kernels.list_flat(col)
    ends = np.cumsum(lens).tolist()
    valid = col.is_valid().to_numpy(zero_copy_only=False).tolist()
    return [
        flat[e - n : e] if ok else None
        for e, n, ok in zip(ends, lens.tolist(), valid)
    ]


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """mapInArrow over ``df``: ``fn(*cells)`` is called once per input
    row with that row's values (see _cells) and returns 0..n output
    tuples in ``schema`` order; the output batches are built from the
    schema (arrow_batch)."""
    out = arrow_schema(schema)

    def gen(batches):
        for batch in batches:
            rows = [
                r
                for cells in zip(*map(_cells, batch.columns))
                for r in fn(*cells)
            ]
            yield arrow_batch(out, zip(*rows))

    return df.mapInArrow(gen, schema)
