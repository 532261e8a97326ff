"""SparkSession factory tuned for the sandbox (local[N]) while keeping
settings that transfer to a real multi-executor cluster.

All scale-sensitive knobs live here so bench runs at different
parallelism levels only vary ``cpus``.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


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
