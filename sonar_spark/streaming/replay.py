"""Bounded micro-batch replay: the one harness that runs a streaming
operator over a fixed list of input chunks and returns its output as
a batch DataFrame — how the stream_* driver queries and the
stream/batch equivalence tests drive Structured Streaming.

Each chunk lands as one parquet file in a scratch dir; a file-source
stream with maxFilesPerTrigger=1 reads them back as one micro-batch
per chunk, in write order (state carries across the batches), and
trigger(availableNow) drains the operator's output into a memory
sink.  The sink rows are pinned with localCheckpoint before the sink
view and the scratch dir are released, so nothing outlives the call.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame

# seconds a replay may take to drain before it is stopped
_TIMEOUT_S = 600


def replay(
    chunks: Sequence[DataFrame],
    op: Callable[[DataFrame], DataFrame],
    mode: str,
) -> DataFrame:
    """``op`` over ``chunks`` (all of ``chunks[0]``'s schema) replayed
    as one micro-batch each, in order, drained with output mode
    ``mode`` ("append" or "complete").  Raises TimeoutError, with the
    query stopped, when the stream has not drained in _TIMEOUT_S."""
    spark = chunks[0].sparkSession
    base = tempfile.mkdtemp(prefix="sonar_replay_")
    name = f"replay_{uuid.uuid4().hex[:12]}"
    try:
        src = os.path.join(base, "src")
        for i, chunk in enumerate(chunks):
            chunk.coalesce(1).write.parquet(os.path.join(src, f"c{i}"))
        stream = (
            spark.readStream.schema(chunks[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "c*"))
        )
        q = (
            op(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(_TIMEOUT_S):
                raise TimeoutError(
                    f"stream replay of {len(chunks)} chunks did not drain "
                    f"in {_TIMEOUT_S} s"
                )
        finally:
            q.stop()
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(base, ignore_errors=True)
