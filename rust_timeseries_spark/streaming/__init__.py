"""Structured Streaming operators; ``drain_append`` is the shared
availableNow drain for append-mode streams whose result the caller
reads back as one batch frame."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

#: seconds a drain may run before it is stopped
DRAIN_TIMEOUT_S = 600


def drain_append(stream: DataFrame, work: str, name: str) -> DataFrame:
    """Run ``stream`` over its current backlog (``availableNow``),
    appending every micro-batch to ``<work>/res`` as parquet, and return
    the result eagerly checkpointed, so ``work`` may be removed after.

    The result directory exists before the query starts and is read
    with the stream's own schema: a source with no files yields an empty
    frame, and the read launches no schema-inference job. A query that
    has not drained within ``DRAIN_TIMEOUT_S`` is stopped and raises."""
    res_dir = f"{work}/res"
    os.makedirs(res_dir, exist_ok=True)

    def sink(batch_df: DataFrame, _bid: int) -> None:
        batch_df.write.mode("append").parquet(res_dir)

    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", f"{work}/ckpt")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    # bounded wait: a wedged file listing or checkpoint write must fail
    # this caller, not hang the driver
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{name} did not drain within {DRAIN_TIMEOUT_S}s")
    return stream.sparkSession.read.schema(stream.schema).parquet(res_dir).localCheckpoint()
