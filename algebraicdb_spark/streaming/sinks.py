"""Streaming sinks: foreachBatch bridges every batch writer into the
streaming engine — one write path for both modes (SURVEY §3.2 E3).

    q = write_stream_parquet(tumbling_agg(stream), path, checkpoint)

At scale the parquet sink gives exactly-once via the checkpoint +
idempotent batch-id directory commit; partitionBy columns propagate
so downstream readers partition-prune streamed output like any other
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def write_stream_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    output_mode: str = "update",
    available_now: bool = True,
) -> StreamingQuery:
    """Stream → parquet through the BATCH writer (foreachBatch).

    update/complete modes (windowed aggs) can't use the native file
    sink (append-only); foreachBatch + overwrite-by-batch keeps the
    batch writer's layout (incl. partitionBy) and is idempotent per
    micro-batch.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        writer = batch_df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)

    w = (
        stream_df.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
