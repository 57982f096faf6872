"""Idempotent streaming sinks (SURVEY T6: "Delta + foreachBatch
idempotent MERGE, or full-rebuild batch job").

No Delta in this environment (``import delta`` gated), so idempotence
comes from **dynamic partition overwrite** inside ``foreachBatch``: each
micro-batch owns its ``batch_id`` partition (under ``date`` for silver),
so a replayed batch rewrites exactly its own files — same bytes, no
duplicates — while every other batch's rows, on the same date or not,
stay put. That is the parquet-native equivalent of a partition-scoped
MERGE. Checkpointing makes replays rare; the overwrite makes them
harmless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def write_batch_partition(
    batch_df: DataFrame, out_dir: str, batch_id: int, *partition_cols: str
) -> None:
    """Write one micro-batch as parquet under ``out_dir``, partitioned by
    ``partition_cols`` then ``batch_id``, overwriting only the partitions
    this batch writes (per-write dynamic overwrite; the session conf is
    left alone). A replay of the same ``batch_id`` rewrites its own
    partitions instead of appending to them."""
    (
        batch_df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols, "batch_id")
        .parquet(out_dir)
    )


def silver_partition_overwrite_writer(out_dir: str):
    """foreachBatch callback: write the batch into ``date=…/batch_id=…``
    partitions (idempotent under replay, no loss across batches)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_partition(
            batch_df.withColumn("date", F.to_date("event_ts")), out_dir, batch_id, "date"
        )

    return write


def run_silver_stream(
    silver: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
) -> StreamingQuery:
    """Bronze-stream → silver transform → idempotent partitioned sink."""
    writer = (
        silver.writeStream.foreachBatch(silver_partition_overwrite_writer(out_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
