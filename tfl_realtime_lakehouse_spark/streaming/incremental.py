"""Incremental gold — the reference's unimplemented roadmap item
("incremental models", reference README.md:334), built as a
foreachBatch upsert.

Strategy: per micro-batch, find the (line_id, stop_id) keys the batch
touched, recompute fct_headways for THOSE KEYS ONLY from the full
silver history, and overwrite just those keys' rows in gold (delete +
append by key). Compared to the two standard alternatives:

- full recompute (the reference's behavior): correct but O(history)
  every run;
- watermarked streaming agg: bounded state but DROPS late data (T4
  divergence);

this upsert is always exactly equal to the batch ground truth —
arbitrarily late events simply trigger a re-derivation of their key —
while doing work proportional to the touched keys' history, not the
corpus. (A further refinement recomputes only touched *hours* per key
plus each hour's predecessor event via the as-of operator; key
granularity keeps the logic obviously-correct and is bounded in this
domain, where a key is one stop on one line.)

Without a transactional table format, "overwrite these keys" is
implemented by rewriting gold as (gold − touched keys) ∪ recomputed —
atomic enough for parquet-on-disk demos; with Delta/Iceberg it becomes
a real MERGE on (line_id, stop_id).

Replay safety: foreachBatch delivery is at-least-once, so the silver
append is keyed by ``batch_id`` — each micro-batch writes its own
``batch_id=N`` partition under dynamic partition overwrite, making a
redelivered batch rewrite the same bytes instead of duplicating rows
(:func:`~tfl_realtime_lakehouse_spark.streaming.sink.write_batch_partition`,
shared with the silver sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tfl_realtime_lakehouse_spark.plans.marts import fct_headways
from tfl_realtime_lakehouse_spark.sources.lakehouse import merge_upsert
from tfl_realtime_lakehouse_spark.streaming.sink import write_batch_partition


def incremental_gold_writer(silver_dir: str, gold_dir: str):
    """foreachBatch callback: append the batch to silver, then upsert
    the touched keys' gold rows."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            if not batch_df.head(1):
                return
            # foreachBatch is at-least-once: a replayed batch must not
            # duplicate silver rows (duplicates would surface as zero
            # headways in the recomputed gold).
            write_batch_partition(batch_df, silver_dir, batch_id)
            touched = batch_df.select("line_id", "stop_id").distinct()

            silver = spark.read.parquet(silver_dir).drop("batch_id")
            recomputed = fct_headways(
                silver.join(F.broadcast(touched), ["line_id", "stop_id"])
            )

            # MERGE through the lakehouse adapter: delete_keys=touched
            # (not recomputed's keys) so a key whose recompute yields
            # zero rows still has its stale gold rows removed.
            merge_upsert(
                spark,
                gold_dir,
                recomputed,
                keys=["line_id", "stop_id"],
                delete_keys=touched,
            )
        finally:
            batch_df.unpersist()

    return write


def run_incremental_gold(
    silver_stream: DataFrame,
    silver_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    return (
        silver_stream.writeStream.foreachBatch(
            incremental_gold_writer(silver_dir, gold_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
