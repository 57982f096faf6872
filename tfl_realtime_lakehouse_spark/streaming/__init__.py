"""Structured Streaming layer (SURVEY §2.9 T1-T7): file-source bronze
stream, foreachBatch silver, watermarked hourly gold, and true stateful
per-key headways. The package root re-exports only the headway stream's
entry points; every other streaming operator is imported from its own
module, so a Python worker that unpickles a headway state function does
not import them."""

from tfl_realtime_lakehouse_spark.streaming.headways import (
    gold_hourly_stream,
    read_bronze_stream,
    streaming_headways,
)

__all__ = [
    "read_bronze_stream",
    "gold_hourly_stream",
    "streaming_headways",
]
