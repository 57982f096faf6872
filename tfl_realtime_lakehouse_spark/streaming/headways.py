"""Streaming headways — the reference's 2-minute micro-batch + full
recompute (SURVEY §2.9) upgraded to first-class Structured Streaming
while keeping batch-replay equivalence:

- bronze: file streaming source over the date-partitioned raw layout
  (each ingest snapshot file becomes one micro-batch increment — T1).
- silver: the SAME ``stg_arrivals`` transform (pure function) applied
  per micro-batch.
- gold (a): incremental 1-hour tumbling event-time window with a
  watermark (T3/T4). Late-data semantics DIVERGE from the reference by
  design: the reference recomputes from scratch with infinite lateness;
  the stream drops events later than the watermark. Batch replay
  (plans.marts.fct_headways) stays the semantic ground truth.
- gold (b): true per-event streaming headways via
  ``applyInPandasWithState`` (T5) — ``lag`` is unsupported in streaming,
  so per-(line,stop) state keeps the last arrival timestamp and each
  batch emits gaps; within a batch events are sorted by event time, and
  an out-of-order event versus state yields a NULL gap rather than a
  negative one (documented divergence, bounded by the watermark).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tfl_realtime_lakehouse_spark.schemas import ARRIVALS_BRONZE_SCHEMA


def read_bronze_stream(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Streaming scan of the bronze layout. Schema must be declared for
    streaming sources; ``date`` arrives via partition discovery."""
    return (
        spark.readStream.schema(ARRIVALS_BRONZE_SCHEMA)
        .option("basePath", raw_dir)
        .option("maxFilesPerTrigger", 16)
        .parquet(f"{raw_dir}/date=*")
    )


def gold_hourly_stream(
    stg: DataFrame, watermark: str = "2 hours", gap_col: str = "time_to_station_s"
) -> DataFrame:
    """Incremental hourly rollup with late-data bound: tumbling
    event-time window + watermark. (Order-dependent lag() is not
    streamable; the windowed stats here are over the declared gap
    column, with the true stateful gap computation in
    :func:`streaming_headways`.)"""
    return (
        stg.filter(F.col("event_ts").isNotNull())
        .withWatermark("event_ts", watermark)
        .groupBy(
            F.window("event_ts", "1 hour").alias("w"), "line_id", "stop_id"
        )
        .agg(
            F.avg(gap_col).alias("avg_gap"),
            F.percentile_approx(gap_col, 0.5, 10000).alias("p50_gap"),
            F.percentile_approx(gap_col, 0.9, 10000).alias("p90_gap"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("hour"), "line_id", "stop_id", "avg_gap", "p50_gap", "p90_gap", "n_events")
    )


_HEADWAY_OUTPUT = T.StructType(
    [
        T.StructField("line_id", T.StringType()),
        T.StructField("stop_id", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
        T.StructField("headway_s", T.DoubleType()),
    ]
)

# state: last-seen arrival timestamp per (line, stop), as epoch micros.
_HEADWAY_STATE = T.StructType([T.StructField("last_us", T.LongType())])


def _headway_gaps(
    last_us: int | None, pdfs: Iterator[pd.DataFrame]
) -> tuple[list, list, int | None]:
    """One key's arrivals → (event timestamps, headway gaps in seconds,
    new last-arrival state). The per-key loop of
    :func:`_headway_state_fn`."""
    out_ts: list = []
    out_gap: list = []
    for pdf in pdfs:
        pdf = pdf.sort_values("event_ts")
        for ts in pdf["event_ts"]:
            if pd.isna(ts):
                continue
            us = int(pd.Timestamp(ts).value // 1000)
            if last_us is None or us < last_us:
                gap = None  # first arrival, or out-of-order vs state
            else:
                gap = (us - last_us) / 1_000_000.0
            out_ts.append(ts)
            out_gap.append(gap)
            last_us = max(us, last_us) if last_us is not None else us
    return out_ts, out_gap, last_us


def _headway_state_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    line_id, stop_id = key
    out_ts, out_gap, last_us = _headway_gaps(
        state.get[0] if state.exists else None, pdfs
    )
    if last_us is not None:
        state.update((last_us,))
    yield pd.DataFrame(
        {
            "line_id": line_id,
            "stop_id": stop_id,
            "event_ts": out_ts,
            "headway_s": out_gap,
        }
    )


def streaming_headways(stg: DataFrame) -> DataFrame:
    """Per-event headways as a stream: custom stateful operator keeping
    the last arrival per (line, stop) — the streaming equivalent of the
    batch ``lag`` (SURVEY T5). State is one long per key, so memory is
    O(distinct (line, stop)) regardless of throughput."""
    return (
        stg.filter(F.col("event_ts").isNotNull())
        .select("line_id", "stop_id", "event_ts")
        .groupBy("line_id", "stop_id")
        .applyInPandasWithState(
            _headway_state_fn,
            outputStructType=_HEADWAY_OUTPUT,
            stateStructType=_HEADWAY_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
