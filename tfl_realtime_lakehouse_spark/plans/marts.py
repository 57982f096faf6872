"""Gold: fct_headways — per (line, stop, hour) headway statistics.

Re-expresses the reference mart (``dbt_project/models/marts/
fct_headways.sql:1-24``): headway = seconds between consecutive arrivals
at the same (line, stop), then a 1-hour tumbling rollup with avg / p50 /
p90.

Physical shape (why this scales): one hash exchange on (line_id,
stop_id) feeds the in-partition sort for ``lag``; the subsequent
aggregation keys (line_id, stop_id, hour) are a superset of the window
partition keys, so Catalyst reuses the existing partitioning — the whole
mart is a single-shuffle plan at any data size.

Quantile semantics: the reference's DuckDB ``quantile`` is discrete
(SURVEY §2.4 A3); we pin the discrete (type-1) variant — the element at
rank ``ceil(p·n)`` — which both matches the reference and is
bit-deterministic across engines (interpolating percentiles differ in
the last ulp between implementations). Each exact group is bounded by
arrivals per hour at any scale, so no approximate path is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def headway_events(stg: DataFrame) -> DataFrame:
    """Per-event headway: gap in seconds to the previous arrival at the
    same (line, stop); each group's first arrival is dropped (no
    predecessor) — reference fct_headways.sql:4-16."""
    w = Window.partitionBy("line_id", "stop_id").orderBy("event_ts")
    return (
        stg.filter(F.col("event_ts").isNotNull())
        .withColumn("prev_ts", F.lag("event_ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .withColumn(
            # Exact integer microsecond gap; float conversion happens as
            # late as possible so aggregates stay reassociation-proof.
            "headway_us",
            F.unix_micros(F.col("event_ts")) - F.unix_micros(F.col("prev_ts")),
        )
        .withColumn(
            "headway_s",
            # One correctly-rounded division of exact operands —
            # deterministic across engines (a double-cast subtraction is
            # not, at µs precision).
            F.col("headway_us") / F.lit(1000000.0),
        )
        .withColumn("hour", F.date_trunc("hour", F.col("event_ts")))
    )


def _disc_percentile_us(p: float) -> F.Column:
    """Discrete (type-1) percentile over the exact µs gaps: the element
    at rank ``ceil(p·n)`` of the sorted group. Matches the reference's
    DuckDB ``quantile`` (discrete) semantics — SURVEY §2.4 A3 pins the
    discrete variant — and is bit-deterministic across engines because
    it selects an actual integer element instead of interpolating.
    Group = (line, stop, hour), whose size is bounded by arrivals/hour,
    so the per-group sorted list is safe at any corpus scale."""
    idx = F.ceil(F.lit(p) * F.count(F.lit(1))).cast("int")
    return F.element_at(F.array_sort(F.collect_list("headway_us")), idx)


def fct_headways(stg: DataFrame) -> DataFrame:
    """(line, stop, hour) → avg/p50/p90 headway seconds."""
    us = F.lit(1000000.0)
    return (
        headway_events(stg)
        .groupBy("line_id", "stop_id", "hour")
        .agg(
            (F.sum("headway_us").cast("double") / F.count(F.lit(1)) / us).alias(
                "avg_headway_s"
            ),
            (_disc_percentile_us(0.5) / us).alias("p50_headway_s"),
            (_disc_percentile_us(0.9) / us).alias("p90_headway_s"),
        )
    )
