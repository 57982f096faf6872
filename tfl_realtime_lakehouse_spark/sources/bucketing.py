"""Bucketed tables — co-located joins and aggregations without a
shuffle (SURVEY "Partitioning & shuffle": bucketing for co-located
joins).

Writing both sides of a recurring fact-fact join bucketed (and sorted)
by the join key means every future join/aggregation on that key is
exchange-free: Spark's scan reports the bucket hash-partitioning, the
sort-merge join consumes buckets directly. At 100 TB this converts the
most expensive recurring shuffle in the pipeline into a one-time layout
cost at write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators.layout import interleave_bits
from tfl_realtime_lakehouse_spark.sources.tables import drop_table_and_location


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (+ optionally sorted) managed table."""
    spark = df.sparkSession
    drop_table_and_location(spark, table_name)
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key. With matching
    bucket counts this plans as a zero-exchange sort-merge join."""
    return spark.table(left_table).join(spark.table(right_table), on)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Stats-friendly clustered parquet write: range-repartition on the
    cluster key, then sort within each partition before writing.

    Every output file then covers a narrow, non-overlapping key range,
    so its parquet row-group min/max statistics become selective — a
    point or range predicate on the cluster key skips most files/row
    groups at scan time (the open-format stand-in for Z-ordering on a
    single key). At 100 TB this is the difference between a pruned read
    of a few files and a full scan when filtering on a non-partition
    column.
    """
    cols = [df[c] for c in cluster_cols]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Multi-column data-skipping layout: Z-order the rows so EVERY
    listed column's parquet min/max statistics tighten at once.

    ``write_clustered`` (range-partition + sort on a key list) makes the
    FIRST key's file stats selective but leaves later keys' ranges wide
    — a lexicographic sort only localizes its prefix. Interleaving the
    bit patterns instead (Morton curve) maps multi-dimensional locality
    onto the one-dimensional file order, so a predicate on ANY of the
    columns skips most files. This is the open-format equivalent of
    Delta/Databricks OPTIMIZE ZORDER BY, built from public ops:

    1. per-column linear bucketing to ``bits`` bits via
       ``width_bucket`` over the column's (min, max) — one tiny
       aggregate (2·n values to the driver, same bounded pattern as
       IVF centroids). Uniform-ish columns bucket well linearly;
       heavily skewed columns would want quantile cut points instead.
    2. bit-interleave into the Z key (:func:`operators.layout
       .interleave_bits`: bit i of column c lands at ``i * n_cols + c``);
    3. range-repartition + in-partition sort on the key — the exact
       ``write_clustered`` machinery, now over a space-filling curve.
    """
    mins = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    n_buckets = 1 << bits
    bucketed = []
    for c in cols:
        mn, mx = float(mins[f"mn_{c}"]), float(mins[f"mx_{c}"])
        if mx <= mn:
            mx = mn + 1.0
        wb = F.width_bucket(F.col(c).cast("double"), F.lit(mn), F.lit(mx), F.lit(n_buckets))
        bucketed.append(F.least(wb - 1, F.lit(n_buckets - 1)).cast("int"))
    z = interleave_bits(bucketed, bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
