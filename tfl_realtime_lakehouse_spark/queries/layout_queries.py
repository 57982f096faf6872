"""Data-layout queries: z-order clustering arithmetic + the locality
audit that justifies it. The write/prune path is exercised in
tests/test_layout.py (partition-pruning plan asserts); the registered
queries here are the pure-arithmetic tier the driver can hash-check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators.layout import (
    fixed_width_bin,
    interleave_bits,
)
from tfl_realtime_lakehouse_spark.queries.registry import register, table

_BITS = 8
_PRICE_WIDTH = 2048.0  # o_totalprice ∈ [1k, 500k] → bins 0..244 of 256


def _zorder_oracle_sql() -> str:
    """The 16-term interleave as explicit SQL bit arithmetic — generated
    from the same (bit, column) spec the Spark expression folds over,
    so the trees match term-for-term."""
    terms = []
    for b in range(_BITS):
        for c, col in enumerate(("xbin", "ybin")):
            terms.append(f"((({col} >> {b}) & 1) << {b * 2 + c})")
    z = " | ".join(terms)
    return f"""
    WITH bins AS (
      SELECT o_custkey % 256 AS xbin,
             LEAST(CAST(FLOOR(o_totalprice / {_PRICE_WIDTH}) AS BIGINT), 255)
                 AS ybin
      FROM orders
    ),
    zv AS (SELECT xbin, ybin, {z} AS zval FROM bins)
    SELECT CAST(zval >> 8 AS BIGINT) AS z_prefix,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(xbin) AS min_x, MAX(xbin) AS max_x,
           MIN(ybin) AS min_y, MAX(ybin) AS max_y,
           CAST((MAX(xbin) - MIN(xbin) + 1) * (MAX(ybin) - MIN(ybin) + 1)
                AS BIGINT) AS cells_covered
    FROM zv GROUP BY 1
    """


@register(
    "layout_zorder_distribution",
    oracle=_zorder_oracle_sql(),
    doc="Z-order (Morton) clustering audit: orders binned on customer "
    "and price band, bits interleaved into a 16-bit z-value (pure "
    "shift/mask JVM fold — codegen, zero Python), grouped by the 8-bit "
    "z-prefix: the coarse z-range a file of sources/bucketing."
    "zorder_write covers (it range-partitions on the same "
    "interleave_bits key). Each prefix's (min,max) per "
    "dimension demonstrates the hypercube property — every prefix "
    "covers ≤ 16×16 of the 256×256 grid, which is exactly why a "
    "conjunctive filter on EITHER dimension prunes most prefixes "
    "(file-level pruning on two axes from one sort key; Delta "
    "OPTIMIZE ZORDER's mechanism). Arithmetic is integer-exact, so "
    "the oracle replays it term-for-term.",
)
def layout_zorder_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    xbin = (F.col("o_custkey") % 256).alias("xbin")
    ybin = fixed_width_bin(F.col("o_totalprice"), _PRICE_WIDTH).alias("ybin")
    bins = o.select(xbin, ybin)
    z = interleave_bits([F.col("xbin"), F.col("ybin")], bits=_BITS)
    return (
        bins.withColumn("zval", z)
        .groupBy(F.shiftright("zval", 8).cast("bigint").alias("z_prefix"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("xbin").alias("min_x"),
            F.max("xbin").alias("max_x"),
            F.min("ybin").alias("min_y"),
            F.max("ybin").alias("max_y"),
            (
                (F.max("xbin") - F.min("xbin") + 1)
                * (F.max("ybin") - F.min("ybin") + 1)
            )
            .cast("bigint")
            .alias("cells_covered"),
        )
    )


_COMPACT_TARGET = 2_500  # bytes per output file (scaled-down stand-in)


@register(
    "layout_compaction_plan",
    oracle=f"""
    WITH f AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes,
             SUM(CAST(n_chars AS BIGINT)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM documents
    ),
    g AS (
      SELECT source, doc_id, bytes,
             CAST(FLOOR((cum - bytes) / {_COMPACT_TARGET}) AS BIGINT) AS grp
      FROM f
    )
    SELECT source, grp,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM g GROUP BY source, grp
    """,
    doc="Small-files compaction planner — the maintenance pass every "
    "large lakehouse table needs (thousands of tiny ingest files → "
    "target-sized rewrite groups): within each source partition, "
    "files (docs standing in, n_chars as bytes) are walked in key "
    "order and assigned to a rewrite group by prefix-sum bin — group "
    "= floor(preceding-bytes / target), the classic first-fit-in-"
    "order packing that preserves key clustering so downstream "
    "min/max pruning still works. One window prefix-sum per "
    "partition + one group-by; all exact integers. At 100 TB the "
    "input is the file-level metadata listing (millions of rows, not "
    "the data), partitioned exactly as here — the plan is metadata-"
    "sized, then each group rewrites independently, embarrassingly "
    "parallel.",
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("bytes"),
        F.sum(F.col("n_chars").cast("bigint")).over(w).alias("cum"),
    )
    g = f.select(
        "source",
        "doc_id",
        "bytes",
        # FLOOR on BOTH engines: a bare cast would truncate in Spark
        # but round in DuckDB. Positive values, and byte totals stay
        # under 2^53, so the double quotient floors exactly.
        F.floor((F.col("cum") - F.col("bytes")) / F.lit(_COMPACT_TARGET))
        .cast("bigint")
        .alias("grp"),
    )
    return g.groupBy("source", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
