"""Parquet lakehouse IO (SURVEY §2.1 S4-S9).

Scans rely on Spark's native Hive-style partition discovery and parquet
pushdown — a ``date=YYYY-MM-DD`` filter prunes directories before any IO
(reference glob scan: ``stg_arrivals.sql:26-29``). The empty-input
fallback (reference compile-time file probe, ``stg_arrivals.sql:1-14``)
becomes a cheap runtime glob + typed empty relation so downstream
transforms always see the declared schema.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from tfl_realtime_lakehouse_spark.schemas import ARRIVALS_BRONZE_SCHEMA


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-corpus table: ``{sf_dir}/{name}.parquet``.

    ``events.ts`` is physically parquet TIMESTAMP(NANOS), which Spark's
    parquet reader rejects by default. We read nanos as long (legacy
    conf, runtime-settable) and rebuild the timestamp at microsecond
    precision — the corpus has zero sub-microsecond remainder, so the
    values are identical to what DuckDB sees.
    """
    # Engine contract: UTC timestamp semantics everywhere (reference
    # parity; see session.py). Pinned here too so queries stay correct
    # under an externally-created SparkSession (e.g. the driver's).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        from pyspark.sql import functions as F

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # physical TIMESTAMP(NANOS): arrived as long under the legacy
            # conf — rebuild at microsecond precision (zero ns remainder
            # in the corpus). A µs-typed file reads as timestamp directly.
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # µs file with isAdjustedToUTC=0 (e.g. DuckDB output): same
            # instants under the pinned UTC session — cast to LTZ so
            # downstream unix_micros/windowing sees one timestamp type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin a narrow input across the cluster when the scan
    under-parallelizes — the small-single-file ↔ heavy-expression
    mismatch.

    The driver corpus writes each table as ONE parquet file with ONE
    row group, so Spark's scan (which splits by row-group boundaries)
    yields a single partition and every downstream per-row expression
    — shingling, regex batteries, hashing — runs on one core of 32.
    At real scale the input has ≥ parallelism splits and this is a
    no-op (partition-count check, no job); the repartition only fires
    for inputs that would otherwise serialize, where one small shuffle
    buys back the whole cluster. Measured: contamination_check's
    shingle stage 15.2 s → 5.6 s at sf1 on the expression alone.

    The probe is restricted to NARROW lineage (scans, maps, filters,
    localCheckpoint results): with AQE enabled, touching ``df.rdd`` on a
    plan containing exchanges finalizes the adaptive plan and eagerly
    materializes the upstream shuffle stages — which the real action
    would then execute again. A wide lineage has already been spread
    across ``spark.sql.shuffle.partitions`` by its own exchange, so
    fan-out is a no-op there by construction.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().analyzed().toString()
    if any(node in plan for node in _WIDE_PLAN_NODES):
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def scan_bytes_hint(df: DataFrame) -> int | None:
    """Best-effort size of the files behind ``df``'s scans (compressed
    bytes). Used to size explicit repartitions so they stay honest at
    any scale; returns None when a backing file cannot be statted (the
    caller falls back to cluster parallelism). With many input files
    only the first 64 are statted and the total extrapolated — the
    hint feeds a partition-count heuristic, not accounting."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    from urllib.parse import unquote, urlparse

    sample = files[:64]
    total = 0
    for uri in sample:
        parsed = urlparse(uri)
        if parsed.scheme not in ("file", ""):
            return None
        try:
            total += os.path.getsize(unquote(parsed.path))
        except OSError:
            return None
    return int(total * len(files) / len(sample))


def keyed_spread(df: DataFrame, *cols: str, target_bytes: int = 64 << 20) -> DataFrame:
    """Hash-repartition ``df`` by ``cols`` with an EXPLICIT partition
    count, for the few stages that are BYTE-LIGHT but COMPUTE-DENSE
    (winnowing's sliding-min window, the simhash chunk self-join, the
    crossdoc gram join). AQE sizes shuffle partitions by bytes — a
    100 KB shuffle feeding a quadratic scan coalesces to 1-2 tasks no
    matter how much CPU the downstream stage burns (guide §2.2/§2.5);
    REPARTITION_BY_NUM is exempt from AQE coalescing, so the explicit
    count pins cluster parallelism for exactly that stage. The count is
    max(defaultParallelism, scan_bytes/target_bytes): at bench scale
    the parallelism term wins (the whole point); at 100 TB the
    size-derived term dominates, so the repartition can never squeeze a
    genuinely large relation onto core-count partitions. Downstream
    joins/aggregates keyed on a superset of ``cols`` reuse the
    partitioning, so this usually REPLACES a planner exchange rather
    than adding one."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    hint = scan_bytes_hint(df) or 0
    n = max(par, -(-hint // target_bytes))
    # The planner DROPS a repartition whose partitioning exactly equals
    # the child's planner-inserted exchange (same keys, same count) —
    # verified on Spark 4.1: repartition(32, k) over a 32-partition
    # groupBy(k) leaves only the ENSURE_REQUIREMENTS exchange, which
    # AQE then coalesces, silently undoing the spread. Nudge the count
    # off the ambient shuffle-partition number so the REPARTITION_BY_NUM
    # exchange survives.
    if n == int(spark.conf.get("spark.sql.shuffle.partitions")):
        n = max(2, n - 1)
    from pyspark.sql import functions as F

    return df.repartition(n, *[F.col(c) for c in cols])


# Logical-plan node names that imply an exchange in the physical plan.
# Substring match over the analyzed plan is deliberately conservative:
# a false positive just skips an optimization; a false negative would
# double-execute shuffle stages under AQE (see fan_out docstring).
_WIDE_PLAN_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Sort",
    "Distinct",
    "Deduplicate",
    "Repartition",
    "Except",
    "Intersect",
    "GlobalLimit",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
)


def read_raw_arrivals(spark: SparkSession, raw_dir: str) -> DataFrame:
    """Bronze scan with partition discovery + typed-empty fallback.

    Reference parity: ``read_parquet('../data/raw/date=*/arrivals_*.parquet',
    hive_partitioning=true)`` guarded by a compile-time file-count probe
    (stg_arrivals.sql:5-14, 26-40). The scan is job-free: the declared
    ``ARRIVALS_BRONZE_SCHEMA`` replaces footer inference, and the path is
    the ``date=*`` directory glob (``pathGlobFilter`` keeps only parquet
    files), so the driver lists the few day directories itself instead
    of Spark launching a parallel listing job over every snapshot file
    (the reference writes 720 a day). When no files exist we return an
    empty relation with the same schema so the staging projection stays
    schema-stable.
    """
    if next(glob.iglob(os.path.join(raw_dir, "date=*", "*.parquet")), None):
        return (
            spark.read.schema(ARRIVALS_BRONZE_SCHEMA)
            .option("basePath", raw_dir)
            .option("pathGlobFilter", "*.parquet")
            .parquet(os.path.join(raw_dir, "date=*"))
        )
    return spark.createDataFrame([], ARRIVALS_BRONZE_SCHEMA)


def drop_table_and_location(spark: SparkSession, table_name: str) -> None:
    """Full-refresh drop: DROP TABLE IF EXISTS plus removal of any
    untracked leftover warehouse location (a fresh in-memory-catalog
    session over an old warehouse dir doesn't know the table but its
    directory still blocks ``saveAsTable``)."""
    db, tbl = table_name.split(".")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    loc = jvm.org.apache.hadoop.fs.Path(f"{warehouse}/{db}.db/{tbl}")
    loc.getFileSystem(spark._jsc.hadoopConfiguration()).delete(loc, True)


def write_bronze(df: DataFrame, raw_dir: str, mode: str = "append") -> None:
    """Hive-partitioned bronze append (reference layout
    ``data/raw/date=YYYY-MM-DD/arrivals_<ts>.parquet``, tfl_ingest_dag.py:46-49).

    Append-only snapshots allow historical replays; at cluster scale the
    date partitioning gives free pruning for time-bounded queries.
    """
    df.write.mode(mode).partitionBy("date").parquet(raw_dir)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines ingest with corrupt-record ISOLATION (the at-scale
    contract: one malformed line must neither kill the job nor silently
    vanish). PERMISSIVE mode parses what it can; lines that do not
    parse land whole in ``corrupt_col`` with every data column null, so
    callers can route them to a quarantine sink and count them in DQ.

    The returned frame carries ``schema`` + the corrupt column; pass a
    schema WITHOUT ``corrupt_col`` (Spark requires it declared, so it is
    appended here).
    """
    full = T.StructType(schema.fields + [T.StructField(corrupt_col, T.StringType())])
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_evolved_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read over a directory whose files were written
    at different schema versions: ``mergeSchema`` unions the footers,
    so columns added later read as NULL for older files — the read-side
    half of additive schema evolution (the write side is just appending
    files with more columns)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink (zlib, the Spark default): the columnar interchange
    format for Hive-ecosystem consumers. Same partitioned-directory
    layout contract as the parquet sinks; ORC carries its own
    min/max/bloom statistics, so predicate pushdown works the same
    way (`spark.sql.orc.filterPushdown` is on by default)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan with pushdown + partition discovery — byte-format
    counterpart of the parquet read path (vectorized reader, column
    pruning and PushedFilters land in the scan exactly as for
    parquet; plan-asserted in tests/test_sources_orc.py)."""
    return spark.read.orc(path)
