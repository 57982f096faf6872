"""Transactional-upsert adapter: one MERGE interface, two backends.

SURVEY T6 maps the reference's idempotent re-runs to "Delta +
foreachBatch idempotent MERGE"; this environment ships no lakehouse
format, so the engine implements MERGE semantics twice behind one
function:

- **delta** backend (used automatically when ``delta-spark`` imports
  and the table is Delta): a real ``MERGE INTO`` — atomic, concurrent-
  writer-safe, the 100 TB answer.
- **parquet** backend (this environment): key-scoped rewrite —
  ``(target − matching keys) ∪ updates`` written to a temp location and
  renamed over the target. Atomic enough for a single-writer demo.

Callers never branch: ``merge_upsert(spark, path, updates, keys)``.
The incremental-gold stream (:mod:`..streaming.incremental`) is the
in-repo consumer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _delta_available() -> bool:
    try:  # pragma: no cover — delta not shipped in this environment
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def _is_delta_table(spark: SparkSession, path: str) -> bool:
    if not _delta_available():
        return False
    from delta.tables import DeltaTable  # pragma: no cover

    return DeltaTable.isDeltaTable(spark, path)  # pragma: no cover


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` under the session's Hadoop conf."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _atomic_swap(spark: SparkSession, new_table: DataFrame, target_path: str) -> None:
    """Write-new-then-rename: the parquet stand-in for a transactional
    commit (single-writer safe; a lakehouse format replaces this)."""
    tmp = target_path + ".tmp"
    new_table.write.mode("overwrite").parquet(tmp)
    fs, dst = _hadoop_path(spark, target_path)
    fs.delete(dst, True)
    fs.rename(_hadoop_path(spark, tmp)[1], dst)


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    delete_keys: DataFrame | None = None,
) -> None:
    """Upsert ``updates`` into the table at ``target_path``: target rows
    matching ``delete_keys`` (default: the distinct keys of ``updates``)
    are removed, then ``updates`` rows take their place; new keys append.

    ``delete_keys`` matters when a key's recomputation legitimately
    yields ZERO rows (e.g. a group that no longer clears a having-
    filter): passing the touched-key set deletes its stale rows even
    though ``updates`` carries nothing for it.

    Delta backend: ``MERGE`` (delete-matched) + append, atomic.
    Parquet backend: key-scoped rewrite behind an atomic rename.
    """
    if delete_keys is None:
        delete_keys = updates.select(*keys).distinct()
    else:
        delete_keys = delete_keys.select(*keys).distinct()

    if _is_delta_table(spark, target_path):  # pragma: no cover — no delta in env
        from delta.tables import DeltaTable

        tgt = DeltaTable.forPath(spark, target_path)
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in keys)
        tgt.alias("t").merge(delete_keys.alias("s"), cond).whenMatchedDelete().execute()
        updates.write.format("delta").mode("append").save(target_path)
        return

    fs, path = _hadoop_path(spark, target_path)
    if fs.exists(path):
        # Any read or schema error raises: a drifted ``updates`` must
        # never be mistaken for a first write and replace the table.
        target = spark.read.parquet(target_path)
        kept = target.join(delete_keys, keys, "left_anti")
        new_table = kept.unionByName(updates)
    else:  # first write: no target yet
        new_table = updates
    _atomic_swap(spark, new_table, target_path)


def snapshot_diff(
    spark: SparkSession,
    old_path: str,
    new_path: str,
    keys: list[str],
) -> DataFrame:
    """Key-level diff between two table snapshots — the audit primitive
    behind incremental publishing ("what did this rebuild change?") and
    regression triage on curation pipelines.

    Returns one row per key present in either snapshot with
    ``change ∈ {added, removed, changed, unchanged}``. Non-key columns
    are compared by a null-safe row digest (md5 of the canonically
    ordered values), so the comparison is one full outer join on the
    key — no column-by-column predicate explosion, and the shuffle
    moves fixed-width digests plus keys only.
    """
    old = spark.read.parquet(old_path)
    new = spark.read.parquet(new_path)
    val_cols = sorted(c for c in old.columns if c not in keys)
    if sorted(c for c in new.columns if c not in keys) != val_cols:
        raise ValueError("snapshot_diff: snapshots have different columns")

    def digested(df: DataFrame, alias: str) -> DataFrame:
        digest = F.md5(
            F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in val_cols]
            )
        )
        return df.select(*keys, digest.alias(alias))

    o = digested(old, "_old")
    n = digested(new, "_new")
    return (
        o.join(n, keys, "full_outer")
        .select(
            *keys,
            F.when(F.col("_old").isNull(), F.lit("added"))
            .when(F.col("_new").isNull(), F.lit("removed"))
            .when(F.col("_old") == F.col("_new"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("change"),
        )
    )


def compact_files(
    spark: SparkSession,
    target_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction — the lakehouse maintenance job every
    streaming/incremental sink eventually needs: micro-batch appends and
    over-parallel writes leave thousands of KB-scale files, and at
    100 TB the resulting per-file open/footer/seek overhead dominates
    scan time (plus driver memory for the file index).

    Bin-packs the snapshot at ``target_path`` into
    ``ceil(total_bytes / target_file_bytes)`` files and atomically swaps
    it in. Uses ``coalesce`` (NOT ``repartition``): reducing file count
    needs no row redistribution, so the rewrite is a shuffle-free
    read→pack→write pass — the scan already packs small files into
    ~``maxPartitionBytes`` splits, coalesce just pins the output count.

    No-ops (returns the stats, rewrites nothing) when the snapshot is
    already at or below the target file count. Partitioned tables
    compact partition-by-partition — run this per leaf directory.

    Returns ``{"files_before", "files_after", "total_bytes"}``.
    """
    import math

    fs, root = _hadoop_path(spark, target_path)
    sizes = [
        st.getLen()
        for st in fs.listStatus(root)
        if st.isFile() and st.getPath().getName().endswith(".parquet")
    ]
    total = sum(sizes)
    n_out = max(1, math.ceil(total / target_file_bytes))
    stats = {"files_before": len(sizes), "files_after": n_out, "total_bytes": total}
    if len(sizes) <= n_out:
        stats["files_after"] = len(sizes)
        return stats
    df = spark.read.parquet(target_path)
    _atomic_swap(spark, df.coalesce(n_out), target_path)
    return stats


def merge_delete(
    spark: SparkSession,
    target_path: str,
    predicate: str,
) -> None:
    """Delete rows matching a SQL predicate (``DELETE FROM`` on Delta;
    anti-materialization behind an atomic rename on parquet). Rows where
    the predicate is NULL are kept, matching SQL DELETE semantics."""
    if _is_delta_table(spark, target_path):  # pragma: no cover
        from delta.tables import DeltaTable

        DeltaTable.forPath(spark, target_path).delete(predicate)
        return
    target = spark.read.parquet(target_path)
    cond = F.expr(predicate)
    remaining = target.filter(~F.coalesce(cond, F.lit(False)))
    _atomic_swap(spark, remaining, target_path)


# ---------------------------------------------------------------------------
# Versioned snapshots: time travel over plain parquet


def _versions_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_versions")


def _list_versions(spark: SparkSession, table_dir: str) -> list[int]:
    import glob as _glob

    return sorted(
        int(os.path.basename(p).removeprefix("v="))
        for p in _glob.glob(os.path.join(_versions_dir(table_dir), "v=*"))
        if os.path.basename(p).removeprefix("v=").isdigit()
        and _glob.glob(os.path.join(p, "_SUCCESS"))
    )


def write_versioned(spark: SparkSession, df: DataFrame, table_dir: str) -> int:
    """Commit ``df`` as the next version of the table — the time-travel
    half of a lakehouse format, re-expressed over plain parquet.

    Layout: ``{table_dir}/_versions/v=N/`` per snapshot. The commit
    protocol is write-then-visible: Spark's parquet committer writes
    ``_SUCCESS`` last, and :func:`_list_versions` only counts
    directories carrying it — a half-written snapshot (crash mid-write)
    is invisible to every reader, which is the same visibility rule a
    real table format gets from its log. Single-writer by contract
    (like :func:`_atomic_swap`); a lakehouse format's optimistic
    concurrency replaces this at multi-writer scale.

    Returns the committed version number (monotonic from 0).
    """
    import glob as _glob

    # Next version = max over ALL v= directories, committed or not — an
    # abandoned half-write keeps its slot (readers never see it) and
    # the next commit simply claims the following number, like a table
    # format skipping a failed log entry.
    taken = [
        int(os.path.basename(p).removeprefix("v="))
        for p in _glob.glob(os.path.join(_versions_dir(table_dir), "v=*"))
        if os.path.basename(p).removeprefix("v=").isdigit()
    ]
    version = (max(taken) + 1) if taken else 0
    df.write.mode("errorifexists").parquet(
        os.path.join(_versions_dir(table_dir), f"v={version}")
    )
    return version


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table at a version (default: latest) — ``VERSION AS OF``."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise FileNotFoundError(f"no committed versions under {table_dir}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    return spark.read.parquet(os.path.join(_versions_dir(table_dir), f"v={version}"))


def version_diff(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    keys: list[str],
) -> DataFrame:
    """Key-level change feed between two committed versions — the
    null-safe row-digest full-outer-join diff of :func:`snapshot_diff`
    pointed at the version store (added / removed / changed /
    unchanged per key)."""
    return snapshot_diff(
        spark,
        os.path.join(_versions_dir(table_dir), f"v={from_version}"),
        os.path.join(_versions_dir(table_dir), f"v={to_version}"),
        keys,
    )


def vacuum_versions(spark: SparkSession, table_dir: str, keep_last: int = 2) -> list[int]:
    """Retention for the version store: drop all but the newest
    ``keep_last`` committed versions (and any uncommitted half-writes
    older than the newest committed one — abandoned crash debris).
    Returns the version numbers removed. The latest version is never
    removable (``keep_last`` floors at 1)."""
    import glob as _glob
    import shutil

    keep_last = max(1, keep_last)
    committed = _list_versions(spark, table_dir)
    keep = set(committed[-keep_last:])
    removed = []
    for p in _glob.glob(os.path.join(_versions_dir(table_dir), "v=*")):
        name = os.path.basename(p).removeprefix("v=")
        if not name.isdigit():
            continue
        v = int(name)
        is_committed = v in committed
        if (is_committed and v not in keep) or (
            not is_committed and committed and v < committed[-1]
        ):
            shutil.rmtree(p)
            removed.append(v)
    return sorted(removed)
