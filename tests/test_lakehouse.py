"""MERGE adapter tests (parquet backend; the Delta branch is gated on
delta-spark which this environment doesn't ship)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.sources.lakehouse import merge_delete, merge_upsert

SCHEMA = "k long, g string, v double"


def _rows(spark, path):
    return {r.k: (r.g, r.v) for r in spark.read.parquet(path).collect()}


def test_merge_upsert_create_replace_append(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_upsert(
        spark, path, spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA), ["k"]
    )
    assert _rows(spark, path) == {1: ("a", 1.0), 2: ("b", 2.0)}
    merge_upsert(
        spark, path, spark.createDataFrame([(2, "b", 20.0), (3, "c", 3.0)], SCHEMA), ["k"]
    )
    assert _rows(spark, path) == {1: ("a", 1.0), 2: ("b", 20.0), 3: ("c", 3.0)}


def test_merge_upsert_delete_keys_clears_stale_rows(spark, tmp_path):
    """A touched key whose recomputation yields zero rows must still lose
    its stale rows — the delete_keys contract the incremental-gold
    stream depends on."""
    path = str(tmp_path / "tbl")
    merge_upsert(
        spark, path, spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA), ["k"]
    )
    empty = spark.createDataFrame([], SCHEMA)
    touched = spark.createDataFrame([(1,)], "k long")
    merge_upsert(spark, path, empty, ["k"], delete_keys=touched)
    assert _rows(spark, path) == {2: ("b", 2.0)}


def test_merge_upsert_schema_drift_raises_and_keeps_target(spark, tmp_path):
    """An upsert whose columns do not match the target must raise, not
    be taken for a first write that replaces the whole table."""
    path = str(tmp_path / "tbl")
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], SCHEMA),
        ["k"],
    )
    drifted = spark.createDataFrame([(2, "B", 20.0, 9)], SCHEMA + ", w long")
    with pytest.raises(Exception, match="NUM_COLUMNS_MISMATCH"):
        merge_upsert(spark, path, drifted, ["k"])
    assert _rows(spark, path) == {1: ("a", 1.0), 2: ("b", 2.0), 3: ("c", 3.0)}


def test_merge_delete_predicate_null_semantics(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_upsert(
        spark,
        path,
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 20.0), (3, "c", None)], SCHEMA),
        ["k"],
    )
    merge_delete(spark, path, "v > 10")  # NULL predicate rows are KEPT
    assert _rows(spark, path) == {1: ("a", 1.0), 3: ("c", None)}


def test_compact_files_packs_small_files_and_preserves_rows(spark, tmp_path):
    """40 tiny files must compact to the bin-packed count with identical
    content; a second invocation is a no-op (already compact)."""
    from tfl_realtime_lakehouse_spark.sources.lakehouse import compact_files

    path = str(tmp_path / "snap")
    df = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.mode("overwrite").parquet(path)

    import glob
    assert len(glob.glob(path + "/*.parquet")) == 40
    stats = compact_files(spark, path, target_file_bytes=1 << 30)
    assert stats["files_before"] == 40 and stats["files_after"] == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    got = spark.read.parquet(path)
    assert got.count() == 10000
    assert got.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(10000))

    again = compact_files(spark, path, target_file_bytes=1 << 30)
    assert again["files_before"] == 1 and again["files_after"] == 1


def test_snapshot_diff_classifies_all_change_kinds(spark, tmp_path):
    """added/removed/changed/unchanged must each be detected, including
    a null→value transition (the null-safe digest must not equate NULL
    with any real value or with the empty string)."""
    from tfl_realtime_lakehouse_spark.sources.lakehouse import snapshot_diff

    old_p = str(tmp_path / "old")
    new_p = str(tmp_path / "new")
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "", 4.0)],
        "k long, g string, v double",
    ).write.parquet(old_p)
    spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (4, "", 4.0), (5, "e", 5.0)],
        "k long, g string, v double",
    ).write.parquet(new_p)

    got = {r.k: r.change for r in snapshot_diff(spark, old_p, new_p, ["k"]).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",   # NULL -> 2.0
        3: "removed",
        4: "unchanged",  # empty string is not NULL
        5: "added",
    }


def test_versioned_snapshots_time_travel_and_diff(spark, tmp_path):
    """write_versioned commits monotonic versions; read_version time-
    travels; version_diff reports key-level changes; an uncommitted
    (no _SUCCESS) snapshot directory is invisible."""
    import os

    from tfl_realtime_lakehouse_spark.sources.lakehouse import (
        read_version,
        version_diff,
        write_versioned,
    )

    d = str(tmp_path / "vt")
    v0 = write_versioned(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), d
    )
    v1 = write_versioned(
        spark, spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "id long, v string"), d
    )
    assert (v0, v1) == (0, 1)
    assert {tuple(r) for r in read_version(spark, d, 0).collect()} == {(1, "a"), (2, "b")}
    # default = latest
    assert {tuple(r) for r in read_version(spark, d).collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    changes = {
        r["id"]: r["change"] for r in version_diff(spark, d, 0, 1, ["id"]).collect()
    }
    assert changes == {1: "unchanged", 2: "changed", 3: "added"}

    # a half-written snapshot (no _SUCCESS) must be invisible
    bogus = os.path.join(d, "_versions", "v=2")
    os.makedirs(bogus)
    with open(os.path.join(bogus, "part-junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    assert {tuple(r) for r in read_version(spark, d).collect()} == {
        (1, "a"), (2, "B"), (3, "c")
    }
    v3 = write_versioned(
        spark, spark.createDataFrame([(9, "z")], "id long, v string"), d
    )
    assert v3 == 2 or v3 == 3  # next committed version skips the junk dir
    assert {tuple(r) for r in read_version(spark, d).collect()} == {(9, "z")}


def test_vacuum_versions_retention(spark, tmp_path):
    """vacuum keeps the newest N committed versions, removes older ones
    and abandoned half-writes, and never touches the latest."""
    import os

    from tfl_realtime_lakehouse_spark.sources.lakehouse import (
        read_version,
        vacuum_versions,
        write_versioned,
    )

    d = str(tmp_path / "vac")
    for i in range(4):
        write_versioned(spark, spark.createDataFrame([(i,)], "x long"), d)
    # abandoned half-write older than the newest committed version
    junk = os.path.join(d, "_versions", "v=1junkless")  # non-numeric: ignored
    bogus = os.path.join(d, "_versions")
    os.rename(
        os.path.join(bogus, "v=1") + "/_SUCCESS",
        os.path.join(bogus, "v=1") + "/_success_removed",
    )  # turn v=1 into an uncommitted dir
    removed = vacuum_versions(spark, d, keep_last=2)
    assert removed == [0, 1]  # v=0 aged out; v=1 is crash debris
    assert [r["x"] for r in read_version(spark, d, 3).collect()] == [3]
    assert [r["x"] for r in read_version(spark, d, 2).collect()] == [2]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_version(spark, d, 0)
