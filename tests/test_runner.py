"""Model-DAG runner tests: materialization into staging/marts databases,
DQ wiring, lineage-as-data report, and the refresh's Spark job budget."""

from __future__ import annotations

import glob
import json
import uuid
from contextlib import contextmanager
from dataclasses import asdict
from datetime import datetime, timezone

from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.dq.checks import (
    FCT_HEADWAYS_CHECKS,
    STG_ARRIVALS_CHECKS,
    run_checks,
)
from tfl_realtime_lakehouse_spark.plans.runner import run_pipeline
from tfl_realtime_lakehouse_spark.sources.http import ingest_snapshot
from tfl_realtime_lakehouse_spark.sources.tables import read_raw_arrivals, write_bronze

RAW_DDL = (
    "stopId string, lineId string, platformName string, destinationName string, "
    "timeToStation long, timestamp string"
)

ROWS = [
    ("S1", "central", "P1", "D", 100, "2025-01-01T10:00:00Z"),
    ("S1", "central", "P1", "D", 90, "2025-01-01T10:04:00Z"),
    ("S1", "central", "P1", "D", 80, "2025-01-01T10:09:00Z"),
    ("S2", "central", "P1", "D", 70, "2025-01-01T10:02:00Z"),
    ("S2", "central", "P1", "D", 60, "2025-01-01T10:30:00Z"),
]


def test_run_pipeline_report_and_tables(spark, tmp_path):
    raw_dir = str(tmp_path / "bronze")
    df = spark.createDataFrame(ROWS, RAW_DDL)
    write_bronze(df.withColumn("date", F.lit("2025-01-01").cast("date")), raw_dir)

    report = run_pipeline(spark, raw_dir, save=True)
    json.dumps(report)  # must be JSON-serializable (lineage as data)
    assert report["ok"] is True
    assert [m["model"] for m in report["models"]] == ["stg_arrivals", "fct_headways"]
    assert report["models"][0]["rows"] == 5
    assert report["models"][1]["rows"] == 2  # (central,S1,10h), (central,S2,10h)
    assert {(e["from"], e["to"]) for e in report["lineage"]} == {
        (f"parquet://{raw_dir}", "staging.stg_arrivals"),
        ("staging.stg_arrivals", "marts.fct_headways"),
    }
    # materialized tables queryable through the catalog (CTAS parity, S9)
    assert spark.table("staging.stg_arrivals").count() == 5
    assert spark.table("marts.fct_headways").count() == 2
    # all reference checks green on clean data
    assert all(
        c["status"] == "pass"
        for m in report["models"]
        for c in m["checks"]
        if c["severity"] == "error"
    )


def test_run_pipeline_empty_input_skips_checks(spark, tmp_path):
    # save=True observes the suites on a zero-row write: the observation
    # must still complete with a zero total.
    for save in (False, True):
        report = run_pipeline(spark, str(tmp_path / "missing"), save=save)
        assert report["ok"] is True
        assert [m["rows"] for m in report["models"]] == [0, 0]
        assert all(
            c["status"] == "skipped" for m in report["models"] for c in m["checks"]
        )


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_refresh_job_budget(spark, tmp_path):
    # 40 bronze files: above Spark's 32-path parallel-listing threshold,
    # so a per-file glob would launch a listing job.
    raw_dir = str(tmp_path / "bronze")
    rows = [ROWS[i % len(ROWS)] for i in range(200)]
    write_bronze(
        spark.createDataFrame(rows, RAW_DDL)
        .withColumn("date", F.lit("2025-01-01").cast("date"))
        .repartition(40),
        raw_dir,
    )
    assert len(glob.glob(f"{raw_dir}/date=*/*.parquet")) == 40

    with _jobs(spark) as read_jobs:
        read_raw_arrivals(spark, raw_dir)
    assert read_jobs == []

    with _jobs(spark) as refresh_jobs:
        report = run_pipeline(spark, raw_dir, save=True)
    # staging write 1, marts shuffle + write 2: no count, DQ or listing job
    assert len(refresh_jobs) <= 3
    assert report["models"][0]["rows"] == 200

    day_dir = f"{raw_dir}/date=2025-01-02"
    snapshot = [
        {"naptanId": "S1", "lineId": "central", "timestamp": f"2025-01-02T10:{i:02d}:00Z"}
        for i in range(30)
    ]
    with _jobs(spark) as ingest_jobs:
        ingest_snapshot(
            spark, snapshot, raw_dir, now=datetime(2025, 1, 2, tzinfo=timezone.utc)
        )
    assert len(ingest_jobs) == 1
    assert len(glob.glob(f"{day_dir}/*.parquet")) == 1


DEFECT_ROWS = [
    ("S1", "central", "P1", "D", 100, "2025-01-01T10:00:00Z"),
    ("S1", "central", "P1", "D", 90, "2025-01-01T10:04:00Z"),
    ("S1", None, "P1", "D", 80, "2025-01-01T10:06:00Z"),  # null line
    ("S1", None, "P1", "D", 70, "2025-01-01T10:09:00Z"),  # null line
    (None, "central", "P1", "D", 60, "2025-01-01T10:07:00Z"),  # null stop
    ("S2", "central", "P1", "D", 50, "garbage"),  # malformed timestamp
    ("S2", "central", "P1", "D", 40, ""),  # malformed timestamp
    ("S2", "central", "P1", "D", -5, "2025-01-01T10:02:00Z"),  # tts < 0
    ("S2", "central", "P1", "D", 4000, "2025-01-01T10:30:00Z"),  # tts > 3600
]


def _summary(report):
    return [(m["rows"], m["checks"]) for m in report["models"]]


def test_observed_dq_matches_separate_pass(spark, tmp_path):
    raw_dir = str(tmp_path / "bronze")
    write_bronze(
        spark.createDataFrame(DEFECT_ROWS, RAW_DDL).withColumn(
            "date", F.lit("2025-01-01").cast("date")
        ),
        raw_dir,
    )
    saved = run_pipeline(spark, raw_dir, save=True)
    separate = [
        (results[0].total, [asdict(r) for r in results])
        for results in (
            run_checks(spark.table("staging.stg_arrivals"), STG_ARRIVALS_CHECKS),
            run_checks(spark.table("marts.fct_headways"), FCT_HEADWAYS_CHECKS),
        )
    ]
    assert _summary(saved) == separate
    assert _summary(saved) == _summary(run_pipeline(spark, raw_dir, save=False))
    failed = {c["name"]: c["failed_count"] for c in saved["models"][0]["checks"]}
    assert failed == {
        "not_null_line_id": 2,
        "not_null_stop_id": 1,
        "not_null_event_ts": 2,
        "between_time_to_station_s_0_3600": 2,
    }
    assert saved["models"][1]["checks"][0]["status"] == "fail"  # null line in the mart

