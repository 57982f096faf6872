"""Model-DAG runner: the reference's transform entry point (dbt build +
GX check + OpenLineage emit, SURVEY §3 entry point 2) re-expressed as a
Spark-native pipeline run.

- Models materialize as managed tables in ``staging`` / ``marts``
  databases (the reference's two schemas, dbt_project.yml:9-12) via
  CTAS-equivalent ``saveAsTable`` (SURVEY S9).
- The reference's 9 dbt not_null tests + GX checks run from the DQ
  module. On save they ride the write itself (``df.observe``): the
  model's row count and check counts come back with ``saveAsTable``,
  so a refresh runs no count or DQ job of its own. Without save one
  aggregation pass per model yields both.
- Lineage is emitted AS DATA: a run report with per-model input/output
  datasets, row counts, durations and check results — the Marquez
  stand-in (SURVEY §7 M2), serializable straight to JSON.
"""

from __future__ import annotations

import time
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from tfl_realtime_lakehouse_spark.dq.checks import (
    FCT_HEADWAYS_CHECKS,
    STG_ARRIVALS_CHECKS,
    Check,
    CheckResult,
    attach_observation,
    results_from_observation,
    run_checks,
)
from tfl_realtime_lakehouse_spark.plans.marts import fct_headways
from tfl_realtime_lakehouse_spark.plans.staging import stg_arrivals
from tfl_realtime_lakehouse_spark.sources.tables import read_raw_arrivals


@dataclass
class ModelRun:
    model: str
    inputs: list[str]
    output: str
    rows: int
    duration_s: float
    checks: list[CheckResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(c.ok for c in self.checks)


def _materialize(
    spark: SparkSession, df: DataFrame, table_name: str, save: bool
) -> DataFrame:
    """CTAS-equivalent full-refresh materialization (the reference's dbt
    `table` materialization = full rebuild every run, T4/T6)."""
    if save:
        from tfl_realtime_lakehouse_spark.sources.tables import (
            drop_table_and_location,
        )

        drop_table_and_location(spark, table_name)
        df.write.mode("overwrite").saveAsTable(table_name)
        return spark.table(table_name)
    df.createOrReplaceTempView(table_name.replace(".", "__"))
    return df


def _build(
    spark: SparkSession, df: DataFrame, table_name: str, suite: list[Check], save: bool
) -> tuple[DataFrame, list[CheckResult]]:
    """Materialize one model and evaluate its DQ suite. On save the
    suite is observed on the write; otherwise one ``run_checks`` pass.
    Every result carries the model's row count as ``total``."""
    if save:
        observed, obs = attach_observation(df, suite)
        out = _materialize(spark, observed, table_name, save)
        return out, results_from_observation(obs, suite)
    out = _materialize(spark, df, table_name, save)
    return out, run_checks(out, suite)


def run_pipeline(
    spark: SparkSession,
    raw_dir: str,
    save: bool = True,
) -> dict:
    """bronze → staging.stg_arrivals → marts.fct_headways with DQ and a
    lineage run report. Returns the report dict (JSON-serializable)."""
    started = datetime.now(timezone.utc).isoformat()
    runs: list[ModelRun] = []

    t0 = time.time()
    bronze = read_raw_arrivals(spark, raw_dir)
    stg, stg_checks = _build(
        spark, stg_arrivals(bronze), "staging.stg_arrivals", STG_ARRIVALS_CHECKS, save
    )
    runs.append(
        ModelRun(
            model="stg_arrivals",
            inputs=[f"parquet://{raw_dir}"],
            output="staging.stg_arrivals",
            rows=stg_checks[0].total,
            duration_s=round(time.time() - t0, 3),
            checks=stg_checks,
        )
    )

    t1 = time.time()
    _, fct_checks = _build(
        spark, fct_headways(stg), "marts.fct_headways", FCT_HEADWAYS_CHECKS, save
    )
    runs.append(
        ModelRun(
            model="fct_headways",
            inputs=["staging.stg_arrivals"],
            output="marts.fct_headways",
            rows=fct_checks[0].total,
            duration_s=round(time.time() - t1, 3),
            checks=fct_checks,
        )
    )

    return {
        "run_started": started,
        "elapsed_s": round(time.time() - t0, 3),
        "ok": all(r.ok for r in runs),
        "models": [asdict(r) for r in runs],
        # lineage edges as data (dataset-level, Marquez stand-in)
        "lineage": [
            {"from": src, "to": r.output} for r in runs for src in r.inputs
        ],
    }
