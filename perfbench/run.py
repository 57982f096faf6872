"""The lakehouse benchmark: one command, three workloads, one JSON line.

    python3 perfbench/run.py --workload pipeline_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts a fresh Spark session on
``local[nproc]`` through the package's ``get_spark``, generates its
inputs from ``--seed`` under ``perfbench/.work/``, measures for
``--seconds``, checks every output against an independent reference,
and prints a run record and then the result as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the
separate traced run, which wraps the calls into each layer in spans,
enables Spark's event log and reports the per-layer metrics.
See perfbench/NOTES.md for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parents[1]

WORKLOADS = ("pipeline_refresh", "stream_headways", "query_mix")

END_TO_END = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "cpu_per_op_s": "s",
}

FAMILIES = ("sql", "events", "text_dedup", "vector", "graph", "trainers")
FAMILY_FIELDS = ("build_s", "exec_s", "plan_s", "jobs", "tasks", "driver_gap_s")

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "sources.http.fetch_all_s": "s",
    "sources.http.ingest_snapshot_s": "s",
    "sources.http.ingest_rows": "count",
    "sources.tables.read_raw_arrivals_s": "s",
    "sources.bronze_files": "count",
    "sources.bronze_bytes": "bytes",
    "sources.bronze_scan_tasks": "count",
    "sources.bronze_listing_tasks": "count",
    "sources.tables.read_table_calls": "count",
    "sources.tables.read_table_s": "s",
    "sources.tables.fan_out_calls": "count",
    "sources.tables.fan_out_repartitions": "count",
    "sources.tables.keyed_spread_calls": "count",
    "plans.runner.run_pipeline_s": "s",
    "plans.runner.materialize_s.stg_arrivals": "s",
    "plans.runner.materialize_s.fct_headways": "s",
    "plans.runner.drop_table_s": "s",
    "plans.staging.rows": "count",
    "plans.marts.rows": "count",
    "dq.run_checks_s.stg_arrivals": "s",
    "dq.run_checks_s.fct_headways": "s",
    "dq.failed_rows": "count",
    "streaming.batches": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.addBatch_s_p50": "s",
    "streaming.getBatch_s_p50": "s",
    "streaming.latestOffset_s_p50": "s",
    "streaming.queryPlanning_s_p50": "s",
    "streaming.walCommit_s_p50": "s",
    "streaming.files_per_batch_p50": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "streaming.backlog_files_max": "count",
    "streaming.hourly_latency_p50_s": "s",
    "streaming.drain_s": "s",
    "streaming.drain_rows_per_s": "1/s",
    "generator.late_s_max": "s",
    **{
        f"queries.{fam}.{fld}": ("count" if fld in ("jobs", "tasks") else "s")
        for fam in FAMILIES
        for fld in FAMILY_FIELDS
    },
    "queries.unaccounted_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.serial_stage_s": "s",
    **{f"self_s.{layer}": "s" for layer in ("session", "sources", "plans", "dq", "streaming", "queries")},
    "trace.cold_cpu_s": "s",
    "trace.cpu_per_op_s": "s",
    "trace.cold_op_s": "s",
    "trace.op_p50_s": "s",
    "trace.throughput_per_s": "1/s",
    "trace.spans": "count",
}

# Span name -> per-layer metric reported as the median per call.
SPAN_MEDIANS = {
    "session.get_spark": "session.get_spark_s",
    "session.first_job": "session.first_job_s",
    "sources.http.fetch_all": "sources.http.fetch_all_s",
    "sources.http.ingest_snapshot": "sources.http.ingest_snapshot_s",
    "sources.tables.read_raw_arrivals": "sources.tables.read_raw_arrivals_s",
    "sources.tables.read_table": "sources.tables.read_table_s",
    "plans.runner.run_pipeline": "plans.runner.run_pipeline_s",
    "plans.runner.materialize.stg_arrivals": "plans.runner.materialize_s.stg_arrivals",
    "plans.runner.materialize.fct_headways": "plans.runner.materialize_s.fct_headways",
    "plans.runner.drop_table": "plans.runner.drop_table_s",
    "dq.run_checks.stg_arrivals": "dq.run_checks_s.stg_arrivals",
    "dq.run_checks.fct_headways": "dq.run_checks_s.fct_headways",
}


def _args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def wall_figures(outcome) -> dict[str, float]:
    """The wall-clock figures a user waits on. They go in the run record,
    not in the bounded metrics: hypervisor steal on a shared host moves
    them by a third between runs of the same code."""
    return {
        "cold_op_s": outcome.first_op_s,
        "op_p50_s": median(outcome.op_latencies_s),
        "throughput_per_s": outcome.rate_per_s,
    }


def layer_metrics(tracer, outcome, jobs) -> dict[str, float]:
    from perfbench import host

    out = dict.fromkeys(PER_LAYER, 0.0)
    for span, metric in SPAN_MEDIANS.items():
        per_call = [s.end - s.start for s in tracer.spans if s.name == span]
        if per_call:
            out[metric] = median(per_call)
    for name, value in tracer.counters.items():
        if name in out:
            out[name] = value
    scans = [s for s in tracer.spans if s.name == "sources.tables.read_raw_arrivals"]
    if scans:
        out["sources.bronze_scan_tasks"] = tracer.counters["sources.bronze_scan_tasks"] / len(scans)
        out["sources.bronze_listing_tasks"] = sum(
            j["ntasks"] for j in jobs for s in scans if s.start <= j["t0"] <= s.end
        ) / len(scans)
    refreshes = tracer.calls("plans.runner.run_pipeline")
    if refreshes:
        out["sources.http.ingest_rows"] /= refreshes
        out["dq.failed_rows"] /= refreshes
    out["sources.tables.read_table_calls"] = tracer.calls("sources.tables.read_table")
    out["sources.tables.fan_out_calls"] = tracer.calls("sources.tables.fan_out")
    out["sources.tables.keyed_spread_calls"] = tracer.calls("sources.tables.keyed_spread")
    for layer, v in tracer.self_by_layer().items():
        if f"self_s.{layer}" in out:
            out[f"self_s.{layer}"] = v
    out.update(host.spark_totals(jobs))
    out.update(outcome.layers)
    if outcome.from_jobs is not None:
        out.update(outcome.from_jobs(jobs))
    out.update({f"trace.{k}": v for k, v in wall_figures(outcome).items()})
    out["trace.cold_cpu_s"] = outcome.first_op_cpu_s
    out["trace.cpu_per_op_s"] = outcome.cpu_per_op_s
    out["trace.spans"] = len(tracer.spans)
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not (ROOT / "tfl_realtime_lakehouse_spark").is_dir() or not (ROOT / "tools").is_dir():
        print(f"# {ROOT} holds no lakehouse package to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    from perfbench import host
    from perfbench.common import Ctx, Tally
    from perfbench.spans import Tracer, supported_percentiles

    work = ROOT / "perfbench" / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    nproc = host.prepare_env(work)

    from tfl_realtime_lakehouse_spark import hoststamp
    from tfl_realtime_lakehouse_spark.session import get_spark

    if args.workload == "pipeline_refresh":
        from perfbench.pipeline import run as workload
    elif args.workload == "stream_headways":
        from perfbench.stream import run as workload
    else:
        from perfbench.queries import run as workload

    tracer = Tracer(enabled=bool(args.trace))
    steal0 = hoststamp.steal_jiffies()
    spark = None
    try:
        with host.RssSampler() as rss:
            driver0 = hoststamp.self_cpu_sec() - rss.cpu_s
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark(
                    app_name=f"perfbench-{args.workload}",
                    extra_conf=host.session_conf(work, bool(args.trace)),
                )
            with tracer.span("session.first_job"):
                spark.range(1).count()
            setup_wall = time.perf_counter() - t0
            cpu = host.Cpu(spark, rss)
            setup = cpu.jvm() + cpu.driver() - driver0
            spark.sparkContext.setLogLevel("ERROR")
            tally = Tally()
            ctx = Ctx(spark, tracer, args.seed, args.seconds, work, tally, cpu)
            try:
                outcome = workload(ctx)
            finally:
                tracer.close()
            record = host.run_record(spark, nproc, args.seed, steal0)
            spark.stop()
            spark = None
        if args.trace:
            jobs = host.job_table(host.event_log_path(work))
            metrics = layer_metrics(tracer, outcome, jobs)
            units = PER_LAYER
            spans = work.parent / f"spans-{args.workload}-seed{args.seed}.json"
            spans.write_text(json.dumps(tracer.dump()))
        else:
            metrics = {
                "setup_s": setup,
                "cold_cpu_s": outcome.first_op_cpu_s,
                "cpu_per_op_s": outcome.cpu_per_op_s,
            }
            units = END_TO_END
        record.update(
            workload=args.workload,
            trace=args.trace,
            peak_rss_mb=rss.peak_mb,
            setup_wall_s=setup_wall,
            **wall_figures(outcome),
            ops=len(outcome.op_latencies_s),
            op_percentiles=supported_percentiles(outcome.op_latencies_s),
            problems=tally.problems,
            **outcome.detail,
        )
        print(json.dumps({"record": record}))
        print(
            json.dumps(
                {
                    "correct": tally.failed == 0,
                    "attempted": tally.attempted,
                    "failed": tally.failed,
                    "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            spark.stop()
        host.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
