"""``pipeline_refresh``: the reference's batch path, as cron runs it.

Each cycle ingests one new 2-minute snapshot through the HTTP source
(``TfLArrivalsClient`` with a canned fetcher, then ``ingest_snapshot``)
and rebuilds ``staging.stg_arrivals`` and ``marts.fct_headways`` with
their DQ checks (``run_pipeline(save=True)``). Closed loop: the next
cycle starts when the previous one ends. The first cycle in the fresh
process is the cold refresh; the cycles after it are timed until the
run's seconds are spent, and at least five of them.

Bronze starts at 61 files: two days of 30 snapshots each around an
empty day. File count is the traffic dimension that matters here
(the reference writes 720 files a day), so every cycle adds files. The
start is kept small so a run holds several warm cycles.
"""

from __future__ import annotations

import os
import random
import time
from datetime import timedelta
from statistics import median

import duckdb

from perfbench import gen, host
from perfbench.common import Ctx, Outcome

INITIAL_SNAPSHOTS_PER_DAY = 30
MAX_CYCLES = 200
# The cycle right after the cold one still pays JIT compilation, and
# later cycles now and then pay a burst of it or of GC: an untimed
# warm-up cycle and the median of at least five timed cycles keep the
# figures from moving with how many cycles fit in the run.
WARMUP_CYCLES = 1
MIN_WARM_CYCLES = 5


def canned_fetcher(snap: gen.Snapshot):
    """Serve ``snap``'s rows per StopPoint, as the TfL API would."""
    by_stop: dict[str, list[dict]] = {}
    for row in snap.rows:
        by_stop.setdefault(row["_stop"], []).append(row)

    def fetch(url: str, params: dict):
        stop = url.rsplit("/", 2)[-2]
        return 200, by_stop.get(stop, [])

    return fetch, list(by_stop)


def _install_spans(ctx: Ctx) -> None:
    from tfl_realtime_lakehouse_spark.dq import checks
    from tfl_realtime_lakehouse_spark.plans import runner
    from tfl_realtime_lakehouse_spark.sources import tables

    tr = ctx.tracer
    tr.patch(
        tables.read_raw_arrivals,
        lambda *a, **k: "sources.tables.read_raw_arrivals",
        lambda args, df: tr.count("sources.bronze_scan_tasks", df.rdd.getNumPartitions()),
    )
    tr.patch(
        runner._materialize,
        lambda spark, df, name, save: f"plans.runner.materialize.{name.split('.')[-1]}",
    )
    tr.patch(tables.drop_table_and_location, lambda *a, **k: "plans.runner.drop_table")
    tr.patch(
        checks.run_checks,
        lambda df, suite: "dq.run_checks."
        + ("stg_arrivals" if suite is checks.STG_ARRIVALS_CHECKS else "fct_headways"),
        lambda args, res: tr.count("dq.failed_rows", sum(r.failed_count for r in res)),
    )


def run(ctx: Ctx) -> Outcome:
    from tfl_realtime_lakehouse_spark.plans.runner import run_pipeline
    from tfl_realtime_lakehouse_spark.sources.http import TfLArrivalsClient, ingest_snapshot

    spark, tr, tally = ctx.spark, ctx.tracer, ctx.tally
    raw = str(ctx.work / "raw")
    rng = random.Random(ctx.seed)
    day1 = gen.snapshot_series(rng, gen.BASE_TIME, INITIAL_SNAPSHOTS_PER_DAY)
    gen.write_empty_day(raw, gen.BASE_TIME + timedelta(days=1))
    day3 = gen.snapshot_series(
        rng, gen.BASE_TIME + timedelta(days=2), INITIAL_SNAPSHOTS_PER_DAY + MAX_CYCLES, day1[-1]
    )
    initial, pending = day1 + day3[:INITIAL_SNAPSHOTS_PER_DAY], day3[INITIAL_SNAPSHOTS_PER_DAY:]
    for snap in initial:
        gen.write_bronze_file(raw, snap)
    _install_spans(ctx)

    written: list[gen.Snapshot] = list(initial)
    last_report: dict = {}

    def cycle(snap: gen.Snapshot, cpu: list[float]) -> None:
        """One refresh; its CPU is appended to ``cpu``."""
        nonlocal last_report
        fetch, stops = canned_fetcher(snap)
        with ctx.cpu.region(cpu):
            client = TfLArrivalsClient(fetcher=fetch, sleep=lambda s: None)
            with tr.span("sources.http.fetch_all"):
                rows = client.fetch_all(stops)
            with tr.span("sources.http.ingest_snapshot"):
                ingest_snapshot(spark, rows, raw, now=snap.ts)
            tr.count("sources.http.ingest_rows", len(rows))
            written.append(snap)
            spark.sparkContext.setJobDescription(f"refresh {len(written)}")
            with tr.span("plans.runner.run_pipeline"):
                last_report = run_pipeline(spark, raw, save=True)

    def bronze_rows() -> int:
        return sum(len(s.rows) for s in written)

    first_cpu: list[float] = []
    t0 = time.perf_counter()
    cycle(pending.pop(0), first_cpu)
    first = time.perf_counter() - t0
    for _ in range(WARMUP_CYCLES):
        cycle(pending.pop(0), [])

    lat, rates, cpus = [], [], []
    deadline = time.perf_counter() + ctx.seconds
    while (time.perf_counter() < deadline or len(lat) < MIN_WARM_CYCLES) and pending:
        t = time.perf_counter()
        try:
            cycle(pending.pop(0), cpus)
        except Exception:
            tally.error("refresh cycle raised")
            continue
        tally.attempted += 1
        lat.append(time.perf_counter() - t)
        rates.append(bronze_rows() / lat[-1])
    spark.sparkContext.setJobDescription(None)

    check(ctx, raw, written, last_report)
    files = [os.path.join(d, f) for d, _, fs in os.walk(raw) for f in fs if f.endswith(".parquet")]
    layers = {
        "sources.bronze_files": len(files),
        "sources.bronze_bytes": sum(os.path.getsize(f) for f in files),
        "plans.staging.rows": last_report["models"][0]["rows"],
        "plans.marts.rows": last_report["models"][1]["rows"],
    }
    return Outcome(
        first, first_cpu[0], lat, median(rates), median(cpus), layers,
        detail={"op_cpu_s": [round(c, 3) for c in cpus]},
    )


def reference_fct(con: duckdb.DuckDBPyConnection, raw: str):
    """``fct_headways`` by the reference semantics (stg_arrivals.sql,
    fct_headways.sql, discrete percentiles) over the bronze glob."""
    return con.sql(
        f"""
        WITH stg AS (
          SELECT lineId AS line_id, stopId AS stop_id,
                 TRY_CAST("timestamp" AS TIMESTAMP) AS event_ts
          FROM read_parquet('{raw}/date=*/*.parquet', hive_partitioning = true)
        ), lagged AS (
          SELECT line_id, stop_id, event_ts,
                 LAG(event_ts) OVER (PARTITION BY line_id, stop_id ORDER BY event_ts) AS prev_ts
          FROM stg WHERE event_ts IS NOT NULL
        ), gaps AS (
          SELECT line_id, stop_id, DATE_TRUNC('hour', event_ts) AS hour,
                 EPOCH_US(event_ts) - EPOCH_US(prev_ts) AS headway_us
          FROM lagged WHERE prev_ts IS NOT NULL
        )
        SELECT line_id, stop_id, hour,
               CAST(SUM(headway_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_headway_s,
               (LIST_SORT(LIST(headway_us)))[CAST(CEIL(0.5 * COUNT(*)) AS INTEGER)]
                   / 1000000.0 AS p50_headway_s,
               (LIST_SORT(LIST(headway_us)))[CAST(CEIL(0.9 * COUNT(*)) AS INTEGER)]
                   / 1000000.0 AS p90_headway_s
        FROM gaps GROUP BY line_id, stop_id, hour
        """
    ).df()


def check(ctx: Ctx, raw: str, written: list[gen.Snapshot], report: dict) -> None:
    """Gold equals the DuckDB reference; every DQ count equals the
    defects the generator injected (staging) or the reference's null
    keys (marts); staging holds every bronze row."""
    parity = host.tool("parity")
    tally = ctx.tally
    got = ctx.spark.table("marts.fct_headways").toPandas()
    con = duckdb.connect()
    want = reference_fct(con, raw)
    problems = parity.compare("fct_headways", got, want)
    tally.ok(not problems, f"marts.fct_headways vs DuckDB: {problems}")

    injected = {d: sum(s.defects[d] for s in written) for d in gen.DEFECTS}
    expect_stg = {
        "not_null_line_id": injected["null_line_id"],
        "not_null_stop_id": injected["null_stop_id"],
        "not_null_event_ts": injected["bad_timestamp"],
        "between_time_to_station_s_0_3600": injected["out_of_range_tts"],
    }
    stg, fct = report["models"]
    for c in stg["checks"]:
        tally.ok(
            c["failed_count"] == expect_stg[c["name"]],
            f"dq {c['name']} ({c['severity']}) = {c['failed_count']}, "
            f"injected {expect_stg[c['name']]}",
        )
    for c in fct["checks"]:
        want_nulls = int(want[c["column"]].isna().sum())
        tally.ok(
            c["failed_count"] == want_nulls,
            f"dq fct {c['name']} = {c['failed_count']}, reference {want_nulls}",
        )
    tally.ok(
        stg["rows"] == sum(len(s.rows) for s in written),
        f"staging rows {stg['rows']} != bronze rows",
    )
