"""``stream_headways``: gold freshness under an open-loop snapshot feed.

A generator thread publishes one bronze snapshot file every
``1 / RATE`` seconds (tmp file + rename), on a schedule that does not
slow when the stream does. Two streaming queries share one session over
``read_bronze_stream`` -> ``stg_arrivals``:

- ``streaming_headways`` (stateful, ``applyInPandasWithState``) into
  Spark's parquet file sink;
- ``gold_hourly_stream`` (watermark, update mode) appended batch by
  batch to parquet through ``foreachBatch`` -- the parquet file sink
  itself accepts append mode only.

Latency of a file = commit time of the micro-batch that read it minus
the time the file was due. The file -> batch map goes through each
checkpoint's ``offsets/`` log: the file source numbers its own log, and
those numbers drift from the query's batch ids once the watermark
triggers no-data batches. After the paced phase a burst drops
``BURST`` files at once and times the drain.

The rate sits well under what the stream sustains on four cores, so
the paced phase measures freshness, not backlog growth.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from collections import defaultdict
from statistics import median
from urllib.parse import unquote, urlparse

from perfbench import gen
from perfbench.common import Ctx, Outcome

RATE = 2.5  # files per second in the paced phase
BURST = 16
DRAIN_TIMEOUT = 60.0


def batch_files(ckpt: str, committed=None) -> dict[int, list[str]]:
    """Committed query batch id -> bronze file names it read.
    ``committed`` pins the batch ids to a listing taken earlier."""
    src = os.path.join(ckpt, "sources", "0")
    src_batch: dict[int, list[str]] = defaultdict(list)
    for name in os.listdir(src):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                path = os.path.basename(unquote(urlparse(entry["path"]).path))
                if path not in src_batch[entry["batchId"]]:
                    src_batch[entry["batchId"]].append(path)
    log_offset: dict[int, int] = {}
    for name in os.listdir(os.path.join(ckpt, "offsets")):
        if name.isdigit():
            with open(os.path.join(ckpt, "offsets", name)) as f:
                lines = f.read().splitlines()
            log_offset[int(name)] = json.loads(lines[2])["logOffset"]
    out, prev = {}, -1
    if committed is None:
        committed = [int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()]
    for b in sorted(committed):
        out[b] = [p for s in range(prev + 1, log_offset[b] + 1) for p in src_batch.get(s, [])]
        prev = log_offset[b]
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    d = os.path.join(ckpt, "commits")
    return {int(n): os.path.getmtime(os.path.join(d, n)) for n in os.listdir(d) if n.isdigit()}


def file_commit(ckpt: str) -> dict[str, tuple[int, float]]:
    """Bronze file name -> (batch id, commit time) for committed batches."""
    times = commit_times(ckpt)
    return {f: (b, times[b]) for b, files in batch_files(ckpt, times).items() for f in files}


class Feed(threading.Thread):
    """Open-loop publisher: file ``i`` is due at ``start + i / RATE``."""

    def __init__(self, raw: str, snaps: list[gen.Snapshot], start: float):
        super().__init__(name="snapshot-feed", daemon=True)
        self.raw, self.snaps, self.start_at = raw, snaps, start
        self.due: dict[str, float] = {}
        self.written: dict[str, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, snap in enumerate(self.snaps):
                due = self.start_at + i / RATE
                time.sleep(max(0.0, due - time.time()))
                gen.write_bronze_file(self.raw, snap)
                self.due[snap.name], self.written[snap.name] = due, time.time()
        except BaseException as exc:  # reported by the main thread
            self.error = exc


def _wait_for(names: list[str], ckpts: list[str], timeout: float) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if all(set(names) <= set(file_commit(c)) for c in ckpts):
            return True
        time.sleep(0.05)
    return False


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def run(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from tfl_realtime_lakehouse_spark.plans.staging import stg_arrivals
    from tfl_realtime_lakehouse_spark.streaming import (
        gold_hourly_stream,
        read_bronze_stream,
        streaming_headways,
    )

    spark, tr, tally = ctx.spark, ctx.tracer, ctx.tally
    w = ctx.work
    raw, out_h, out_g = str(w / "raw"), str(w / "headways"), str(w / "hourly")
    ck_h, ck_g = str(w / "ck_headways"), str(w / "ck_hourly")
    rng = random.Random(ctx.seed)
    paced_n = max(1, int(RATE * ctx.seconds))
    # No null keys in the feed, so the hourly check can compare group
    # keys directly.
    snaps = gen.snapshot_series(rng, gen.BASE_TIME, 1 + paced_n + BURST, null_keys=False)
    first, paced, burst = snaps[0], snaps[1 : 1 + paced_n], snaps[1 + paced_n :]
    gen.write_bronze_file(raw, first)

    def write_hourly(df, batch_id: int) -> None:
        df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out_g)

    cpu_start = ctx.cpu.jvm()
    with tr.span("streaming.start"):
        stg = stg_arrivals(read_bronze_stream(spark, raw))
        t_start = time.time()
        q_h = (
            streaming_headways(stg)
            .writeStream.format("parquet")
            .option("path", out_h)
            .option("checkpointLocation", ck_h)
            .queryName("headways")
            .start()
        )
        q_g = (
            gold_hourly_stream(stg)
            .writeStream.outputMode("update")
            .foreachBatch(write_hourly)
            .option("checkpointLocation", ck_g)
            .queryName("hourly")
            .start()
        )
    try:
        with tr.span("streaming.first_commit"):
            if not _wait_for([first.name], [ck_h, ck_g], DRAIN_TIMEOUT):
                raise RuntimeError("first snapshot never committed")
        cold = max(file_commit(c)[first.name][1] for c in (ck_h, ck_g)) - t_start

        cpu0 = ctx.cpu.jvm()
        cold_cpu = cpu0 - cpu_start
        feed = Feed(raw, paced, time.time() + 0.5)
        with tr.span("streaming.paced"):
            feed.start()
            feed.join(ctx.seconds + 60)
        if feed.error or feed.is_alive():
            raise RuntimeError(f"snapshot feed failed: {feed.error}")
        with tr.span("streaming.burst"):
            t_burst = time.time()
            for snap in burst:
                gen.write_bronze_file(raw, snap)
            drained = _wait_for([s.name for s in paced + burst], [ck_h, ck_g], DRAIN_TIMEOUT)
        cpu = ctx.cpu.jvm() - cpu0
        if not tally.ok(drained, "stream did not drain the burst"):
            raise RuntimeError("stream did not drain the burst")
        prog_h, prog_g = _progress(q_h), _progress(q_g)
    finally:
        for q in (q_h, q_g):
            q.stop()
            q.awaitTermination(60)
    for q in (q_h, q_g):
        tally.ok(q.exception() is None, f"query {q.name} failed: {q.exception()}")

    fc_h, fc_g = file_commit(ck_h), file_commit(ck_g)
    lat = [fc_h[s.name][1] - feed.due[s.name] for s in paced]
    tally.attempted += len(paced) + len(burst)
    drain = max(fc_h[s.name][1] for s in burst) - t_burst
    burst_rows = sum(len(s.rows) for s in burst)

    check(ctx, snaps, ck_h, out_h, out_g)

    commits = commit_times(ck_h)
    backlog = max(
        sum(1 for s in paced if feed.written[s.name] <= c and fc_h[s.name][0] > b)
        for b, c in commits.items()
    )
    per_batch = [len(v) for v in batch_files(ck_h).values() if v]
    data_batches = [p for p in prog_h if p.get("numInputRows", 0) > 0]
    dur = lambda k: median([p["durationMs"].get(k, 0) / 1000 for p in data_batches])  # noqa: E731
    state = data_batches[-1]["stateOperators"][0]
    layers = {
        "streaming.batches": len(prog_h) + len(prog_g),
        "streaming.trigger_s_p50": dur("triggerExecution"),
        "streaming.addBatch_s_p50": dur("addBatch"),
        "streaming.getBatch_s_p50": dur("getBatch"),
        "streaming.latestOffset_s_p50": dur("latestOffset"),
        "streaming.queryPlanning_s_p50": dur("queryPlanning"),
        "streaming.walCommit_s_p50": dur("walCommit"),
        "streaming.files_per_batch_p50": median(per_batch),
        "streaming.state_rows": state["numRowsTotal"],
        "streaming.state_memory_bytes": state["memoryUsedBytes"],
        "streaming.state_commit_s": state["commitTimeMs"] / 1000,
        "streaming.backlog_files_max": backlog,
        "streaming.hourly_latency_p50_s": median(
            [fc_g[s.name][1] - feed.due[s.name] for s in paced]
        ),
        "streaming.drain_s": drain,
        "streaming.drain_rows_per_s": burst_rows / drain,
        "generator.late_s_max": max(feed.written[n] - feed.due[n] for n in feed.due),
    }
    # Rows per second of batch time, over every data batch: a ratio of
    # sums, so small and large batches weigh by their rows.
    rate = sum(p["numInputRows"] for p in data_batches) / sum(
        p["durationMs"]["triggerExecution"] / 1000 for p in data_batches
    )
    return Outcome(cold, cold_cpu, lat, rate, cpu / (len(paced) + len(burst)), layers)


def replay_headways(snaps: list[gen.Snapshot], batches: dict[int, list[str]]) -> list[tuple]:
    """The documented streaming-headway semantics in plain Python: per
    (line, stop), each batch's events sorted by time against the last
    timestamp kept in state; an event earlier than state gets a NULL gap."""
    by_name = {s.name: s for s in snaps}
    last: dict[tuple, int] = {}
    out = []
    for b in sorted(batches):
        groups: dict[tuple, list[int]] = defaultdict(list)
        for name in batches[b]:
            for row in by_name[name].rows:
                r = gen.project(row)
                ts = gen.parse_ts(r["timestamp"])
                if ts is not None:
                    groups[(r["lineId"], r["stopId"])].append(int(ts.timestamp()) * 1_000_000)
        for key, stamps in groups.items():
            prev = last.get(key)
            for us in sorted(stamps):
                gap = None if prev is None or us < prev else (us - prev) / 1_000_000.0
                out.append((*key, us, gap))
                prev = us if prev is None else max(prev, us)
            last[key] = prev
    return sorted(out, key=lambda t: (t[0], t[1], t[2], -1.0 if t[3] is None else t[3]))


def check(ctx: Ctx, snaps: list[gen.Snapshot], ck_h: str, out_h: str, out_g: str) -> None:
    spark, tally = ctx.spark, ctx.tally
    got = spark.read.parquet(out_h).selectExpr(
        "line_id", "stop_id", "unix_micros(event_ts) AS us", "headway_s"
    ).collect()
    got = sorted(
        ((r.line_id, r.stop_id, r.us, r.headway_s) for r in got),
        key=lambda t: (t[0], t[1], t[2], -1.0 if t[3] is None else t[3]),
    )
    want = replay_headways(snaps, batch_files(ck_h))
    tally.ok(got == want, f"streaming headways: {len(got)} rows vs {len(want)} replayed")

    counts: dict[tuple, int] = defaultdict(int)
    for s in snaps:
        for row in s.rows:
            r = gen.project(row)
            ts = gen.parse_ts(r["timestamp"])
            if ts is not None:
                hour = int(ts.replace(minute=0, second=0).timestamp()) * 1_000_000
                counts[(hour, r["lineId"], r["stopId"])] += 1
    latest = spark.read.parquet(out_g).selectExpr(
        "unix_micros(hour) AS hour", "line_id", "stop_id", "n_events",
        "row_number() OVER (PARTITION BY hour, line_id, stop_id ORDER BY batch_id DESC) AS rn",
    ).where("rn = 1").collect()
    hourly = {(r.hour, r.line_id, r.stop_id): r.n_events for r in latest}
    tally.ok(hourly == dict(counts), f"hourly n_events: {len(hourly)} keys vs {len(counts)}")
