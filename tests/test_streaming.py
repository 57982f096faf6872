"""Streaming tests: bronze file-stream → silver, watermarked hourly gold,
and the stateful headway operator — each driven with availableNow
triggers + memory sinks, and checked against the batch ground truth."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.plans import stg_arrivals
from tfl_realtime_lakehouse_spark.plans.marts import fct_headways as fct_headways_batch, headway_events
from tfl_realtime_lakehouse_spark.sources.tables import write_bronze
from tfl_realtime_lakehouse_spark.streaming import (
    gold_hourly_stream,
    read_bronze_stream,
    streaming_headways,
)
from tfl_realtime_lakehouse_spark.streaming.sink import run_silver_stream

ROWS = [
    ("S1", "central", "P1", "D", 100, "2025-01-01T10:00:00Z"),
    ("S1", "central", "P1", "D", 90, "2025-01-01T10:04:00Z"),
    ("S1", "central", "P1", "D", 80, "2025-01-01T10:10:00Z"),
    ("S2", "central", "P1", "D", 70, "2025-01-01T10:02:00Z"),
    ("S2", "central", "P1", "D", 60, "2025-01-01T11:07:00Z"),
    ("S1", "victoria", "P2", "D", 50, "2025-01-01T10:03:00Z"),
]


@pytest.fixture(scope="module")
def bronze_dir(spark, tmp_path_factory):
    raw_dir = str(tmp_path_factory.mktemp("stream-bronze"))
    df = spark.createDataFrame(
        ROWS,
        "stopId string, lineId string, platformName string, destinationName string, "
        "timeToStation long, timestamp string",
    ).withColumn("date", F.lit("2025-01-01").cast("date"))
    write_bronze(df, raw_dir)
    return raw_dir


def _run_stream(df, tmp_path, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt-{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_silver_stream_matches_batch(spark, bronze_dir, tmp_path):
    stream = stg_arrivals(read_bronze_stream(spark, bronze_dir))
    assert stream.isStreaming
    _run_stream(stream, tmp_path, "silver")
    got = spark.sql("select line_id, stop_id, event_ts from silver").collect()
    assert len(got) == len(ROWS)
    assert all(r.event_ts is not None for r in got)


def test_stateful_streaming_headways_match_batch_lag(spark, bronze_dir, tmp_path):
    raw_batch = spark.read.option("basePath", bronze_dir).parquet(f"{bronze_dir}/date=*")
    batch = {
        (r.line_id, r.stop_id, r.event_ts): r.headway_s
        for r in headway_events(stg_arrivals(raw_batch)).collect()
    }
    stream = streaming_headways(stg_arrivals(read_bronze_stream(spark, bronze_dir)))
    _run_stream(stream, tmp_path, "headways")
    got = {
        (r.line_id, r.stop_id, r.event_ts): r.headway_s
        for r in spark.sql(
            "select * from headways where headway_s is not null"
        ).collect()
    }
    assert got == batch  # single-batch replay ≡ batch lag semantics


def test_gold_hourly_stream_windows(spark, bronze_dir, tmp_path):
    stream = gold_hourly_stream(
        stg_arrivals(read_bronze_stream(spark, bronze_dir)), watermark="2 hours"
    )
    # update mode: append-mode windows would only finalize once a LATER
    # batch advances the watermark past window end (T4 divergence note).
    _run_stream(stream, tmp_path, "gold", mode="update")
    got = {
        (r.line_id, r.stop_id, r.hour.isoformat()): r.n_events
        for r in spark.sql("select * from gold").collect()
    }
    assert got[("central", "S1", "2025-01-01T10:00:00")] == 3
    assert got[("central", "S2", "2025-01-01T10:00:00")] == 1
    assert got[("central", "S2", "2025-01-01T11:00:00")] == 1
    assert got[("victoria", "S1", "2025-01-01T10:00:00")] == 1


def test_headway_state_fn_rows_and_state_per_batch():
    """The per-key state contract of ``_headway_state_fn`` (the
    applyInPandasWithState function ``streaming_headways`` runs), driven
    directly with a stub GroupState over four micro-batches: in-order
    arrivals, a late event versus state (NULL gap, state keeps the max),
    an empty batch (no rows, state unchanged) and a duplicate timestamp
    (0 s gap). Emitted (event_ts, headway_s) rows and the persisted
    last-arrival state are checked after every batch."""
    import pandas as pd

    from tfl_realtime_lakehouse_spark.streaming import headways as H

    class StubGroupState:
        def __init__(self):
            self.v = None

        @property
        def exists(self):
            return self.v is not None

        @property
        def get(self):
            return self.v

        def update(self, v):
            self.v = tuple(v)

    def us(ts):
        return int(pd.Timestamp(ts).value // 1000)

    steps = [  # (batch timestamps, expected rows, expected state)
        (
            ["2025-01-01T10:00:00", "2025-01-01T10:04:00"],
            [("2025-01-01T10:00:00", None), ("2025-01-01T10:04:00", 240.0)],
            "2025-01-01T10:04:00",
        ),
        (
            ["2025-01-01T10:10:00", "2025-01-01T10:02:00"],  # 10:02 late
            [("2025-01-01T10:02:00", None), ("2025-01-01T10:10:00", 360.0)],
            "2025-01-01T10:10:00",
        ),
        ([], [], "2025-01-01T10:10:00"),
        (
            ["2025-01-01T11:07:00", "2025-01-01T11:07:00"],
            [("2025-01-01T11:07:00", 3420.0), ("2025-01-01T11:07:00", 0.0)],
            "2025-01-01T11:07:00",
        ),
    ]
    key = ("central", "S1")
    state = StubGroupState()
    for ts_list, want_rows, want_state in steps:
        pdf = pd.DataFrame({"event_ts": pd.to_datetime(ts_list)})
        out = pd.concat(
            list(H._headway_state_fn(key, iter([pdf]), state)),
            ignore_index=True,
        )
        got_rows = [
            (pd.Timestamp(ts), None if pd.isna(gap) else gap)
            for ts, gap in zip(out["event_ts"], out["headway_s"])
        ]
        assert got_rows == [(pd.Timestamp(t), g) for t, g in want_rows]
        assert set(out["line_id"]) <= {"central"}
        assert set(out["stop_id"]) <= {"S1"}
        assert state.v == (us(want_state),)


def test_watermark_drops_late_events(spark, tmp_path):
    """T4 divergence made observable: an event older than the watermark
    arriving in a later batch is dropped from the windowed aggregation
    (the reference would instead pick it up on full recompute)."""
    raw_dir = str(tmp_path / "late-raw")

    def bronze(ts_list, date):
        df = spark.createDataFrame(
            [("S1", "central", "P", "D", 1, t) for t in ts_list],
            "stopId string, lineId string, platformName string, destinationName string, "
            "timeToStation long, timestamp string",
        ).withColumn("date", F.lit(date).cast("date"))
        write_bronze(df, raw_dir)

    out_dir = str(tmp_path / "late-out")

    def run_batch():
        # parquet sink: append mode + checkpoint recovery across restarts
        # (memory sink cannot recover from a checkpoint)
        gold = gold_hourly_stream(
            stg_arrivals(read_bronze_stream(spark, raw_dir)), watermark="1 hour"
        )
        q = (
            gold.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt-late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: establishes watermark well past 10:00 + 1h → finalizes
    # and emits the 10:00 window with exactly 1 event
    bronze(["2025-01-01T10:00:00Z", "2025-01-01T20:00:00Z"], "2025-01-01")
    run_batch()
    # batch 2: a very late event for the already-closed 10:00 window
    bronze(["2025-01-01T10:30:00Z"], "2025-01-02")
    run_batch()

    rows = {
        (r.hour.isoformat(), r.n_events)
        for r in spark.read.parquet(out_dir).collect()
    }
    # the window was finalized with 1 event and the late arrival did
    # NOT reopen it (the reference's full recompute would count 2)
    assert rows == {("2025-01-01T10:00:00", 1)}


def test_incremental_gold_handles_late_data_exactly(spark, tmp_path):
    """The incremental upsert matches the full batch recompute even for
    events later than any watermark would allow — the divergence the
    windowed stream documents, solved."""
    from tfl_realtime_lakehouse_spark.streaming.incremental import run_incremental_gold

    raw_dir = str(tmp_path / "inc-raw")
    silver_dir = str(tmp_path / "inc-silver")
    gold_dir = str(tmp_path / "inc-gold")

    def bronze(ts_list, date):
        df = spark.createDataFrame(
            [("S1", "central", "P", "D", 1, t) for t in ts_list],
            "stopId string, lineId string, platformName string, destinationName string, "
            "timeToStation long, timestamp string",
        ).withColumn("date", F.lit(date).cast("date"))
        write_bronze(df, raw_dir)

    def run():
        q = run_incremental_gold(
            stg_arrivals(read_bronze_stream(spark, raw_dir)),
            silver_dir,
            gold_dir,
            str(tmp_path / "inc-ckpt"),
        )
        q.awaitTermination(120)

    bronze(["2025-01-01T10:00:00Z", "2025-01-01T10:40:00Z", "2025-01-01T20:00:00Z"], "2025-01-01")
    run()
    # a VERY late event lands inside the long-closed 10:00 hour
    bronze(["2025-01-01T10:20:00Z"], "2025-01-02")
    run()

    got = {
        (r.line_id, r.stop_id, r.hour.isoformat()): (
            r.avg_headway_s,
            r.p50_headway_s,
            r.p90_headway_s,
        )
        for r in spark.read.parquet(gold_dir).collect()
    }
    expect = {
        (r.line_id, r.stop_id, r.hour.isoformat()): (
            r.avg_headway_s,
            r.p50_headway_s,
            r.p90_headway_s,
        )
        for r in fct_headways_batch(
            stg_arrivals(
                spark.read.option("basePath", raw_dir).parquet(f"{raw_dir}/date=*")
            )
        ).collect()
    }
    assert got == expect
    # and the late event really changed the 10:00 hour (gaps 20+20+... vs 40)
    assert got[("central", "S1", "2025-01-01T10:00:00")][1] == 1200.0  # p50 = 20 min

def test_incremental_gold_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a micro-batch with the
    same batch_id must not duplicate silver rows or change gold, while a
    genuinely new batch_id still lands."""
    from tfl_realtime_lakehouse_spark.streaming.incremental import (
        incremental_gold_writer,
    )

    silver_dir = str(tmp_path / "re-silver")
    gold_dir = str(tmp_path / "re-gold")
    writer = incremental_gold_writer(silver_dir, gold_dir)

    def batch(ts_list, date):
        df = spark.createDataFrame(
            [("S1", "central", "P", "D", 1, t) for t in ts_list],
            "stopId string, lineId string, platformName string, destinationName string, "
            "timeToStation long, timestamp string",
        ).withColumn("date", F.lit(date).cast("date"))
        return stg_arrivals(df)

    b0 = batch(["2025-01-01T10:00:00Z", "2025-01-01T10:40:00Z"], "2025-01-01")
    writer(b0, 0)
    silver_n = spark.read.parquet(silver_dir).count()
    gold0 = sorted(map(tuple, spark.read.parquet(gold_dir).collect()))
    assert silver_n == 2

    writer(b0, 0)  # replay after a simulated failure
    assert spark.read.parquet(silver_dir).count() == silver_n
    assert sorted(map(tuple, spark.read.parquet(gold_dir).collect())) == gold0

    writer(batch(["2025-01-01T11:20:00Z"], "2025-01-01"), 1)  # new batch appends
    assert spark.read.parquet(silver_dir).count() == silver_n + 1


def test_datasource_to_gold_medallion_pipeline(spark, tmp_path):
    """End-to-end composition: the tfl_arrivals streaming DataSource
    feeds bronze, the bronze file-stream feeds the staged silver sink,
    and the batch gold recompute matches the staged rows — proving the
    round-2 source plugs into the existing medallion path unchanged."""
    import json as _json

    from tfl_realtime_lakehouse_spark.sources import datasource as DS
    from tfl_realtime_lakehouse_spark.sources.tables import write_bronze

    DS.register(spark)
    fixture = tmp_path / "fx.json"
    fixture.write_text(
        _json.dumps(
            {
                "S1": [
                    {
                        "naptanId": "S1",
                        "lineId": "central",
                        "platformName": "P1",
                        "destinationName": "Epping",
                        "timeToStation": 120,
                        "timestamp": "2025-01-01T10:00:00Z",
                    },
                    {
                        "naptanId": "S1",
                        "lineId": "central",
                        "platformName": "P1",
                        "destinationName": "Epping",
                        "timeToStation": 60,
                        "timestamp": "2025-01-01T10:40:00Z",
                    },
                ]
            }
        )
    )
    # stage 1: DataSource stream → date-partitioned bronze
    raw_dir = str(tmp_path / "bronze")
    stream = (
        spark.readStream.format("tfl_arrivals")
        .option("stops", "S1")
        .option("fixture", str(fixture))
        .option("max_polls", 1)
        .load()
    )
    q = stream.writeStream.foreachBatch(
        lambda batch, _bid: write_bronze(
            batch.withColumn("date", F.to_date(F.substring("timestamp", 1, 10))),
            raw_dir,
        )
    ).option("checkpointLocation", str(tmp_path / "ck1")).start()
    q.processAllAvailable()
    q.stop()

    # stage 2: bronze file-stream → staged silver (idempotent sink)
    silver_dir = str(tmp_path / "silver")
    run_silver_stream(
        stg_arrivals(read_bronze_stream(spark, raw_dir)),
        silver_dir,
        str(tmp_path / "ck2"),
    ).awaitTermination(120)

    # stage 3: batch gold over silver == expected headway
    silver = spark.read.parquet(silver_dir)
    gold = fct_headways_batch(silver).collect()
    assert len(gold) == 1
    assert (gold[0].line_id, gold[0].stop_id) == ("central", "S1")
    assert gold[0].avg_headway_s == 2400.0  # the 40-minute gap


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming exact-dedup: dropDuplicatesWithinWatermark removes
    redelivered events while the key is inside the watermark window —
    the streaming face of the exact-dedup operator (state is bounded by
    the watermark, unlike a global dropDuplicates)."""
    import json as _json

    src = tmp_path / "dedup-src"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2025-01-01T10:00:00Z", "v": "a"},
        {"event_id": 2, "ts": "2025-01-01T10:05:00Z", "v": "b"},
        {"event_id": 1, "ts": "2025-01-01T10:00:00Z", "v": "a"},  # dup delivery
        {"event_id": 3, "ts": "2025-01-01T10:10:00Z", "v": "c"},
        {"event_id": 2, "ts": "2025-01-01T10:05:00Z", "v": "b"},  # dup delivery
    ]
    (src / "batch.json").write_text("\n".join(_json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("event_id long, ts string, v string")
        .json(str(src))
        .withColumn("event_ts", F.to_timestamp("ts"))
        .withWatermark("event_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = str(tmp_path / "dedup-out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "dedup-ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.event_id, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_streaming_neardup_suppression_across_batches(spark, tmp_path):
    """Streaming near-dup: MinHash band buckets as keyed state. Batch 1
    plants originals; batch 2 delivers an exact copy (collides on EVERY
    band), a near-dup (one substituted token — collides on some band),
    and novel content (all bands fresh)."""
    import json as _json

    from tfl_realtime_lakehouse_spark.streaming.neardup import (
        rollup_candidates,
        streaming_neardup_bands,
    )

    base = " ".join(f"tok{i}" for i in range(72))
    near = base.replace("tok3", "changed")
    novel = " ".join(f"other{i}" for i in range(72))

    src = tmp_path / "nd-src"
    src.mkdir()
    out = str(tmp_path / "nd-out")
    ck = str(tmp_path / "nd-ck")

    def run_batch(rows):
        stream = spark.readStream.schema("doc_id long, text string").json(str(src))
        q = (
            streaming_neardup_bands(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in [{"doc_id": 1, "text": base}])
    )
    run_batch(1)
    (src / "b2.json").write_text(
        "\n".join(
            _json.dumps(r)
            for r in [
                {"doc_id": 2, "text": base},   # exact copy of doc 1
                {"doc_id": 3, "text": near},   # near-dup of doc 1
                {"doc_id": 4, "text": novel},  # fresh content
            ]
        )
    )
    run_batch(2)

    rows = {r["doc_id"]: r for r in rollup_candidates(spark.read.parquet(out)).collect()}
    assert rows[1]["is_candidate"] is False          # first occupant owns its buckets
    assert rows[2]["is_candidate"] is True           # exact copy: every band collides
    assert rows[2]["candidate_of"] == 1
    assert rows[3]["is_candidate"] is True           # near-dup: >=1 band collides
    assert rows[3]["candidate_of"] == 1
    assert rows[4]["is_candidate"] is False          # novel: all bands fresh
    # exact copy must collide on ALL bands, not just one
    band_rows = spark.read.parquet(out)
    assert band_rows.where("doc_id = 2 AND NOT is_new").count() == 4



def test_streaming_session_window_matches_batch_gap_model(spark, tmp_path):
    """Spark's built-in session_window must produce the same sessions as
    the batch gap-sessionization model (30-min inactivity): per-user
    event runs separated by >30 min land in separate windows, runs
    within 30 min merge. Gap == exactly 30 min is intentionally absent
    from the fixture: the batch rule (strictly-greater starts a session)
    and session_window (merge iff next_ts < prev_ts + gap) disagree only
    on that boundary."""
    import json as _json

    src = tmp_path / "sess-src"
    src.mkdir()
    base = "2025-01-01T10:{m:02d}:00Z"
    rows = [
        # user 1: burst of 3 within minutes, then a 45-min gap, then 2 more
        {"user_id": 1, "ts": "2025-01-01T10:00:00Z"},
        {"user_id": 1, "ts": "2025-01-01T10:05:00Z"},
        {"user_id": 1, "ts": "2025-01-01T10:10:00Z"},
        {"user_id": 1, "ts": "2025-01-01T10:55:00Z"},
        {"user_id": 1, "ts": "2025-01-01T11:00:00Z"},
        # user 2: single event
        {"user_id": 2, "ts": "2025-01-01T10:20:00Z"},
        # sentinel: pushes the watermark past every real session so
        # append mode finalizes them; its own session stays open and
        # is deliberately absent from the expectation.
        {"user_id": 9, "ts": "2025-01-01T13:00:00Z"},
    ]
    (src / "b.json").write_text("\n".join(_json.dumps(r) for r in rows))

    stream = (
        spark.readStream.schema("user_id long, ts string")
        .json(str(src))
        .withColumn("event_ts", F.to_timestamp("ts"))
        .withWatermark("event_ts", "1 minute")
        .groupBy(F.session_window("event_ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    out = str(tmp_path / "sess-out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sess-ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, r.session_start.isoformat(), r.n_events)
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (1, "2025-01-01T10:00:00", 3),
        (1, "2025-01-01T10:55:00", 2),
        (2, "2025-01-01T10:20:00", 1),
    ]


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Checkpointed restart continuity: run an availableNow pass over
    batch 1, stop, land batch 2, restart with the SAME checkpoint —
    the second run must process only the new file (source offsets come
    from the checkpoint), and the sink must hold each event exactly
    once across the restarts."""
    import json as _json

    src = tmp_path / "restart-src"
    src.mkdir()
    out = str(tmp_path / "restart-out")
    ck = str(tmp_path / "restart-ck")

    def run_pass():
        stream = (
            spark.readStream.schema("event_id long, v string")
            .json(str(src))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (src / "b1.json").write_text(
        "\n".join(_json.dumps({"event_id": i, "v": f"a{i}"}) for i in range(5))
    )
    run_pass()
    got1 = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got1 == [0, 1, 2, 3, 4]

    (src / "b2.json").write_text(
        "\n".join(_json.dumps({"event_id": i, "v": f"b{i}"}) for i in range(5, 8))
    )
    run_pass()
    got2 = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got2 == list(range(8))  # batch 1 not reprocessed, batch 2 appended


def test_streaming_counter_rate_matches_batch_across_batches(spark, tmp_path):
    """Per-sample increases from the stateful streaming operator equal
    the batch lag computation, INCLUDING across micro-batch boundaries
    (state carries the last sample), and the windowed hourly rate
    equals the batch counter_rate."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.operators.timeseries import counter_rate
    from tfl_realtime_lakehouse_spark.streaming.rates import (
        streaming_counter_increases,
        streaming_rate_per_hour,
    )

    t = lambda h, m: dt.datetime(2025, 1, 1, h, m)
    early = [  # file 1: first half of each series
        ("a", 1, t(10, 0), 10.0),
        ("a", 2, t(10, 20), 25.0),
        ("b", 3, t(10, 5), 5.0),
    ]
    late = [  # file 2: continues both series; includes a reset
        ("a", 4, t(11, 0), 3.0),   # reset: increase = 3
        ("a", 5, t(11, 30), 9.0),  # +6
        ("b", 6, t(11, 10), 8.0),  # +3
    ]
    schema = "event_type string, event_id long, ts timestamp, value double"
    src = str(tmp_path / "rates-src")
    spark.createDataFrame(early, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(late, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # two micro-batches, state crosses
        .parquet(f"{src}/f=*")
    )
    inc = streaming_counter_increases(stream)
    _run_stream(inc, tmp_path, "rate_inc")
    got = {
        (r["key"], r["ts"]): r["increase"]
        for r in spark.sql("select * from rate_inc").collect()
    }
    assert got[("a", t(10, 0))] is None and got[("b", t(10, 5))] is None
    assert got[("a", t(10, 20))] == 15.0
    assert got[("a", t(11, 0))] == 3.0  # reset recognized ACROSS batches
    assert got[("a", t(11, 30))] == 6.0
    assert got[("b", t(11, 10))] == 3.0

    # Windowed hourly rate: append mode emits a window once the
    # watermark passes its end, which happens on a LATER batch — so run
    # availableNow, add a sentinel file, and restart from the same
    # checkpoint (the watermark-drops-late-events test's pattern).
    sentinel = [("a", 7, t(13, 0), 12.0)]
    expected = {
        (r["key"], r["bucket"]): (r["n_samples"], r["increase"], r["rate_per_sec"])
        for r in counter_rate(
            spark.createDataFrame(early + late + sentinel, schema)
        ).collect()
    }
    out_dir = str(tmp_path / "rate-hourly-out")

    def run_hourly():
        stream2 = spark.readStream.schema(schema).parquet(f"{src}/f=*")
        hourly = streaming_rate_per_hour(
            streaming_counter_increases(stream2), watermark="0 seconds"
        )
        q = (
            hourly.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt-rate-hourly"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_hourly()  # processes f=1, f=2; end watermark 11:30
    spark.createDataFrame(sentinel, schema).coalesce(1).write.parquet(f"{src}/f=3")
    run_hourly()  # restart: watermark 11:30 closes the 10:00 windows
    got2 = {
        (r["key"], r["bucket"]): (r["n_samples"], r["increase"], r["rate_per_sec"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # every window the stream finalized must match the batch operator
    # exactly (null-increase series heads excluded on both sides); the
    # 10:00 window is guaranteed closed by the restart's watermark
    assert ("a", t(10, 0)) in got2 and expected[("a", t(10, 0))][1] == 15.0
    assert all(expected[k] == v for k, v in got2.items())


def test_dedup_within_watermark_drops_replayed_keys(spark, tmp_path):
    """A replayed record (same key) arriving in a later micro-batch
    inside the watermark horizon is dropped; distinct keys all pass."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.joins import (
        dedup_stream_within_watermark,
    )

    t = lambda m: dt.datetime(2025, 1, 1, 10, m)
    schema = "event_id long, ts timestamp, value double"
    src = str(tmp_path / "dedup-src")
    spark.createDataFrame(
        [(1, t(0), 1.0), (2, t(5), 2.0)], schema
    ).coalesce(1).write.parquet(f"{src}/f=1")
    # batch 2 replays event 1 (same key, same payload) + one new event
    spark.createDataFrame(
        [(1, t(0), 1.0), (3, t(10), 3.0)], schema
    ).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = dedup_stream_within_watermark(stream, ["event_id"], watermark="1 hour")
    _run_stream(out, tmp_path, "dedup_wm")
    rows = spark.sql("select event_id from dedup_wm").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked both sides, two
    micro-batches) emits exactly the batch interval join's pairs."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.joins import stream_interval_join

    t = lambda h, m: dt.datetime(2025, 1, 1, h, m)
    lschema = "user_id long, l_ts timestamp"
    rschema = "user_id long, r_ts timestamp"
    lsrc, rsrc = str(tmp_path / "sj-l"), str(tmp_path / "sj-r")
    errors = [(1, t(10, 0)), (2, t(10, 30)), (1, t(12, 0))]
    clicks = [
        (1, t(10, 20)),   # matches error@10:00 (within 60m)
        (1, t(11, 30)),   # matches nothing (>60m after 10:00, <12:00)
        (2, t(10, 31)),   # matches error@10:30
        (1, t(12, 59)),   # matches error@12:00
        (3, t(10, 5)),    # no error for this user
    ]
    spark.createDataFrame(errors[:2], lschema).coalesce(1).write.parquet(f"{lsrc}/f=1")
    spark.createDataFrame(errors[2:], lschema).coalesce(1).write.parquet(f"{lsrc}/f=2")
    spark.createDataFrame(clicks[:3], rschema).coalesce(1).write.parquet(f"{rsrc}/f=1")
    spark.createDataFrame(clicks[3:], rschema).coalesce(1).write.parquet(f"{rsrc}/f=2")

    ls = spark.readStream.schema(lschema).option("maxFilesPerTrigger", 1).parquet(f"{lsrc}/f=*")
    rs = spark.readStream.schema(rschema).option("maxFilesPerTrigger", 1).parquet(f"{rsrc}/f=*")
    joined = stream_interval_join(ls, rs, "user_id", max_gap_minutes=60)
    _run_stream(joined, tmp_path, "sj_out")
    got = {
        (r["user_id"], r["l_ts"], r["r_ts"])
        for r in spark.sql("select * from sj_out").collect()
    }
    expected = {
        (u, lt, rt)
        for (u, lt) in errors
        for (v, rt) in clicks
        if u == v and lt < rt <= lt + dt.timedelta(minutes=60)
    }
    assert got == expected and len(expected) == 3


def test_streaming_heavy_hitters_state_and_guarantee(spark, tmp_path):
    """Streaming Misra-Gries: state accumulates ACROSS micro-batches
    (final n_seen = total rows per shard), every true heavy item
    survives in the final summary with the MG undercount bound, and a
    single-batch run folds rows exactly like the sequential reference
    implementation."""
    from tfl_realtime_lakehouse_spark.streaming.heavyhitters import (
        streaming_heavy_hitters,
    )

    # one shard (shards=1) so the reference fold is over the global
    # tiebreak order; zipf-ish: item 'h' dominates, tail is diverse
    rows = []
    eid = 0
    for rep, tok in [(300, "h"), (120, "m"), (40, "t1"), (40, "t2")]:
        for _ in range(rep):
            rows.append((tok, eid))
            eid += 1
    for i in range(200):  # 200 singletons to pressure the table
        rows.append((f"s{i}", eid))
        eid += 1
    schema = "token string, event_id long"
    src = str(tmp_path / "hh-src")
    # two files -> two micro-batches; split mid-stream
    spark.createDataFrame(rows[:400], schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(rows[400:], schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    hh = streaming_heavy_hitters(
        stream, "token", "event_id", capacity=16, shards=1
    )
    _run_stream(hh, tmp_path, "hh_out")
    all_rows = spark.sql("select * from hh_out").collect()
    n_final = max(r["n_seen"] for r in all_rows)
    assert n_final == len(rows)  # state crossed the batch boundary
    final = {r["token"]: r["mg_count"] for r in all_rows if r["n_seen"] == n_final}

    true = {}
    for tok, _ in rows:
        true[tok] = true.get(tok, 0) + 1
    bound = len(rows) / (16 + 1)
    for tok, cnt in true.items():
        if cnt > bound:
            assert tok in final, f"heavy item {tok} evicted"
            assert final[tok] <= cnt
            assert final[tok] >= cnt - bound
    # sequential reference over the same (tiebreak) order
    table = {}
    for tok, _ in sorted(rows, key=lambda r: r[1]):
        if tok in table:
            table[tok] += 1
        elif len(table) < 16:
            table[tok] = 1
        else:
            dead = []
            for k in table:
                table[k] -= 1
                if table[k] == 0:
                    dead.append(k)
            for k in dead:
                del table[k]
    # batch-split MG == sequential MG here because the split point is
    # mid-run of identical tokens (the fold is order-deterministic and
    # the micro-batch boundary does not reorder the tiebreak order)
    assert final == table


def test_stream_static_enrichment_matches_batch(spark, tmp_path):
    """Stream-static dim join: every streamed fact row is enriched with
    its dimension attributes exactly as the batch join would, across
    micro-batches; unknown keys keep the fact row with null dim cols
    (left join contract)."""
    from tfl_realtime_lakehouse_spark.streaming.joins import enrich_stream_static

    facts = [(1, "a", 10.0), (2, "b", 20.0), (3, "zz", 30.0), (4, "a", 40.0)]
    schema = "event_id long, line_id string, value double"
    src = str(tmp_path / "ss-src")
    spark.createDataFrame(facts[:2], schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(facts[2:], schema).coalesce(1).write.parquet(f"{src}/f=2")
    dim = spark.createDataFrame(
        [("a", "Alpha"), ("b", "Beta")], "line_id string, line_name string"
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = enrich_stream_static(stream, dim, "line_id")
    _run_stream(out, tmp_path, "ss_enriched")
    got = {
        r["event_id"]: r["line_name"]
        for r in spark.sql("select * from ss_enriched").collect()
    }
    expect = {
        r["event_id"]: r["line_name"]
        for r in enrich_stream_static(
            spark.createDataFrame(facts, schema), dim, "line_id"
        ).collect()
    }
    assert got == expect == {1: "Alpha", 2: "Beta", 3: None, 4: "Alpha"}


def test_streaming_histogram_matches_batch_sketch(spark, tmp_path):
    """Streaming histogram: cumulative per-window bucket counters
    (update mode, counts monotone -> max per key is the final state)
    must equal the batch histogram_sketch over the same rows, with
    state accumulating across micro-batches and clipping intact."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.operators.sketches import histogram_sketch
    from tfl_realtime_lakehouse_spark.streaming.histograms import (
        streaming_histogram,
    )

    t = lambda m: dt.datetime(2025, 1, 1, 10, m)
    rows1 = [(1, t(0), 5.0), (2, t(1), 15.0), (3, t(2), -4.0)]   # -4 clips to 0
    rows2 = [(4, t(3), 15.5), (5, t(4), 999.0), (6, t(5), 5.1)]  # 999 clips hi
    schema = "event_id long, ts timestamp, value double"
    src = str(tmp_path / "hist-src")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    hist = streaming_histogram(
        stream, lo=0.0, hi=100.0, bins=10, window="1 hour"
    )
    _run_stream(hist, tmp_path, "hist_out", mode="update")
    got = {}
    for r in spark.sql("select * from hist_out").collect():
        key = (r["win_start"], r["bucket"])
        got[key] = max(got.get(key, 0), r["cnt"])

    batch = histogram_sketch(
        spark.createDataFrame(rows1 + rows2, schema), "value", 0.0, 100.0, 10
    )
    expect = {
        (dt.datetime(2025, 1, 1, 10, 0), r["bucket"]): r["cnt"]
        for r in batch.collect()
    }
    assert got == expect
    assert got[(dt.datetime(2025, 1, 1, 10, 0), 0)] == 3  # 5.0, 5.1, clipped -4
    assert got[(dt.datetime(2025, 1, 1, 10, 0), 9)] == 1  # clipped 999


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """leftOuter stream-stream interval join: matched pairs equal the
    inner join; left rows whose interval expired under the watermark
    emit exactly once with a null right timestamp — the streaming
    abandonment detector. A late sentinel advances the watermark so
    availableNow finalizes the outer results."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.joins import stream_interval_join

    t = lambda h, m: dt.datetime(2025, 1, 1, h, m)
    lschema = "user_id long, l_ts timestamp"
    rschema = "user_id long, r_ts timestamp"
    lsrc, rsrc = str(tmp_path / "loj-l"), str(tmp_path / "loj-r")
    errors = [(1, t(10, 0)), (2, t(10, 30)), (9, t(23, 50))]  # 9 = sentinel
    clicks = [(1, t(10, 20)), (9, t(23, 55))]  # user 2 never clicks
    spark.createDataFrame(errors, lschema).coalesce(1).write.parquet(f"{lsrc}/f=1")
    spark.createDataFrame(clicks, rschema).coalesce(1).write.parquet(f"{rsrc}/f=1")

    out_dir = str(tmp_path / "loj-out")

    def run():
        ls = spark.readStream.schema(lschema).parquet(f"{lsrc}/f=*")
        rs = spark.readStream.schema(rschema).parquet(f"{rsrc}/f=*")
        joined = stream_interval_join(
            ls, rs, "user_id", max_gap_minutes=60,
            left_watermark="0 seconds", right_watermark="0 seconds",
            how="leftOuter",
        )
        q = (
            joined.writeStream.format("parquet")
            .outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt-loj"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # second pass from the same checkpoint finalizes outer rows whose
    # intervals the sentinel-advanced watermark has closed
    run()
    got = {
        (r["user_id"], r["l_ts"], r["r_ts"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert (1, t(10, 0), t(10, 20)) in got          # matched pair
    assert (2, t(10, 30), None) in got              # expired -> null right
    assert sum(1 for g in got if g[0] == 2) == 1    # exactly once


def test_streaming_kmv_distinct_matches_python_sketch(spark, tmp_path):
    """Cross-batch KMV merge: after both micro-batches, each key's
    (n_mins, estimate) equals the python KMV sketch over the UNION of
    batches (mergeability across time); keys seen only in batch 1 keep
    their batch-1 sketch. State is bounded at KMV_K longs per key."""
    import datetime as dt
    import hashlib

    from tfl_realtime_lakehouse_spark.streaming.kmv import (
        KMV_K,
        kmv_estimate,
        streaming_kmv_distinct,
    )

    def h60(u):
        return int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16)

    t0 = dt.datetime(2025, 1, 1, 10, 0)
    b1 = [("a", u, t0) for u in range(0, 120)] + [("b", u, t0) for u in range(5)]
    b2 = [("a", u, t0) for u in range(80, 200)]  # overlaps 80..119 with b1
    schema = "event_type string, user_id long, ts timestamp"
    src = str(tmp_path / "kmv-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_kmv_distinct(stream)
    _run_stream(out, tmp_path, "kmv_out", mode="update")
    rows = spark.sql("select * from kmv_out").collect()

    # last emitted row per key = final merged sketch
    final = {}
    for r in rows:
        final[r["key"]] = (r["n_mins"], r["est_distinct"])

    def ref(users):
        mins = sorted({h60(u) for u in users})[:KMV_K]
        return (len(mins), kmv_estimate(mins))

    assert final["a"] == ref(range(0, 200))  # union across batches
    assert final["b"] == ref(range(5))       # exact below k: est == 5.0
    assert final["b"][1] == 5.0
    # sketch bounded and estimate within 30% of truth at k=64
    assert final["a"][0] == KMV_K
    assert abs(final["a"][1] - 200) / 200 < 0.3


def test_streaming_transitions_match_batch_lead(spark, tmp_path):
    """Cross-batch transition extraction equals the batch lead() window
    when arrival order respects event order; an out-of-order replay
    emits a NULL-from pair and does not regress state."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.transitions import (
        streaming_transitions,
    )

    t = lambda m: dt.datetime(2025, 1, 1, 10, m)
    b1 = [
        (1, 101, t(0), "view"),
        (1, 102, t(5), "click"),
        (2, 201, t(1), "signup"),
    ]
    b2 = [
        (1, 103, t(10), "purchase"),   # continues user 1 across batches
        (2, 202, t(0), "view"),        # OLDER than state (t(1)) → NULL from
        (2, 203, t(7), "purchase"),
    ]
    schema = "user_id long, event_id long, ts timestamp, event_type string"
    src = str(tmp_path / "trans-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_transitions(stream)
    _run_stream(out, tmp_path, "trans_out")
    got = {
        (r["user_id"], r["ts"]): (r["from_type"], r["to_type"])
        for r in spark.sql("select * from trans_out").collect()
    }
    assert got[(1, t(0))] == (None, "view")
    assert got[(1, t(5))] == ("view", "click")
    assert got[(1, t(10))] == ("click", "purchase")     # state crossed batches
    assert got[(2, t(0))] == (None, "view")             # out-of-order: NULL from
    assert got[(2, t(7))] == ("signup", "purchase")     # state NOT regressed

    # in-order users match the batch lead() exactly
    batch = spark.createDataFrame(b1 + [r for r in b2 if r[0] == 1], schema)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r["user_id"], r["ts"]): (r["prev"], r["event_type"])
        for r in batch.withColumn("prev", F.lag("event_type").over(w)).collect()
    }
    for k, v in want.items():
        assert got[k] == v


def test_streaming_scd2_matches_batch_episodes(spark, tmp_path):
    """Closed episodes from the streaming SCD2 operator equal
    scd2_build's, including an episode that OPENS in batch 1 and
    closes in batch 2; the final open episode matches is_current."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.operators.scd import scd2_build
    from tfl_realtime_lakehouse_spark.streaming.scd import streaming_scd2

    t = lambda m: dt.datetime(2025, 1, 1, 10, m)
    b1 = [
        (1, 101, t(0), "view"),
        (1, 102, t(5), "view"),    # same value: extends, no episode
        (1, 103, t(10), "click"),  # closes view@0
        (2, 201, t(2), "signup"),
    ]
    b2 = [
        (1, 104, t(20), "purchase"),  # closes click@10 ACROSS batches
        (2, 202, t(9), "error"),      # closes signup@2
    ]
    schema = "user_id long, event_id long, ts timestamp, event_type string"
    src = str(tmp_path / "scd-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    _run_stream(streaming_scd2(stream), tmp_path, "scd_out", mode="update")
    rows = spark.sql("select * from scd_out").collect()
    closed = {
        (r["user_id"], r["state"], r["valid_from"]): r["valid_to"]
        for r in rows
        if r["is_current"] == 0
    }
    # latest open episode per key (last emitted current row)
    open_eps = {}
    for r in rows:
        if r["is_current"] == 1:
            open_eps[r["user_id"]] = (r["state"], r["valid_from"])

    batch = scd2_build(
        spark.createDataFrame(b1 + b2, schema),
        key_col="user_id", attr_col="event_type", ts_col="ts",
        tiebreak_col="event_id",
    )
    want_closed = {
        (r["user_id"], r["state"], r["valid_from"]): r["valid_to"]
        for r in batch.collect()
        if r["is_current"] == 0
    }
    want_open = {
        r["user_id"]: (r["state"], r["valid_from"])
        for r in batch.collect()
        if r["is_current"] == 1
    }
    assert closed == want_closed
    assert open_eps == want_open
    # the cross-batch closure is present explicitly
    assert closed[(1, "click", t(10))] == t(20)


def test_streaming_rolling_anomaly_matches_batch(spark, tmp_path):
    """Flags from the stateful streaming operator equal the batch
    rolling_anomaly on the same bucket series, including history that
    spans micro-batches; an out-of-order bucket flags NULL and does
    not corrupt the ring buffer."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.operators.timeseries import rolling_anomaly
    from tfl_realtime_lakehouse_spark.streaming.anomaly import (
        streaming_rolling_anomaly,
    )

    h = lambda i: dt.datetime(2025, 1, 1, 0, 0) + dt.timedelta(hours=i)
    # flat series of 1.0 with big spikes at hours 8 and 15 (15's
    # 6-bucket history window is 9..14 — flat again, so it flags;
    # a spike at 14 would sit inside 8's inflated variance window)
    vals = [1.0] * 16
    vals[8] = 50.0
    vals[15] = 40.0
    b1 = [("a", h(i), vals[i]) for i in range(10)]
    b2 = [("a", h(i), vals[i]) for i in range(10, 16)] + [
        ("a", h(3), 99.0)  # replayed old bucket: NULL flag, state untouched
    ]
    schema = "key string, bucket timestamp, bucket_sum double"
    src = str(tmp_path / "anom-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_rolling_anomaly(stream, history=6, min_history=4, z2_threshold=9.0)
    _run_stream(out, tmp_path, "anom_out")
    rows = spark.sql("select * from anom_out").collect()
    got = {}
    for r in rows:
        k = (r["key"], r["bucket"])
        if k not in got or r["is_anomaly"] is not None:
            got.setdefault(k, r["is_anomaly"])
    # the replayed h(3) row appears twice (original + replay); the replay
    # must be NULL-flagged — find it as the later emission
    replay_flags = [
        r["is_anomaly"] for r in rows if r["bucket"] == h(3) and r["bucket_sum"] == 99.0
    ]
    assert replay_flags == [None]

    # batch reference over the same in-order series, same params
    ev = spark.createDataFrame(
        [("a", h(i), vals[i]) for i in range(16)],
        "event_type string, ts timestamp, value double",
    )
    batch = {
        (r["key"], r["bucket"]): r["is_anomaly"]
        for r in rolling_anomaly(
            ev, history=6, min_history=4, z2_threshold=9.0
        ).collect()
    }
    stream_flags = {
        (r["key"], r["bucket"]): r["is_anomaly"]
        for r in rows
        if not (r["bucket"] == h(3) and r["bucket_sum"] == 99.0)
    }
    assert stream_flags == batch
    # and the spikes are the only anomalies
    assert stream_flags[("a", h(8))] == 1 and stream_flags[("a", h(15))] == 1
    assert sum(v for v in stream_flags.values() if v) == 2


def test_streaming_sessions_event_time_timeout(spark, tmp_path):
    """Sessions closed by a successor event emit immediately; idle
    sessions flush via the EVENT-TIME TIMEOUT once a later batch's
    watermark passes last_ts + gap — no poison-pill event for the idle
    key. Totals equal the batch gap sessionization."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.session_timeout import (
        streaming_sessions_with_timeout,
    )

    t = lambda h, m: dt.datetime(2025, 1, 1, h, m)
    b1 = [
        (1, 101, t(10, 0)),
        (1, 102, t(10, 10)),          # same session (gap 30 min)
        (2, 201, t(10, 5)),
    ]
    b2 = [
        (1, 103, t(12, 0)),           # > 30 min after 10:10 → closes session 1
    ]
    # batch 3 only advances the watermark (a late key-3 event at 14:00):
    # key 1's 12:00 session and key 2's 10:05 session must flush via
    # TIMEOUT (no further events for those keys anywhere)
    b3 = [(3, 301, t(14, 0))]
    schema = "user_id long, event_id long, ts timestamp"
    src = str(tmp_path / "sess-to-src")
    for i, b in enumerate([b1, b2, b3], 1):
        spark.createDataFrame(b, schema).coalesce(1).write.parquet(f"{src}/f={i}")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_sessions_with_timeout(stream)
    _run_stream(out, tmp_path, "sess_to_out")
    rows = spark.sql("select * from sess_to_out").collect()
    got = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], r["closed_by"]
        )
        for r in rows
    }
    assert got[(1, t(10, 0))] == (t(10, 10), 2, "successor")
    assert got[(1, t(12, 0))] == (t(12, 0), 1, "timeout")
    assert got[(2, t(10, 5))] == (t(10, 5), 1, "timeout")
    # key 3's open session has no later watermark to flush it yet
    assert (3, t(14, 0)) not in got


def test_streaming_gapfill_locf_matches_batch(spark, tmp_path):
    """Dense rows from the streaming gap-fill twin equal the batch
    bucket_gapfill (zero-filled counts + LOCF) restricted to each key's
    [first, last] observed-bucket range (trailing gaps flush only when
    a later bucket arrives — a stream cannot know the global span) —
    including a gap that SPANS the micro-batch boundary; a replayed old bucket emits was_gap NULL and
    leaves state untouched."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.operators.timeseries import bucket_gapfill
    from tfl_realtime_lakehouse_spark.streaming.gapfill import (
        streaming_gapfill_locf,
    )

    h = lambda i: dt.datetime(2025, 1, 1, 0, 0) + dt.timedelta(hours=i)
    # key 'a': observed hours 0,1,4,9 (gaps 2-3 inside batch 1; 5-8
    # spanning the batch boundary). key 'b' starts late at hour 6.
    obs = {
        "a": [(0, 3, 2.0), (1, 2, 4.0), (4, 1, 6.0), (9, 5, 1.0)],
        "b": [(6, 1, 7.0), (7, 2, 9.0)],
    }
    rows = [
        (k, h(i), n, v) for k, lst in obs.items() for i, n, v in lst
    ]
    b1 = [r for r in rows if r[1] <= h(4)]
    b2 = [r for r in rows if r[1] > h(4)] + [("a", h(1), 2, 4.0)]  # replay
    schema = "key string, bucket timestamp, n_events long, avg_value double"
    src = str(tmp_path / "gap-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_gapfill_locf(stream)
    _run_stream(out, tmp_path, "gap_out")
    got_rows = spark.sql("select * from gap_out").collect()

    replay = [r for r in got_rows if r.key == "a" and r.bucket == h(1)]
    flags = sorted((r.was_gap for r in replay), key=lambda x: (x is None, x))
    assert flags == [0, None]  # original emission + NULL-flagged replay

    stream_vals = {
        (r.key, r.bucket): (r.n_events, r.was_gap, r.avg_value, r.avg_value_locf)
        for r in got_rows
        if r.was_gap is not None
    }
    # batch reference: events whose hourly agg reproduces the buckets
    ev = spark.createDataFrame(
        [
            (k, h(i) + dt.timedelta(minutes=j), v)
            for k, lst in obs.items()
            for i, n, v in lst
            for j in range(n)
        ],
        "event_type string, ts timestamp, value double",
    )
    first_obs = {k: min(i for i, _, _ in lst) for k, lst in obs.items()}
    last_obs = {k: max(i for i, _, _ in lst) for k, lst in obs.items()}
    batch = {
        (r.key, r.bucket): (
            r.n_events,
            int(r.was_gap),
            r.avg_value,
            r.avg_value_locf,
        )
        for r in bucket_gapfill(ev).collect()
        if h(first_obs[r.key]) <= r.bucket <= h(last_obs[r.key])
    }
    assert stream_vals == batch
    # the boundary-spanning gap was filled with the pre-boundary LOCF
    assert stream_vals[("a", h(6))] == (0, 1, None, 6.0)
    assert stream_vals[("b", h(6))][1] == 0  # b starts at its own range


def test_streaming_attribution_matches_batch(spark, tmp_path):
    """Attributed purchases from the streaming twin equal the batch
    as-of attribution on the same in-order events — including a click
    and purchase in the SAME micro-batch, a cross-batch attribution,
    a beyond-lookback miss, and a disorder purchase flagged NULL."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.operators.asof import asof_join
    from tfl_realtime_lakehouse_spark.streaming.attribution import (
        streaming_last_touch_attribution,
    )

    t0 = dt.datetime(2025, 1, 1, 0, 0)
    m = lambda i: t0 + dt.timedelta(minutes=i)
    d = lambda i: t0 + dt.timedelta(days=i)
    rows1 = [
        (1, 100, m(0), "click"),
        (1, 101, m(30), "purchase"),      # same-batch attribution
        (2, 102, m(5), "click"),
        (3, 103, m(1), "purchase"),       # never clicked -> attributed 0
    ]
    rows2 = [
        (2, 104, m(65), "purchase"),      # cross-batch attribution
        (1, 105, d(9), "purchase"),       # beyond 7d lookback -> 0
        (2, 106, m(2), "purchase"),       # disorder (state click at m5)
    ]
    schema = "user_id long, event_id long, ts timestamp, event_type string"
    src = str(tmp_path / "attr-src")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(f"{src}/f=2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_last_touch_attribution(stream)
    _run_stream(out, tmp_path, "attr_out")
    got = {
        r.event_id: (r.attributed, r.attr_click_ts, r.hours_to_convert)
        for r in spark.sql("select * from attr_out").collect()
    }
    assert got[101] == (1, m(0), 0.5)
    assert got[103][0] == 0
    assert got[104] == (1, m(5), 1.0)
    assert got[105][0] == 0                # lookback exceeded
    assert got[106] == (None, None, None)  # disorder contract

    # batch reference over the in-order rows (disorder row excluded)
    ev = spark.createDataFrame(rows1 + rows2[:2], schema)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    batch = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts",
        value_alias="attr_click_ts", direction="backward",
        tolerance_seconds=7 * 86400,
    )
    want = {
        r.event_id: r.attr_click_ts for r in batch.collect()
    }
    for eid, cts in want.items():
        assert got[eid][1] == cts, eid


def test_streaming_attribution_ts_tie_click_first(spark, tmp_path):
    """A purchase sharing the EXACT timestamp of a click attributes to
    it (the batch as-of join uses click_ts <= purchase_ts) even when the
    purchase's event_id sorts smaller — clicks process before purchases
    on ts ties."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.attribution import (
        streaming_last_touch_attribution,
    )

    ts = dt.datetime(2025, 1, 1, 12, 0)
    rows = [
        (1, 200, ts, "purchase"),  # smaller event_id than the tied click
        (1, 201, ts, "click"),
    ]
    schema = "user_id long, event_id long, ts timestamp, event_type string"
    src = str(tmp_path / "attr-tie-src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f=1")
    stream = spark.readStream.schema(schema).parquet(f"{src}/f=*")
    out = streaming_last_touch_attribution(stream)
    _run_stream(out, tmp_path, "attr_tie_out")
    got = {
        r.event_id: (r.attributed, r.attr_click_ts, r.hours_to_convert)
        for r in spark.sql("select * from attr_tie_out").collect()
    }
    assert got[200] == (1, ts, 0.0)


def test_streaming_psi_constant_baseline_degenerate_span():
    """A constant warm-up (hi == lo) must map every value to bin 0
    instead of raising ZeroDivisionError at baseline freeze — a crash
    there replays the same batch on restart and wedges the key."""
    from tfl_realtime_lakehouse_spark.streaming.psi import _bin_of

    assert _bin_of(5.0, 5.0, 5.0) == 0
    assert _bin_of(7.5, 5.0, 5.0) == 0   # above the degenerate span
    assert _bin_of(-1.0, 5.0, 5.0) == 0  # below it
    assert _bin_of(6.0, 5.0, 7.0) == 5   # normal span unchanged


def test_streaming_online_cusum_matches_batch_fold(spark, tmp_path):
    """Page's-test alarms from the streaming twin equal a python replay
    of the batch fold's recurrence on the same in-order bucket series —
    warm-up spanning the micro-batch boundary, a planted level shift
    that must alarm, restart-after-alarm, and a disorder bucket."""
    import datetime as dt

    h = lambda i: dt.datetime(2025, 1, 1, 0, 0) + dt.timedelta(hours=i)
    from tfl_realtime_lakehouse_spark.streaming.cusum import (
        _warmup_stats,
        streaming_online_cusum,
    )

    warm = 24
    vals = [10.0 + (i % 3) * 0.5 for i in range(warm)]  # warm-up
    post = [10.5] * 6 + [25.0] * 8 + [10.5] * 6         # level shift
    series = vals + post
    rows = [("a", h(i), v) for i, v in enumerate(series)]
    b1 = rows[:20]
    b2 = rows[20:] + [("a", h(5), 99.0)]  # disorder replay
    schema = "key string, bucket timestamp, y double"
    src = str(tmp_path / "cusum-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_online_cusum(stream, warm=warm)
    _run_stream(out, tmp_path, "cusum_out")
    got_rows = spark.sql("select * from cusum_out").collect()
    # disorder row: NULL alarm
    assert [r.alarm for r in got_rows if r.bucket == h(5) and r.k is None] == [None]
    got = {
        r.k: (r.g_pos, r.g_neg, r.alarm)
        for r in got_rows
        if r.k is not None and r.k > 0
    }

    # python replay of the registered query's fold recurrence
    mu, sig = _warmup_stats(series[:warm])
    gp = gn = 0.0
    want = {}
    for k, x in enumerate(series[warm:], start=1):
        gpn = max(0.0, gp + (x - mu - 0.5 * sig))
        gnn = max(0.0, gn + (mu - x - 0.5 * sig))
        if gpn > 5.0 * sig or gnn > 5.0 * sig:
            want[k] = (gpn, gnn, 1)
            gp = gn = 0.0
        else:
            gp, gn = gpn, gnn
            want[k] = (gp, gn, 0)
    assert got == want
    # the planted shift raises at least one alarm, and none pre-shift
    assert any(a for _, _, a in want.values())
    assert all(want[k][2] == 0 for k in range(1, 7))


def test_streaming_psi_drift_matches_reference(spark, tmp_path):
    """Periodized PSI from the streaming twin equals a python replay of
    the same estimator on the in-order series — baseline freeze
    spanning the batch boundary, a shifted period that must drift, a
    stable period that must not, and a disorder bucket ignored."""
    import datetime as dt
    import math

    from tfl_realtime_lakehouse_spark.streaming.psi import streaming_psi_drift

    h = lambda i: dt.datetime(2025, 1, 1, 0, 0) + dt.timedelta(hours=i)
    base = [float(10 + (i * 7) % 20) for i in range(20)]  # baseline 20
    stable = [float(10 + (i * 11) % 20) for i in range(10)]  # same range
    shifted = [float(40 + (i % 5)) for i in range(10)]       # off-range
    series = base + stable + shifted
    rows = [("a", h(i), v) for i, v in enumerate(series)]
    b1 = rows[:15]
    b2 = rows[15:] + [("a", h(2), 999.0)]  # disorder: ignored
    schema = "key string, bucket timestamp, y double"
    src = str(tmp_path / "psi-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_psi_drift(stream, baseline_n=20, period_n=10)
    _run_stream(out, tmp_path, "psi_out")
    got = {
        r.period_idx: (r.psi, r.n_drifted_bins, r.period_end)
        for r in spark.sql("select * from psi_out").collect()
    }
    assert set(got) == {1, 2}

    # python reference
    lo, hi = min(base), max(base)
    bin_of = lambda x: min(max(int(math.floor((x - lo) / ((hi - lo) / 10.0))), 0), 9)
    bcounts = [0] * 10
    for v in base:
        bcounts[bin_of(v)] += 1
    bp = [c / float(len(base)) for c in bcounts]

    def psi_of(vals):
        cc = [0] * 10
        for v in vals:
            cc[bin_of(v)] += 1
        psi = 0.0
        dr = 0
        for b in range(10):
            p_b = max(bp[b], 0.0001)
            p_c = max(cc[b] / float(len(vals)), 0.0001)
            t = (p_c - p_b) * math.log(p_c / p_b)
            psi += t
            if t > 0.025:
                dr += 1
        return psi, dr

    for idx, vals in ((1, stable), (2, shifted)):
        psi, dr = psi_of(vals)
        assert got[idx][0] == psi and got[idx][1] == dr, idx
    assert got[1][0] < 0.2 < got[2][0]  # stable below, shifted above
    assert got[2][2] == h(len(series) - 1)


def test_streaming_gapfill_poison_timestamp_guard(spark, tmp_path):
    """A far-future poison bucket must NOT explode into millions of
    fill rows: the run truncates loudly (was_gap=2 on the observed
    row), state advances, and the stream keeps working afterwards."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.gapfill import (
        streaming_gapfill_locf,
    )

    h = lambda i: dt.datetime(2025, 1, 1, 0, 0) + dt.timedelta(hours=i)
    rows = [
        ("a", h(0), 1, 1.0),
        ("a", h(1), 1, 2.0),
        ("a", dt.datetime(2031, 1, 1), 1, 3.0),  # poison: ~52k buckets away
        ("a", dt.datetime(2031, 1, 1, 2), 1, 4.0),  # 1-gap after poison
    ]
    schema = "key string, bucket timestamp, n_events long, avg_value double"
    src = str(tmp_path / "poison-src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f=1")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_gapfill_locf(stream, max_gap_buckets=1000)
    _run_stream(out, tmp_path, "poison_out")
    got = spark.sql("select * from poison_out").collect()
    assert len(got) == 5  # 2 normal + truncated poison + 1 fill + 1 normal
    flags = {(r.bucket, r.was_gap) for r in got}
    assert (dt.datetime(2031, 1, 1), 2) in flags          # loud truncation
    assert (dt.datetime(2031, 1, 1, 1), 1) in flags       # recovery fill
    assert (dt.datetime(2031, 1, 1, 2), 0) in flags


def test_streaming_gapfill_single_poison_does_not_wedge_key(spark, tmp_path):
    """One corrupt far-future row must NOT wedge the key: legitimate
    buckets arriving after the poison (all ≤ poison ts) are processed
    normally against the pre-poison state — filled, flagged 0/1, never
    misclassified as disorder. The poison emits flagged 2 and is
    discarded as a candidate once a sane bucket lands."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.gapfill import (
        streaming_gapfill_locf,
    )

    h = lambda i: dt.datetime(2025, 1, 1, 0, 0) + dt.timedelta(hours=i)
    rows = [
        ("a", h(0), 1, 1.0),
        ("a", h(1), 1, 2.0),
        ("a", dt.datetime(2031, 1, 1), 1, 99.0),  # single corrupt row
        ("a", h(3), 1, 4.0),  # legit: 1 gap after h(1)
        ("a", h(4), 1, 5.0),  # legit: consecutive
    ]
    schema = "key string, bucket timestamp, n_events long, avg_value double"
    src = str(tmp_path / "poison1-src")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{src}/f=1")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_gapfill_locf(stream, max_gap_buckets=1000)
    _run_stream(out, tmp_path, "poison1_out")
    got = spark.sql("select * from poison1_out").collect()
    by_bucket = {r.bucket: r for r in got}
    assert by_bucket[dt.datetime(2031, 1, 1)].was_gap == 2  # loud, once
    # post-poison legit buckets: normal fill from pre-poison state
    assert by_bucket[h(2)].was_gap == 1  # gap filled, not wedged
    assert by_bucket[h(2)].avg_value_locf == 2.0  # LOCF from h(1), not 99
    assert by_bucket[h(3)].was_gap == 0
    assert by_bucket[h(4)].was_gap == 0
    assert len(got) == 6  # no disorder-NULL rows, no mass fills


def test_two_stage_streaming_monitoring_pipeline(spark, tmp_path):
    """End-to-end streaming monitoring composition, the SUPPORTED shape:
    stage 1 is the watermarked hourly aggregation streaming into a
    parquet staging sink (append mode — buckets emit once their
    watermark closes), stage 2 streams the staged closed buckets into
    the stateful online-CUSUM twin. (A single-query chain is an
    AnalysisException on the applyInPandasWithState runtime —
    'not supported after aggregation'; the TWS runtime lifts that but
    needs protobuf, absent here. Two availableNow hops over a staging
    directory is the production composition either way: the staging
    sink doubles as the replayable bucket history.)"""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.streaming.cusum import (
        _warmup_stats,
        streaming_online_cusum,
    )

    m = lambda i: dt.datetime(2025, 1, 1, 0, 0) + dt.timedelta(minutes=i)
    # 10 hours of minute events: flat rate, then a surge in hour 8
    rows = []
    for hour in range(10):
        per_min = 5.0 if hour != 8 else 50.0
        for minute in range(60):
            rows.append(("k", m(hour * 60 + minute), per_min))
    # sentinel advances the watermark past the last real hour
    rows.append(("k", m(13 * 60), 0.0))
    src = str(tmp_path / "mon-src")
    spark.createDataFrame(
        rows, "key string, ts timestamp, v double"
    ).coalesce(1).write.parquet(f"{src}/f=1")

    stage1 = (
        spark.readStream.schema("key string, ts timestamp, v double")
        .parquet(f"{src}/f=*")
        .withWatermark("ts", "1 hour")
        .groupBy("key", F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("v").alias("y"))
        .select("key", F.col("w.start").alias("bucket"), "y")
    )
    staged = str(tmp_path / "mon-staged")
    q1 = (
        stage1.writeStream.format("parquet")
        .outputMode("append")
        .option("path", staged)
        .option("checkpointLocation", str(tmp_path / "ckpt-1"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)

    stage2 = streaming_online_cusum(
        spark.readStream.schema("key string, bucket timestamp, y double")
        .parquet(staged),
        warm=4,
    )
    _run_stream(stage2, tmp_path, "mon_out")
    got = {
        r.k: r.alarm
        for r in spark.sql("select * from mon_out").collect()
        if r.k is not None and r.k > 0
    }
    # closed buckets: hours 0..9 (sentinel hour stays open); warm 0-3
    assert len(got) == 6
    # the hour-8 surge is post-warm-up step k=5 and must alarm
    series = [300.0, 300.0, 300.0, 300.0, 300.0, 300.0, 300.0, 300.0, 3000.0, 300.0]
    mu, sig = _warmup_stats(series[:4])
    assert got[5] == 1 and sum(got.values()) == 1


def test_streaming_kmv_trailing_matches_batch(spark, tmp_path):
    """Trailing-7-day KMV estimates from the streaming twin equal a
    python replay of the batch rollup (same md5 60-bit family, same
    bottom-64 union-merge) on every CLOSED day — including a day gap,
    a cross-batch window, and per-day sets exceeding k."""
    import datetime as dt
    import hashlib

    from tfl_realtime_lakehouse_spark.streaming.kmv import (
        KMV_K,
        kmv_estimate,
        streaming_kmv_trailing,
    )

    def h60(u):
        return int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16)

    d0 = dt.datetime(2025, 3, 1)
    rows = []
    # key 'a': 10 days (with day 4 missing), ~100 users/day rotating pool
    for i in [0, 1, 2, 3, 5, 6, 7, 8, 9, 10]:
        for u in range(i * 37, i * 37 + 100):
            rows.append(("a", d0 + dt.timedelta(days=i, hours=u % 24), u))
    # key 'b': 3 days, tiny counts (< k: exact path)
    for i in range(3):
        for u in range(5):
            rows.append(("b", d0 + dt.timedelta(days=i, hours=u), u + 1000))
    split = d0 + dt.timedelta(days=6)
    b1 = [r for r in rows if r[1] < split]
    b2 = [r for r in rows if r[1] >= split]
    schema = "event_type string, ts timestamp, user_id long"
    src = str(tmp_path / "kmvtrail-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_kmv_trailing(stream)
    _run_stream(out, tmp_path, "kmvtrail_out")
    got = {
        (r.key, r.day): (r.n_mins, r.est_distinct_7d)
        for r in spark.sql("select * from kmvtrail_out").collect()
    }

    # batch replay: per (key, day) bottom-64; anchor day = union of
    # trailing 7 days' sets, re-ranked
    day_sets = {}
    for k, ts, u in rows:
        day = dt.datetime(ts.year, ts.month, ts.day)
        day_sets.setdefault((k, day), set()).add(h60(u))
    expected = {}
    for (k, day) in day_sets:
        union = set()
        for back in range(7):
            dsel = day - dt.timedelta(days=back)
            s = day_sets.get((k, dsel))
            if s:
                union.update(sorted(s)[:KMV_K])
        merged = sorted(union)[:KMV_K]
        expected[(k, day)] = (len(merged), kmv_estimate(merged))
    # every CLOSED day must match; the final open day per key is absent
    last = {k: max(d for (kk, d) in day_sets if kk == k) for k in ("a", "b")}
    for (k, day), want in expected.items():
        if day == last[k]:
            assert (k, day) not in got  # trailing contract: still open
        else:
            assert got[(k, day)] == want, (k, day)
    # non-vacuous: key a crossed the k=64 threshold (estimate, not exact)
    assert any(n == KMV_K for (k, _), (n, _) in got.items() if k == "a")


def test_streaming_linear_attribution_matches_batch(spark, tmp_path):
    """Per-touch credit rows from the streaming twin equal the batch
    linear-attribution query on the same in-order events — equal split
    across multiple window clicks, cross-batch window accumulation, a
    beyond-lookback click excluded, a direct (clickless) purchase, and
    a disorder purchase flagged NULL."""
    import datetime as dt

    from tfl_realtime_lakehouse_spark.queries.pipeline_queries import (
        events_linear_attribution,
    )
    from tfl_realtime_lakehouse_spark.streaming.linear_attribution import (
        streaming_linear_attribution,
    )

    t0 = dt.datetime(2025, 1, 10, 0, 0)
    m = lambda i: t0 + dt.timedelta(minutes=i)
    d = lambda i: t0 + dt.timedelta(days=i)
    rows1 = [
        (1, 100, m(0), "click", 0.0),
        (1, 101, m(5), "click", 0.0),
        (1, 102, m(30), "purchase", 10.0),   # split across both clicks
        (3, 103, m(1), "purchase", 7.0),     # never clicked -> direct
    ]
    rows2 = [
        (1, 104, d(2), "purchase", 9.0),     # cross-batch: both clicks still in window
        (1, 105, d(8), "purchase", 5.0),     # clicks beyond 7d -> direct
        (1, 106, m(1), "purchase", 4.0),     # disorder (hw is at d8)
    ]
    schema = (
        "user_id long, event_id long, ts timestamp, event_type string, "
        "value double"
    )
    src = str(tmp_path / "lin-src")
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(f"{src}/f=2")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_linear_attribution(stream)
    _run_stream(out, tmp_path, "lin_attr_out")
    got = {
        (r.purchase_id, r.click_id): (r.n_touches, r.credit)
        for r in spark.sql("select * from lin_attr_out").collect()
    }
    assert got[(102, 100)] == (2, 5.0)
    assert got[(102, 101)] == (2, 5.0)
    assert got[(103, None)] == (0, 7.0)
    assert got[(104, 100)] == (2, 4.5)
    assert got[(104, 101)] == (2, 4.5)
    assert got[(105, None)] == (0, 5.0)
    assert got[(106, None)] == (None, None)  # disorder contract

    # batch reference over the in-order rows (disorder row excluded),
    # via the registered query on an events.parquet-shaped dir
    sf_dir = str(tmp_path / "lin-sf")
    spark.createDataFrame(rows1 + rows2[:2], schema).select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.lit("{}").alias("props"),
    ).coalesce(1).write.parquet(f"{sf_dir}/events.parquet")
    want = {
        (r.purchase_id, r.click_id): (r.n_touches, r.credit)
        for r in events_linear_attribution(spark, sf_dir).collect()
    }
    in_order = {k: v for k, v in got.items() if k[0] != 106}
    assert in_order == want


def test_streaming_conformal_matches_batch_query(spark, tmp_path):
    """Cross-batch conformal-threshold maintenance: after both
    micro-batches, each lang's (n, q_hat, coverage) must equal the
    BATCH eval_conformal_thresholds query over the union of the
    batches' rows — bit-for-bit (the nonconformity is the same JVM
    expression tree; the histogram merge is exact integer addition).
    The stream maintains the (lang, a, cnt) histogram; the latest row
    per (lang, a) goes through the batch readout."""
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.conformal import (
        conformal_readout,
        streaming_conformal_thresholds,
    )

    def doc(i, lang, words):
        return (i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(words))
                + (" the a the" if i % 3 == 0 else " the"), lang, "s0", 0)

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    b1 = [doc(i, "en", 20 + i % 40) for i in range(60)] + [
        doc(100 + i, "fr", 30 + i % 25) for i in range(25)
    ] + [(900, None, "en", "s0", 0)]  # unscorable: null text
    b2 = [doc(200 + i, "en", 45 + i % 30) for i in range(50)] + [
        doc(300 + i, "zh", 10 + i % 50) for i in range(30)
    ] + [(901, None, "fr", "s0", 0)]
    # the null-text docs must be excluded IDENTICALLY on both sides —
    # equality below is only meaningful if they exist
    src = str(tmp_path / "conf-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_conformal_thresholds(stream)
    _run_stream(out, tmp_path, "conf_out", mode="update")
    latest = {}
    for r in spark.sql("select * from conf_out").collect():
        k = (r["lang"], r["a"])
        if k not in latest or r["cnt"] > latest[k]["cnt"]:
            latest[k] = r
    hist = spark.createDataFrame(
        list(latest.values()), "lang string, a double, cnt long"
    )
    final = {
        r["lang"]: (r["n"], r["q_hat"], r["coverage"])
        for r in conformal_readout(hist).collect()
    }

    # batch reference: the registered query over the union parquet
    union_dir = str(tmp_path / "conf-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/documents.parquet"
    )
    want = {
        r["lang"]: (r["n"], r["q_hat"], r["coverage"])
        for r in REGISTRY["eval_conformal_thresholds"].fn(
            spark, union_dir
        ).collect()
    }
    assert final == want
    # langs seen only in batch 1 keep a valid threshold after batch 2;
    # n counts exclude the planted null-text docs on BOTH sides
    assert "fr" in final and final["fr"][0] == 25
    assert final["en"][0] == 110


def _mk_docs(i, lang, source, words):
    text = " ".join(f"w{(i * 7 + j) % 13}" for j in range(words)) + (
        " the a the" if i % 3 == 0 else " the"
    )
    return (i, text, lang, source, len(text))


def test_streaming_uncertainty_margin_matches_batch_query(spark, tmp_path):
    """Cross-batch top-k maintenance (X188 twin): after both
    micro-batches each lang's top-20 boundary docs must equal the
    BATCH sample_uncertainty_margin query over the union — bit-for-bit
    (same JVM score/margin tree; Python only merges bounded top-k
    lists; rounding happens JVM-side after the stateful operator)."""
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.margin import (
        streaming_uncertainty_margin,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    b1 = [_mk_docs(i, "en", "s0", 20 + i % 40) for i in range(60)] + [
        _mk_docs(100 + i, "fr", "s1", 30 + i % 25) for i in range(25)
    ] + [(900, None, "en", "s0", 0)]
    b2 = [_mk_docs(200 + i, "en", "s0", 45 + i % 30) for i in range(50)] + [
        _mk_docs(300 + i, "zh", "s1", 10 + i % 50) for i in range(30)
    ] + [(901, None, "fr", "s1", 0)]
    src = str(tmp_path / "marg-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_uncertainty_margin(stream)
    _run_stream(out, tmp_path, "marg_out", mode="update")
    final = {}
    for r in spark.sql("select * from marg_out").collect():
        # update-mode memory sink appends emissions in batch order:
        # the LAST emission per (lang, pick_rank) is the current top-k
        final[(r["lang"], r["pick_rank"])] = (
            r["doc_id"], r["score"], r["margin"]
        )

    union_dir = str(tmp_path / "marg-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/documents.parquet"
    )
    want = {
        (r["lang"], r["pick_rank"]): (r["doc_id"], r["score"], r["margin"])
        for r in REGISTRY["sample_uncertainty_margin"].fn(
            spark, union_dir
        ).collect()
    }
    assert final == want
    # non-vacuous: en spans both batches, so its final top-20 must mix
    # docs from each (the merge actually re-ranked)
    en_ids = {v[0] for k, v in final.items() if k[0] == "en"}
    assert any(i < 100 for i in en_ids) and any(i >= 200 for i in en_ids)
    assert len(en_ids) == 20 and 900 not in en_ids and 901 not in en_ids


def test_streaming_source_scorecard_matches_batch_query(spark, tmp_path):
    """Cross-batch scorecard maintenance (X190 twin): after both
    micro-batches each source's full scorecard row must equal the
    BATCH docs_source_quality_profile query over the union —
    bit-for-bit (counts/sums/md5-set/lang-map merge in Python; every
    float step is a JVM expression tree identical to the batch's)."""
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.scorecard import (
        streaming_source_scorecard,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    b1 = [_mk_docs(i, "en", "s0", 20 + i % 40) for i in range(40)] + [
        _mk_docs(100 + i, "fr", "s1", 30 + i % 25) for i in range(25)
    ] + [(900, None, "en", "s0", 0)]
    b2 = [_mk_docs(200 + i, "en", "s0", 45 + i % 30) for i in range(30)] + [
        _mk_docs(300 + i, "zh", "s1", 10 + i % 50) for i in range(30)
    ] + [(901, None, "fr", "s1", 0)]
    # exact duplicates STRADDLING the batch boundary: same text as b1
    # docs, new ids in b2 — the distinct-hash set must dedupe across
    # batches (dup_ratio is the cross-batch leg)
    b2 += [(950 + j, b1[j][1], b1[j][2], b1[j][3], b1[j][4]) for j in range(6)]
    src = str(tmp_path / "score-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_source_scorecard(stream)
    _run_stream(out, tmp_path, "score_out", mode="update")
    final = {}
    for r in spark.sql("select * from score_out").collect():
        final[r["source"]] = (
            r["n_docs"], r["n_distinct"], r["dup_ratio"], r["mean_chars"],
            r["mean_quality"], r["lang_entropy_bits"],
        )

    union_dir = str(tmp_path / "score-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/documents.parquet"
    )
    want = {
        r["source"]: (
            r["n_docs"], r["n_distinct"], r["dup_ratio"], r["mean_chars"],
            r["mean_quality"], r["lang_entropy_bits"],
        )
        for r in REGISTRY["docs_source_quality_profile"].fn(
            spark, union_dir
        ).collect()
    }
    assert final == want
    # non-vacuous: s0 counts the null-text doc in volume but not in
    # quality/hashes, and the straddling duplicates depress n_distinct
    assert final["s0"][0] == 40 + 1 + 30 + 6
    assert final["s0"][1] < final["s0"][0] - 1  # null + 6 dups excluded
    assert final["s0"][2] > 0.0  # dup_ratio sees the cross-batch dups


def test_streaming_centroid_drift_matches_batch_query(spark, tmp_path):
    """Cross-batch centroid-drift maintenance (X201 twin): after both
    micro-batches the readout over the maintained moments table (latest
    row per (label, half, dim)) must equal the BATCH
    embedding_centroid_drift query over the union — bit-for-bit (the
    stream runs the batch moments aggregation; the readout is the batch
    readout). Planted: a null embedding, a null coordinate, a label
    seen in one half only, and a label whose second half arrives only
    in batch 2."""
    import random

    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.drift import (
        drift_readout,
        streaming_centroid_drift,
    )

    rng = random.Random(8)
    d = 8

    def vec():
        return [rng.uniform(-1, 1) for _ in range(d)]

    schema = "vec_id long, embedding array<float>, label int"
    b1 = [(i, vec(), i % 3) for i in range(40)]
    b1.append((900, None, 0))           # null embedding: no dims at all
    v = vec()
    v[3] = None
    b1.append((902, v, 1))              # null coordinate: counts, adds 0
    b1.append((904, vec(), 7))          # label 7: even half only, ever
    b1.append((905, vec(), 9))          # label 9: odd half here ...
    b2 = [(100 + i, vec(), i % 3) for i in range(30)]
    b2.append((906, vec(), 9))          # ... even half only in batch 2
    src = str(tmp_path / "drift-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_centroid_drift(stream)
    _run_stream(out, tmp_path, "drift_out", mode="update")
    # maintained table: the latest emission per (label, half, dim) —
    # the row count only grows, so the largest n is the final state
    latest = {}
    for r in spark.sql("select * from drift_out").collect():
        key = (r["label"], r["half"], r["dim"])
        if key not in latest or r["n"] >= latest[key]["n"]:
            latest[key] = r
    moments = spark.createDataFrame(
        list(latest.values()), "label int, half long, dim int, mu double, n long"
    )
    final = {
        r["label"]: (r["n0"], r["n1"], r["centroid_l2_shift"])
        for r in drift_readout(moments).collect()
    }

    union_dir = str(tmp_path / "drift-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/embeddings.parquet"
    )
    want = {
        r["label"]: (r["n0"], r["n1"], r["centroid_l2_shift"])
        for r in REGISTRY["embedding_centroid_drift"].fn(
            spark, union_dir
        ).collect()
    }
    assert final == want
    # non-vacuous: labels 0-2 present with drift > 0; label 7 never has
    # both halves (no row); label 9 completes only across the batch
    # boundary — the cross-batch leg
    assert set(final) == {0, 1, 2, 9}
    assert 7 not in final
    assert all(s > 0.0 for _, _, s in final.values())


def test_streaming_cuped_matches_batch_query(spark, tmp_path):
    """Cross-batch CUPED maintenance (X207 twin): the user-keyed state
    operator maintains the exact per-user (x, y) decimal sums, and the
    stateless readout over the maintained table (latest row per user)
    must equal the BATCH events_abtest_cuped query over the union —
    bit-for-bit, because the readout IS the batch downstream function.
    Planted: a null purchase value (registers the user, adds nothing),
    a user whose events are all other types (x=0, y=0 row — the batch
    COALESCE), and a user whose covariate arrives in batch 1 but whose
    metric arrives only in batch 2 (the cross-batch leg)."""
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.cuped import (
        cuped_readout,
        streaming_cuped_per_user,
    )

    import datetime

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime.datetime(2024, 1, 1)
    eid = iter(range(10_000))

    def ev(user, etype, value):
        return (next(eid), t0, user, etype, value, "{}")

    b1 = []
    for i in range(30):
        b1.append(ev(i, "view", 10.0 + i))
        b1.append(ev(i, "click", 5.0 + (i % 7)))
        if i % 2 == 0:
            b1.append(ev(i, "purchase", 50.0 + 3 * i))
    b1.append(ev(200, "purchase", None))   # null value: user exists, adds 0
    b1.append(ev(201, "scroll", 99.0))     # other-type-only user: x=0, y=0
    b1.append(ev(202, "view", 42.5))       # covariate now ...
    b2 = []
    for i in range(15, 45):
        b2.append(ev(i, "view", 20.0 + i))
        if i % 3 == 0:
            b2.append(ev(i, "purchase", 80.0 + i))
    b2.append(ev(202, "purchase", 17.25))  # ... metric only in batch 2
    src = str(tmp_path / "cuped-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_cuped_per_user(stream)
    _run_stream(out, tmp_path, "cuped_out", mode="update")
    # maintained table: the LATEST emission per user (update-mode memory
    # sink appends; values are nonnegative here so x, y and np only grow
    # and the largest (x, y, np) is the final state — order-independent)
    latest = {}
    for r in spark.sql("select * from cuped_out").collect():
        tot = (r["x"], r["y"], r["np"])
        if r["user_id"] not in latest or tot >= latest[r["user_id"]][0]:
            latest[r["user_id"]] = (tot, r)
    per_user = spark.createDataFrame(
        [v[1] for v in latest.values()],
        "user_id long, variant int, x double, y double, np long",
    )
    got = {
        r["variant"]: (
            r["n_users"], r["mean_metric"], r["mean_cuped"],
            r["theta"], r["rho2"],
        )
        for r in cuped_readout(per_user).collect()
    }

    union_dir = str(tmp_path / "cuped-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/events.parquet"
    )
    want = {
        r["variant"]: (
            r["n_users"], r["mean_metric"], r["mean_cuped"],
            r["theta"], r["rho2"],
        )
        for r in REGISTRY["events_abtest_cuped"].fn(spark, union_dir).collect()
    }
    assert got == want
    # non-vacuous: both arms populated, the covariate actually removes
    # variance (theta/rho2 non-null and > 0), user counts include the
    # null-value and other-type-only users
    assert set(got) == {0, 1}
    assert sum(g[0] for g in got.values()) == 48
    assert all(g[3] is not None and g[4] is not None for g in got.values())
    assert all(g[4] > 0.0 for g in got.values())


def test_streaming_bootstrap_ci_matches_batch_query(spark, tmp_path):
    """Cross-batch Poisson-bootstrap maintenance (X209 twin): the
    (variant, b)-keyed state operator maintains the exact replica sums
    (state bounded at |arms|·65 structs — no data-sized leg), and the
    stateless readout over the maintained table must equal the BATCH
    events_poisson_bootstrap_ci query over the union — bit-for-bit,
    because the readout IS the batch downstream function. Planted:
    a null purchase value (filtered identically), non-purchase events
    (ignored), and purchases straddling the batch boundary (every
    replica's sums must merge across batches)."""
    import datetime

    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.bootstrap import (
        bootstrap_readout,
        streaming_bootstrap_replicas,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime.datetime(2024, 1, 1)
    b1 = [
        (e, t0, e % 13, "purchase" if e % 2 == 0 else "view", 5.0 + (e % 9) * 2.5, "{}")
        for e in range(60)
    ]
    b1.append((900, t0, 1, "purchase", None, "{}"))  # null value: filtered
    b2 = [
        (100 + e, t0, e % 13, "purchase" if e % 3 == 0 else "click",
         12.0 + (e % 5) * 1.25, "{}")
        for e in range(45)
    ]
    src = str(tmp_path / "boot-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_bootstrap_replicas(stream)
    _run_stream(out, tmp_path, "boot_out", mode="update")
    # latest emission per (variant, b): sums are nonnegative here, so
    # the row with the largest (sw, swx) is the final state
    latest = {}
    for r in spark.sql("select * from boot_out").collect():
        key = (r["variant"], r["b"])
        rank = (r["sw"], r["swx"])
        if key not in latest or rank >= latest[key][0]:
            latest[key] = (rank, r)
    reps = spark.createDataFrame(
        [v[1] for v in latest.values()],
        "variant int, b int, sw long, swx double",
    )
    cols = ["n_rows", "mean_value", "boot_se", "ci_lo", "ci_hi"]
    got = {
        r["variant"]: tuple(r[c] for c in cols)
        for r in bootstrap_readout(reps).collect()
    }

    union_dir = str(tmp_path / "boot-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/events.parquet"
    )
    want = {
        r["variant"]: tuple(r[c] for c in cols)
        for r in REGISTRY["events_poisson_bootstrap_ci"].fn(
            spark, union_dir
        ).collect()
    }
    assert got == want
    # non-vacuous: both arms, cross-batch purchase totals (30 from b1 +
    # 15 from b2), and a CI that brackets the point estimate
    assert set(got) == {0, 1}
    assert sum(g[0] for g in got.values()) == 45
    assert all(g[3] < g[1] < g[4] for g in got.values())


def test_streaming_scorecard_kmv_mode(spark, tmp_path):
    """The scorecard twin's 100 TB mode (r8 verdict ask #3): with
    ``distinct_mode="kmv"`` the distinct leg is the bottom-64 KMV merge
    — state bounded at k longs per source — and after both
    micro-batches the sketch must equal the batch sketch over the
    UNION (python bottom-64 replay: set-union mergeability across
    time), every other column must stay bit-identical to exact mode,
    and the estimate must sit inside the k=64 error bound of the exact
    distinct count."""
    import hashlib

    from tfl_realtime_lakehouse_spark.streaming.kmv import KMV_K, kmv_estimate
    from tfl_realtime_lakehouse_spark.streaming.scorecard import (
        streaming_source_scorecard,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    # s0: 180 distinct texts (>> k=64, the sketch saturates); s1: 70
    b1 = [_mk_docs(i, "en", "s0", 20 + i % 90) for i in range(90)] + [
        _mk_docs(1000 + i, "fr", "s1", 30 + i % 40) for i in range(40)
    ] + [(900, None, "en", "s0", 0)]
    b2 = [_mk_docs(200 + i, "en", "s0", 45 + i % 95) for i in range(90)] + [
        _mk_docs(1100 + i, "zh", "s1", 10 + i % 30) for i in range(30)
    ]
    # cross-batch exact duplicates: must NOT add new sketch members
    b2 += [(950 + j, b1[j][1], b1[j][2], b1[j][3], b1[j][4]) for j in range(8)]
    src = str(tmp_path / "kmvscore-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    def run(mode, name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f=*")
        )
        out = streaming_source_scorecard(stream, distinct_mode=mode)
        _run_stream(out, tmp_path, name, mode="update")
        return {r["source"]: r.asDict() for r in spark.sql(f"select * from {name}").collect()}

    exact = run("exact", "kmvscore_exact")
    kmv = run("kmv", "kmvscore_kmv")

    # python bottom-64 replay over the UNION (proves the cross-batch
    # merge equals the one-shot sketch)
    by_source: dict = {}
    for row in b1 + b2:
        _, text, _, source, _ = row
        if text is None:
            continue
        hv = int(
            hashlib.md5(f"kmv:{text}".encode()).hexdigest()[:15], 16
        )
        by_source.setdefault(source, set()).add(hv)
    for s in ("s0", "s1"):
        mins = sorted(by_source[s])[:KMV_K]
        want_est = kmv_estimate(mins)
        assert kmv[s]["est_distinct"] == want_est, (s, kmv[s], want_est)
        # k=64 error bound vs the exact leg: 3.5 sigma of the KMV
        # relative error 1/sqrt(k-2) (deterministic here — fixed texts)
        n_exact = exact[s]["n_distinct"]
        assert abs(want_est - n_exact) / n_exact < 3.5 / (KMV_K - 2) ** 0.5
        # every non-distinct column identical to exact mode
        for c in ("n_docs", "mean_chars", "mean_quality", "lang_entropy_bits"):
            assert kmv[s][c] == exact[s][c], (s, c)
        # dup_ratio recomputed from the estimate
        import math
        want_dup = round(1.0 - want_est / kmv[s]["n_docs"], 6)
        assert math.isclose(kmv[s]["dup_ratio"], want_dup, rel_tol=0, abs_tol=1e-12)
    # non-vacuous: s0 saturates the sketch, s1 does too (70 > 64)
    assert len(by_source["s0"]) > KMV_K and len(by_source["s1"]) > KMV_K
    with __import__("pytest").raises(ValueError):
        streaming_source_scorecard(spark.readStream.schema(schema).parquet(f"{src}/f=*"), distinct_mode="hll")


def test_streaming_uplift_by_decile_matches_batch_query(spark, tmp_path):
    """Cross-batch uplift-by-decile maintenance (X212 twin, r8 verdict
    ask #5): the state layer is X208's CUPED per-user operator VERBATIM
    (one state store serves both dashboards), and the stateless decile
    readout over the maintained table must equal the BATCH
    events_uplift_by_decile query over the union — bit-for-bit, because
    the readout IS the batch downstream function object. Planted: a
    user whose covariate arrives in batch 1 but whose metric arrives
    only in batch 2 (the straddling leg), and a lowest-decile cohort
    that is entirely arm 0 (missing-arm decile → NULL mean_y1/uplift
    on both sides)."""
    import datetime
    import hashlib
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.uplift import (
        streaming_uplift_per_user,
        uplift_decile_readout,
    )

    def arm(u):
        return int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:15], 16) % 2

    arm0 = [u for u in range(200) if arm(u) == 0]
    # the three lowest-x users are ALL arm 0: two x=0 specials + one
    # tiny-covariate user → decile 1 of the 22-user frame has no arm-1
    lo_null, lo_scroll, lo_tiny = arm0[0], arm0[1], arm0[2]
    others = [u for u in range(200) if u not in (lo_null, lo_scroll, lo_tiny)][:19]
    straddler = others[7]

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime.datetime(2024, 1, 1)
    eid = iter(range(10_000))

    def ev(user, etype, value):
        return (next(eid), t0, user, etype, value, "{}")

    b1 = [ev(lo_null, "purchase", None), ev(lo_scroll, "scroll", 99.0),
          ev(lo_tiny, "view", 0.5), ev(lo_tiny, "purchase", 3.25)]
    for i, u in enumerate(others):
        b1.append(ev(u, "view", 10.0 + 1.37 * i))
        if u != straddler and i % 2 == 0:
            b1.append(ev(u, "purchase", 40.0 + 2.5 * i))
    b2 = []
    for i, u in enumerate(others):
        b2.append(ev(u, "click", 4.0 + (i % 5) * 0.75))
        if i % 3 == 0:
            b2.append(ev(u, "purchase", 60.0 + i))
    b2.append(ev(straddler, "purchase", 123.45))  # metric only in batch 2
    src = str(tmp_path / "uplift-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_uplift_per_user(stream)
    _run_stream(out, tmp_path, "uplift_out", mode="update")
    latest = {}
    for r in spark.sql("select * from uplift_out").collect():
        tot = (r["x"], r["y"], r["np"])
        if r["user_id"] not in latest or tot >= latest[r["user_id"]][0]:
            latest[r["user_id"]] = (tot, r)
    per_user = spark.createDataFrame(
        [v[1] for v in latest.values()],
        "user_id long, variant int, x double, y double, np long",
    )
    cols = ("n0", "n1", "mean_y0", "mean_y1", "uplift")
    got = {
        r["decile"]: tuple(r[c] for c in cols)
        for r in uplift_decile_readout(per_user).collect()
    }

    union_dir = str(tmp_path / "uplift-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/events.parquet"
    )
    want = {
        r["decile"]: tuple(r[c] for c in cols)
        for r in REGISTRY["events_uplift_by_decile"].fn(spark, union_dir).collect()
    }
    assert got == want
    # non-vacuous plants: 22 users → 10 deciles all present; decile 1
    # is the all-arm-0 cohort (n1 = 0, NULL mean_y1/uplift); the
    # straddling user's cross-batch y participates somewhere
    assert set(got) == set(range(1, 11))
    assert got[1][1] == 0 and got[1][3] is None and got[1][4] is None
    assert sum(v[0] + v[1] for v in got.values()) == 22


def test_streaming_did_matches_batch_query(spark, tmp_path):
    """Cross-batch DiD maintenance (X222 twin): the user-keyed state
    operator maintains exact per-user (y_pre, y_post) decimal sums and
    the stateless readout over the maintained table must equal the
    BATCH events_did_estimator query over the union — bit-for-bit,
    because the readout rebuilds the batch wide frame and calls its
    own downstream function. Planted: a user whose PRE purchase
    arrives in batch 1 and POST purchase only in batch 2 (the
    straddling leg), an all-other-type user (counts in n_arm, adds
    0 to every cell), a null purchase value, no arm-1 pre purchases at
    all (empty-cell COALESCE), and an arm-1 purchase with a NULL ts
    (post is NULL: the batch drops that cell, so the twin must book it
    in neither period — as "pre" it would move pre_trt off 0.0)."""
    import datetime
    import hashlib
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.did import (
        did_readout,
        streaming_did_per_user,
    )

    def arm(u):
        return int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:15], 16) % 2

    a0 = [u for u in range(200) if arm(u) == 0][:5]
    a1 = [u for u in range(200) if arm(u) == 1][:4]
    PRE = datetime.datetime(2024, 1, 5)
    POST = datetime.datetime(2024, 1, 25)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    eid = iter(range(10_000))

    def ev(u, ts, etype, value):
        return (next(eid), ts, u, etype, value, "{}")

    straddler = a0[0]
    b1 = [ev(straddler, PRE, "purchase", 11.5)]
    b1 += [ev(a0[1], PRE, "purchase", 20.25), ev(a0[2], POST, "purchase", 7.0)]
    b1 += [ev(a0[3], PRE, "view", 5.0)]          # other-type-only user
    b1 += [ev(a1[0], POST, "purchase", 40.0), ev(a1[1], POST, "purchase", None)]
    b2 = [ev(straddler, POST, "purchase", 99.75)]  # straddling metric
    b2 += [ev(a0[4], POST, "purchase", 3.125)]
    b2 += [ev(a1[2], POST, "purchase", 60.5), ev(a1[3], PRE, "click", 1.0)]
    b2 += [ev(a1[0], None, "purchase", 1000.0)]  # NULL ts: no period
    src = str(tmp_path / "did-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_did_per_user(stream)
    _run_stream(out, tmp_path, "did_out", mode="update")
    latest = {}
    for r in spark.sql("select * from did_out").collect():
        tot = r["y_pre"] + r["y_post"]
        if r["user_id"] not in latest or tot >= latest[r["user_id"]][0]:
            latest[r["user_id"]] = (tot, r)
    per_user = spark.createDataFrame(
        [v[1] for v in latest.values()],
        "user_id long, variant int, y_pre decimal(37,12), y_post decimal(37,12)",
    )
    cols = ("n_ctl", "n_trt", "pre_ctl", "post_ctl", "pre_trt", "post_trt", "did")
    [g] = did_readout(per_user).collect()
    union_dir = str(tmp_path / "did-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/events.parquet"
    )
    [w] = REGISTRY["events_did_estimator"].fn(spark, union_dir).collect()
    assert tuple(g[c] for c in cols) == tuple(w[c] for c in cols)
    # non-vacuous plants
    assert g["n_ctl"] == 5 and g["n_trt"] == 4
    assert g["pre_trt"] == 0.0            # arm-1 pre cell empty
    assert g["post_trt"] > 0.0
    assert g["did"] == w["did"] and g["did"] is not None


def test_streaming_srm_matches_batch_query(spark, tmp_path):
    """Cross-batch SRM gate (X223 twin): ZERO new state — the per-arm
    population counts come from X208's maintained CUPED table, and the
    readout is the batch events_srm_check downstream function object.
    Planted: a deliberately imbalanced population split across two
    micro-batches (users repeat across batches — the state-store key
    set must dedupe), tripping the flag on both sides."""
    import datetime
    import hashlib
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.srm import (
        srm_readout,
        streaming_srm_per_user,
    )

    def arm(u):
        return int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:15], 16) % 2

    a0 = [u for u in range(500) if arm(u) == 0][:30]
    a1 = [u for u in range(500) if arm(u) == 1][:6]
    t0 = datetime.datetime(2024, 1, 2)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    eid = iter(range(10_000))

    def ev(u):
        return (next(eid), t0, u, "view", 1.0, "{}")

    b1 = [ev(u) for u in a0[:20] + a1[:3]]
    b2 = [ev(u) for u in a0[10:] + a1]  # overlap: users straddle batches
    src = str(tmp_path / "srm-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_srm_per_user(stream)
    _run_stream(out, tmp_path, "srm_out", mode="update")
    latest = {}
    for r in spark.sql("select * from srm_out").collect():
        tot = (r["x"], r["y"], r["np"])
        if r["user_id"] not in latest or tot >= latest[r["user_id"]][0]:
            latest[r["user_id"]] = (tot, r)
    per_user = spark.createDataFrame(
        [v[1] for v in latest.values()],
        "user_id long, variant int, x double, y double, np long",
    )
    cols = ("n_ctl", "n_trt", "trt_share", "chi2", "srm_flag")
    [g] = srm_readout(per_user).collect()
    union_dir = str(tmp_path / "srm-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/events.parquet"
    )
    [w] = REGISTRY["events_srm_check"].fn(spark, union_dir).collect()
    assert tuple(g[c] for c in cols) == tuple(w[c] for c in cols)
    assert g["n_ctl"] == 30 and g["n_trt"] == 6 and g["srm_flag"] is True


def test_streaming_lift_matches_batch_query(spark, tmp_path):
    """Cross-batch A/B lift maintenance (X226 twin): the shared CUPED
    state layer's new purchase-event count makes conversion visible
    (conv = np > 0 — a NULL-value purchase converts a user while
    adding nothing to sy), and the stateless readout over the
    maintained table must equal the BATCH events_abtest_lift query
    over the union — bit-for-bit, because the readout IS the batch
    downstream function (_lift_readout). Planted: a null-value-
    purchase-only converter, a converter whose ONLY purchase arrives
    in batch 2 (the cross-batch leg), a two-batch repeat purchaser
    (np=2, still one conversion), and purchase-free users in both
    arms."""
    import datetime
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.lift import (
        lift_readout,
        streaming_lift_per_user,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime.datetime(2024, 1, 1)
    eid = iter(range(10_000))

    def ev(user, etype, value):
        return (next(eid), t0, user, etype, value, "{}")

    b1 = []
    for i in range(40):
        b1.append(ev(i, "view", 10.0 + i))
        if i % 4 == 0:
            b1.append(ev(i, "purchase", 25.0 + i))
    b1.append(ev(300, "purchase", None))   # null-value purchase: converts
    b1.append(ev(301, "scroll", 7.0))      # never purchases
    b1.append(ev(302, "view", 1.0))        # converts only in batch 2
    b1.append(ev(303, "purchase", 5.0))    # repeat purchaser ...
    b2 = [ev(303, "purchase", 6.0)]        # ... second purchase, np=2
    b2.append(ev(302, "purchase", 9.0))
    for i in range(20, 55):
        b2.append(ev(i, "click", 2.0 + i))
        if i % 5 == 0:
            b2.append(ev(i, "purchase", 60.0 + i))
    src = str(tmp_path / "lift-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    out = streaming_lift_per_user(stream)
    _run_stream(out, tmp_path, "lift_out", mode="update")
    latest = {}
    for r in spark.sql("select * from lift_out").collect():
        tot = (r["x"], r["y"], r["np"])
        if r["user_id"] not in latest or tot >= latest[r["user_id"]][0]:
            latest[r["user_id"]] = (tot, r)
    per_user = spark.createDataFrame(
        [v[1] for v in latest.values()],
        "user_id long, variant int, x double, y double, np long",
    )
    cols = (
        "n_a", "conv_a", "n_b", "conv_b", "rate_a", "rate_b", "lift", "z_score",
    )
    [g] = lift_readout(per_user).collect()

    union_dir = str(tmp_path / "lift-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/events.parquet"
    )
    [w] = REGISTRY["events_abtest_lift"].fn(spark, union_dir).collect()
    assert tuple(g[c] for c in cols) == tuple(w[c] for c in cols)
    # non-vacuous: both arms populated with converters and
    # non-converters, z defined, and the planted edge cases held:
    # the null-value purchaser and the cross-batch converter each
    # count exactly once
    assert g["n_a"] + g["n_b"] == 59
    assert 0 < g["conv_a"] < g["n_a"] and 0 < g["conv_b"] < g["n_b"]
    assert g["z_score"] is not None
    np_by_user = {u: latest[u][1]["np"] for u in latest}
    assert np_by_user[300] == 1 and np_by_user[302] == 1
    assert np_by_user[303] == 2 and np_by_user[301] == 0


def test_scorecard_kmv_merge_identity():
    """r9 verdict ask #6: the KMV mergeability IDENTITY, the proof
    shape X138/X167 carry — union-of-SKETCHES ≡ sketch-of-UNION, on
    planted cross-batch overlap. Three paths must produce the same
    bottom-64 state and estimate: (1) one-shot over A∪B, (2)
    sequential state updates A then B (and B then A — order
    insensitivity), (3) TREE-MERGE: two independently built,
    already-TRUNCATED sketches merged by feeding one's members into
    the other's state — the path a 100 TB partial-aggregation tree
    actually takes. Every path must also equal the ground-truth
    bottom-64 of the raw union."""
    from decimal import Decimal

    import numpy as np
    import pandas as pd

    from tfl_realtime_lakehouse_spark.streaming.kmv import KMV_K, kmv_estimate
    from tfl_realtime_lakehouse_spark.streaming.scorecard import (
        _scorecard_kmv_state_fn,
    )

    class _FakeState:
        def __init__(self, prev=None):
            self.exists = prev is not None
            self._prev = prev
            self.value = None

        @property
        def get(self):
            return self._prev

        def update(self, v):
            self.value = v

    def pdf(hashes):
        n = len(hashes)
        return pd.DataFrame(
            {
                "n_chars": pd.array([10] * n, dtype="int64"),
                "_sq": [Decimal("0.5")] * n,
                "_hv": pd.array(hashes, dtype="int64"),
                "lang": ["en"] * n,
            }
        )

    def run(prev, hashes):
        st = _FakeState(prev)
        list(_scorecard_kmv_state_fn(("s0",), iter([pdf(hashes)]), st))
        return st.value

    rng = np.random.default_rng(7)
    # >k distinct per side so truncation fires in BOTH partial sketches,
    # with a planted overlap that straddles the bottom-64 region
    a = [int(v) for v in rng.integers(1, 2**59, size=150)]
    b = [int(v) for v in rng.integers(1, 2**59, size=140)]
    b[:30] = a[:30]          # cross-batch overlap
    b[30:40] = sorted(a)[:10]  # overlap inside A's bottom region

    truth = sorted(set(a) | set(b))[:KMV_K]

    one_shot = run(None, a + b)
    st_a = run(None, a)
    st_b = run(None, b)
    seq_ab = run(st_a, b)
    seq_ba = run(st_b, a)
    # tree-merge: the truncated sketch of B fed into A's state (and
    # vice versa) — mins is state field 3
    merge_ab = run(st_a, list(st_b[3]))
    merge_ba = run(st_b, list(st_a[3]))

    assert list(one_shot[3]) == truth
    assert list(seq_ab[3]) == truth
    assert list(seq_ba[3]) == truth
    assert list(merge_ab[3]) == truth
    assert list(merge_ba[3]) == truth
    est = kmv_estimate(truth)
    # sketches saturated (the k-th min moved), so the identity is
    # non-vacuous; truncation must actually have dropped members
    assert len(set(a)) > KMV_K and len(set(b)) > KMV_K
    assert est > 0 and len(truth) == KMV_K


def test_composed_multireadout_experiment_platform(spark, tmp_path):
    """The DEPLOYMENT SHAPE of the shared-state claim (r10 verdict ask
    #3): one cross-batch run maintains ONE CUPED per-user state table,
    and ALL FIVE experimentation readouts are asserted against their
    registered batch queries over the same union IN THE SAME TEST —
    lift, CUPED, uplift deciles, and SRM read the single maintained
    table (four dashboards, one state store); DiD rides its own
    (y_pre, y_post) aggregate over the same source (pre/post is not
    derivable from (x, y, np)).

    The five per-readout pytests pin each twin individually; this test
    pins the COMPOSITION: the same maintained rows feed every readout,
    so a platform wiring all five dashboards off one
    state store gets batch-identical answers everywhere after any
    prefix of micro-batches. Fixture plants every family's edge in one
    corpus: a null-value purchase (converts, adds nothing to y), an
    other-type-only user (x=0, y=0, counts in SRM/n_arm), a covariate-
    in-batch-1 / metric-in-batch-2 straddler, a repeat purchaser
    (np=2, one conversion), and purchases on both sides of the DiD
    2024-01-16 cutoff including a pre-in-b1 / post-in-b2 straddle."""
    import datetime
    import hashlib
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.cuped import (
        cuped_readout,
        streaming_cuped_per_user,
    )
    from tfl_realtime_lakehouse_spark.streaming.did import (
        did_readout,
        streaming_did_per_user,
    )
    from tfl_realtime_lakehouse_spark.streaming.lift import lift_readout
    from tfl_realtime_lakehouse_spark.streaming.srm import srm_readout
    from tfl_realtime_lakehouse_spark.streaming.uplift import (
        uplift_decile_readout,
    )

    def arm(u):
        return int(hashlib.md5(f"ab:{u}".encode()).hexdigest()[:15], 16) % 2

    PRE = datetime.datetime(2024, 1, 5)
    POST = datetime.datetime(2024, 1, 25)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    eid = iter(range(10_000))

    def ev(u, ts, etype, value):
        return (next(eid), ts, u, etype, value, "{}")

    b1, b2 = [], []
    for i in range(32):
        b1.append(ev(i, PRE, "view", 10.0 + 1.37 * i))
        if i % 2 == 0:
            b1.append(ev(i, PRE if i % 4 == 0 else POST, "purchase", 30.0 + 2 * i))
    for i in range(16, 48):
        b2.append(ev(i, POST, "click", 3.0 + 0.5 * (i % 9)))
        if i % 3 == 0:
            b2.append(ev(i, POST, "purchase", 55.0 + i))
    b1.append(ev(300, PRE, "purchase", None))   # null value: converts, y += 0
    b1.append(ev(301, PRE, "scroll", 99.0))     # other-type-only user
    b1.append(ev(302, PRE, "view", 42.5))       # covariate now ...
    b2.append(ev(302, POST, "purchase", 17.25))  # ... metric in batch 2
    b1.append(ev(303, PRE, "purchase", 5.0))    # repeat purchaser, pre ...
    b2.append(ev(303, POST, "purchase", 6.0))   # ... post: DiD straddle, np=2
    src = str(tmp_path / "composed-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")
    union_dir = str(tmp_path / "composed-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/events.parquet"
    )

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/f=*")
        )

    # --- the ONE maintained CUPED state table ---
    _run_stream(
        streaming_cuped_per_user(stream()), tmp_path, "composed_out", mode="update"
    )
    latest = {}
    for r in spark.sql("select * from composed_out").collect():
        tot = (r["x"], r["y"], r["np"])
        if r["user_id"] not in latest or tot >= latest[r["user_id"]][0]:
            latest[r["user_id"]] = (tot, r)
    per_user = spark.createDataFrame(
        [v[1] for v in latest.values()],
        "user_id long, variant int, x double, y double, np long",
    )

    def rows(df, cols, key=None):
        out = df.collect()
        if key is None:
            [r] = out
            return tuple(r[c] for c in cols)
        return {r[key]: tuple(r[c] for c in cols) for r in out}

    def batch(name):
        return REGISTRY[name].fn(spark, union_dir)

    # readout 1: lift
    lift_cols = ("n_a", "conv_a", "n_b", "conv_b", "rate_a", "rate_b",
                 "lift", "z_score")
    assert rows(lift_readout(per_user), lift_cols) == rows(
        batch("events_abtest_lift"), lift_cols
    )
    # readout 2: CUPED
    cuped_cols = ("n_users", "mean_metric", "mean_cuped", "theta", "rho2")
    got_cuped = rows(cuped_readout(per_user), cuped_cols, key="variant")
    assert got_cuped == rows(batch("events_abtest_cuped"), cuped_cols,
                             key="variant")
    # readout 3: uplift deciles
    up_cols = ("n0", "n1", "mean_y0", "mean_y1", "uplift")
    got_up = rows(uplift_decile_readout(per_user), up_cols, key="decile")
    assert got_up == rows(batch("events_uplift_by_decile"), up_cols,
                          key="decile")
    # readout 4: SRM gate
    srm_cols = ("n_ctl", "n_trt", "trt_share", "chi2", "srm_flag")
    got_srm = rows(srm_readout(per_user), srm_cols)
    assert got_srm == rows(batch("events_srm_check"), srm_cols)

    # readout 5: DiD — its own (y_pre, y_post) aggregate over the SAME
    # source (pre/post is not a function of the CUPED frame)
    _run_stream(
        streaming_did_per_user(stream()), tmp_path, "composed_did", mode="update"
    )
    dlatest = {}
    for r in spark.sql("select * from composed_did").collect():
        tot = r["y_pre"] + r["y_post"]
        if r["user_id"] not in dlatest or tot >= dlatest[r["user_id"]][0]:
            dlatest[r["user_id"]] = (tot, r)
    did_per_user = spark.createDataFrame(
        [v[1] for v in dlatest.values()],
        "user_id long, variant int, y_pre decimal(37,12), y_post decimal(37,12)",
    )
    did_cols = ("n_ctl", "n_trt", "pre_ctl", "post_ctl", "pre_trt",
                "post_trt", "did")
    got_did = rows(did_readout(did_per_user), did_cols)
    assert got_did == rows(batch("events_did_estimator"), did_cols)

    # non-vacuous: one population (52 users) seen identically by the
    # metric readouts and the gate; both arms populated; variance
    # actually reduced; all 10 deciles present; DiD defined; and the
    # planted edges held (null-value converter np=1, straddler np=1,
    # repeat purchaser np=2, other-type user np=0).
    n_users = {u: r for u, (_, r) in latest.items()}
    assert len(n_users) == 52
    assert got_srm[0] + got_srm[1] == 52
    assert sum(g[0] for g in got_cuped.values()) == 52
    assert sum(v[0] + v[1] for v in got_up.values()) == 52
    assert {arm(u) for u in n_users} == {0, 1}
    assert all(g[3] is not None and g[4] > 0.0 for g in got_cuped.values())
    assert set(got_up) == set(range(1, 11))
    assert got_did[6] is not None
    assert n_users[300]["np"] == 1 and n_users[302]["np"] == 1
    assert n_users[303]["np"] == 2 and n_users[301]["np"] == 0


# ---------------------------------------------------------------------------
# State-bound SOAK tests (r10 verdict ask #4): ~20 micro-batches per
# bounded-state twin, then assert the state store's numRowsTotal
# (query.lastProgress stateOperators) equals the DOCUMENTED bound —
# turning "state ≤ X forever" from module prose into a tested
# invariant. Final-state correctness still holds after the soak
# because every state update is an exact, order-free merge.
# ---------------------------------------------------------------------------


def _soak_state_rows(q):
    """numRowsTotal of the single stateful operator at the last batch."""
    ops = q.lastProgress["stateOperators"]
    assert len(ops) == 1, [o["operatorName"] for o in ops]
    return ops[0]["numRowsTotal"]


def _soak_stream(spark, src, schema):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )


def test_soak_bootstrap_state_bound_20_batches(spark, tmp_path):
    """X209 soak: 20 micro-batches of purchases; the (variant, b) key
    space is |arms|·(B+1) = 2·65 = 130, and the state store must hold
    EXACTLY 130 rows at the end — the documented no-data-sized-leg
    bound. The readout over the 20-batch-maintained table must still
    equal the batch query over the union (state stayed correct, not
    just bounded)."""
    import datetime
    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.bootstrap import (
        bootstrap_readout,
        streaming_bootstrap_replicas,
    )

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t0 = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "soakboot-src")
    eid = iter(range(100_000))
    allrows = []
    for f in range(20):
        rows = [
            (next(eid), t0, (7 * f + j) % 29, "purchase", 4.0 + ((f + j) % 11) * 1.5, "{}")
            for j in range(6)
        ]
        rows.append((next(eid), t0, f, "view", 1.0, "{}"))  # ignored type
        allrows += rows
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f={f:02d}"
        )
    q = _run_stream(
        streaming_bootstrap_replicas(_soak_stream(spark, src, schema)),
        tmp_path,
        "soakboot_out",
        mode="update",
    )
    assert _soak_state_rows(q) == 2 * 65  # |arms| · (B + 1), forever

    latest = {}
    for r in spark.sql("select * from soakboot_out").collect():
        key = (r["variant"], r["b"])
        rank = (r["sw"], r["swx"])
        if key not in latest or rank >= latest[key][0]:
            latest[key] = (rank, r)
    assert len(latest) == 130
    reps = spark.createDataFrame(
        [v[1] for v in latest.values()], "variant int, b int, sw long, swx double"
    )
    union_dir = str(tmp_path / "soakboot-union")
    spark.createDataFrame(allrows, schema).write.parquet(
        f"{union_dir}/events.parquet"
    )
    cols = ["n_rows", "mean_value", "boot_se", "ci_lo", "ci_hi"]
    got = {
        r["variant"]: tuple(r[c] for c in cols)
        for r in bootstrap_readout(reps).collect()
    }
    want = {
        r["variant"]: tuple(r[c] for c in cols)
        for r in REGISTRY["events_poisson_bootstrap_ci"].fn(spark, union_dir).collect()
    }
    assert got == want and set(got) == {0, 1}


def test_soak_kmv_distinct_state_bound_20_batches(spark, tmp_path):
    """X97 soak: 3 keys × 50 NEW members per batch × 20 batches = 1000
    distinct members per key (≫ k=64). State must stay at exactly 3
    rows (one bounded sketch per key), the final sketch must be
    saturated at k mins, and it must equal the python bottom-64 replay
    over the whole 20-batch union (mergeability across time)."""
    import datetime as dt
    import hashlib

    from tfl_realtime_lakehouse_spark.streaming.kmv import (
        KMV_K,
        kmv_estimate,
        streaming_kmv_distinct,
    )

    schema = "event_type string, user_id long, ts timestamp"
    t0 = dt.datetime(2025, 1, 1)
    src = str(tmp_path / "soakkmv-src")
    for f in range(20):
        rows = [
            (k, 10_000 * ki + 50 * f + j, t0)
            for ki, k in enumerate(("a", "b", "c"))
            for j in range(50)
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f={f:02d}"
        )
    q = _run_stream(
        streaming_kmv_distinct(_soak_stream(spark, src, schema)),
        tmp_path,
        "soakkmv_out",
        mode="update",
    )
    assert _soak_state_rows(q) == 3  # one bounded sketch per key

    def h60(u):
        return int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16)

    final = {}
    for r in spark.sql("select * from soakkmv_out").collect():
        # n_mins saturates then est only refines; the max-est row per
        # key is not ordered, so take the row from the LAST batch via
        # the exact replay instead: recompute and compare every key
        final.setdefault(r["key"], []).append((r["n_mins"], r["est_distinct"]))
    for ki, k in enumerate(("a", "b", "c")):
        members = {10_000 * ki + u for u in range(1000)}
        mins = sorted(h60(u) for u in members)[:KMV_K]
        want = (len(mins), kmv_estimate(mins))
        assert want in final[k]          # the final emission is the replay
        assert want[0] == KMV_K          # saturated: bound actually binding
        assert abs(want[1] - 1000) / 1000 < 0.35


def test_soak_heavy_hitters_state_bound_20_batches(spark, tmp_path):
    """X69 soak: 4 shards × capacity-8 MG tables fed 20 batches with
    ~800 distinct tokens. numRowsTotal must equal the shard count (one
    bounded MG table per shard — the O(shards·capacity) prose), each
    latest summary must hold ≤ capacity tokens, and the planted heavy
    token must survive with the MG undercount guarantee."""
    from pyspark.sql import functions as SF

    from tfl_realtime_lakehouse_spark.streaming.heavyhitters import (
        streaming_heavy_hitters,
    )

    schema = "token string, tiebreak long"
    src = str(tmp_path / "soakhh-src")
    capacity, shards = 8, 4
    true_hh = 0
    n_total = 0
    for f in range(20):
        rows = [("HH", 100 * f + j) for j in range(30)]  # the heavy token
        true_hh += 30
        rows += [(f"one-off-{f}-{j}", j) for j in range(40)]
        n_total += len(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f={f:02d}"
        )
    q = _run_stream(
        streaming_heavy_hitters(
            _soak_stream(spark, src, schema),
            "token",
            "tiebreak",
            capacity=capacity,
            shards=shards,
        ),
        tmp_path,
        "soakhh_out",
        mode="append",
    )
    assert _soak_state_rows(q) == shards  # one bounded MG table per shard

    out = spark.sql("select * from soakhh_out")
    last_seen = {
        r["shard"]: r["mx"]
        for r in out.groupBy("shard").agg(SF.max("n_seen").alias("mx")).collect()
    }
    latest = [
        r
        for r in out.collect()
        if r["n_seen"] == last_seen[r["shard"]]
    ]
    per_shard: dict = {}
    for r in latest:
        per_shard.setdefault(r["shard"], []).append(r)
    assert set(per_shard) == set(range(shards))
    for s, rows_s in per_shard.items():
        assert len(rows_s) <= capacity, (s, len(rows_s))
    [hh] = [r for r in latest if r["token"] == "HH"]
    # MG guarantee on the heavy token's shard substream: mg_count is an
    # undercount by at most n_seen/capacity of ITS shard
    assert true_hh - hh["n_seen"] / capacity <= hh["mg_count"] <= true_hh


def test_soak_scorecard_kmv_state_bound_20_batches(spark, tmp_path):
    """Scorecard-KMV soak: 2 sources × 15 new texts per batch × 20
    batches (300 distinct texts per source ≫ k=64). State must stay at
    exactly 2 rows (one bounded struct per source — the 100 TB mode's
    whole point), and the final estimate must equal the python
    bottom-64 replay over the union."""
    import hashlib

    from tfl_realtime_lakehouse_spark.streaming.kmv import KMV_K, kmv_estimate
    from tfl_realtime_lakehouse_spark.streaming.scorecard import (
        streaming_source_scorecard,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    src = str(tmp_path / "soakscore-src")
    texts: dict = {"s0": set(), "s1": set()}
    for f in range(20):
        rows = []
        for snum, source in enumerate(("s0", "s1")):
            for j in range(15):
                t = f"doc {source} {f} {j} " + "x" * ((f + j) % 7)
                texts[source].add(t)
                rows.append((1000 * snum + 15 * f + j, t, "en", source, len(t)))
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f={f:02d}"
        )
    q = _run_stream(
        streaming_source_scorecard(
            _soak_stream(spark, src, schema), distinct_mode="kmv"
        ),
        tmp_path,
        "soakscore_out",
        mode="update",
    )
    assert _soak_state_rows(q) == 2  # one bounded struct per source

    final: dict = {}
    for r in spark.sql("select * from soakscore_out").collect():
        final.setdefault(r["source"], []).append(
            (r["n_docs"], r["est_distinct"])
        )
    for source in ("s0", "s1"):
        mins = sorted(
            int(hashlib.md5(f"kmv:{t}".encode()).hexdigest()[:15], 16)
            for t in texts[source]
        )[:KMV_K]
        want = (300, kmv_estimate(mins))
        assert want in final[source]  # the final emission is the replay
        assert len(texts[source]) == 300 > KMV_K


def test_soak_kmv_trailing_state_bound_20_batches(spark, tmp_path):
    """X171 soak: 20 day-batches through the trailing-7d sketch. State
    stays at one row per key, emissions only appear for CLOSED days,
    every sketch is ≤ k mins, and the last closed day's estimate
    equals the trailing-window python replay (per-day bottom-64 →
    union → re-rank), proving days beyond the window were actually
    evicted from the estimate."""
    import datetime as dt
    import hashlib

    from tfl_realtime_lakehouse_spark.streaming.kmv import (
        KMV_K,
        kmv_estimate,
        streaming_kmv_trailing,
    )

    schema = "event_type string, ts timestamp, user_id long"
    d0 = dt.datetime(2025, 3, 1)
    src = str(tmp_path / "soaktrail-src")
    day_users: dict = {}
    for f in range(20):
        day = d0 + dt.timedelta(days=f)
        users = list(range(23 * f, 23 * f + 90))  # 90/day, rolling overlap-free
        day_users[day] = users
        rows = [("a", day + dt.timedelta(hours=u % 24), u) for u in users]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/f={f:02d}"
        )
    q = _run_stream(
        streaming_kmv_trailing(_soak_stream(spark, src, schema)),
        tmp_path,
        "soaktrail_out",
        mode="append",
    )
    assert _soak_state_rows(q) == 1  # one row per key; day sets bounded inside

    def h60(u):
        return int(hashlib.md5(f"kmv:{u}".encode()).hexdigest()[:15], 16)

    got = {
        r["day"].replace(tzinfo=None): (r["n_mins"], r["est_distinct_7d"])
        for r in spark.sql("select * from soaktrail_out").collect()
    }
    # days 0..18 closed (day 19 still open), all sketches bounded
    assert set(got) == {d0 + dt.timedelta(days=f) for f in range(19)}
    assert all(n <= KMV_K for n, _ in got.values())
    last_closed = d0 + dt.timedelta(days=18)
    union = set()
    for back in range(7):
        users = day_users.get(last_closed - dt.timedelta(days=back), [])
        union.update(sorted(h60(u) for u in users)[:KMV_K])
    merged = sorted(union)[:KMV_K]
    assert got[last_closed] == (len(merged), kmv_estimate(merged))


def test_streaming_neyman_matches_batch_query(spark, tmp_path):
    """X228 twin: per-source (count, sum, sum-of-squares) exact integer
    state maintained cross-batch, readout = the batch query's own
    _neyman_readout function object — bit-identical to the registered
    batch query on the union after every edge case: a source straddling
    batches (variance appears only with batch 2's rows), an all-NULL
    n_chars source (NULL sigma/share/alloc — SUM's null-skip), a
    mixed null/non-null source, and a source arriving only in batch 2.
    State bound: one row per source."""
    import pandas as pd

    from tfl_realtime_lakehouse_spark.queries import REGISTRY
    from tfl_realtime_lakehouse_spark.streaming.neyman import (
        neyman_readout,
        streaming_neyman_stats,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    b1 = [
        (0, "aa", "en", "s0", 250),
        (1, "bb", "en", "s0", 250),  # s0 zero-variance in batch 1 ...
        (2, "cc", "en", "s1", None),  # s1 all-NULL source
        (3, "dd", "en", "s3", 100),
        (4, "ee", "en", "s3", None),  # s3 mixed null/non-null
    ]
    b2 = [
        (5, "ff", "en", "s0", 700),  # ... variance appears in batch 2
        (6, "gg", "en", "s1", None),
        (7, "hh", "en", "s2", 40),   # s2 arrives only in batch 2
        (8, "ii", "en", "s2", 360),
        (9, "jj", "en", "s3", 300),
    ]
    src = str(tmp_path / "neyman-src")
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{src}/f=1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{src}/f=2")
    union_dir = str(tmp_path / "neyman-union")
    spark.createDataFrame(b1 + b2, schema).write.parquet(
        f"{union_dir}/documents.parquet"
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f=*")
    )
    q = _run_stream(
        streaming_neyman_stats(stream), tmp_path, "neyman_out", mode="update"
    )
    ops = q.lastProgress["stateOperators"]
    assert len(ops) == 1 and ops[0]["numRowsTotal"] == 4  # one row per source

    latest = {}
    for r in spark.sql("select * from neyman_out").collect():
        if r["source"] not in latest or r["n_docs"] > latest[r["source"]]["n_docs"]:
            latest[r["source"]] = r
    per_source = spark.createDataFrame(
        list(latest.values()),
        "source string, n_docs long, sx long, sx2 long",
    )

    def frame(df):
        pdf = df.toPandas().sort_values("source").reset_index(drop=True)
        return pdf.astype(str)

    got = frame(neyman_readout(per_source))
    want = frame(REGISTRY["eval_neyman_allocation"].fn(spark, union_dir))
    pd.testing.assert_frame_equal(got, want)
    # non-vacuous: the NULL source really is NULL, the straddler's
    # variance is nonzero, and both arms of the mixed source counted
    w = {r["source"]: r for r in neyman_readout(per_source).collect()}
    assert w["s1"]["sigma_chars"] is None and w["s1"]["alloc_n"] is None
    assert w["s0"]["sigma_chars"] > 0 and w["s3"]["n_docs"] == 3



_EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
_SUM_STATE_TWINS = {
    "cuped": ("streaming_cuped_per_user", _EVENTS_SCHEMA),
    "did": ("streaming_did_per_user", _EVENTS_SCHEMA),
    "bootstrap": ("streaming_bootstrap_replicas", _EVENTS_SCHEMA),
    "neyman": (
        "streaming_neyman_stats",
        "doc_id long, text string, lang string, source string, n_chars long",
    ),
    "drift": (
        "streaming_centroid_drift",
        "vec_id long, embedding array<float>, label int",
    ),
    "conformal": (
        "streaming_conformal_thresholds",
        "doc_id long, text string, lang string, source string, n_chars long",
    ),
}


@pytest.mark.parametrize("module", sorted(_SUM_STATE_TWINS))
def test_sum_state_twins_are_native_streaming_aggregates(spark, tmp_path, module):
    """The twins whose state is a per-key sum or count run as
    native streaming aggregates: no Python state function in the
    analyzed plan, one Aggregate that the engine incrementalizes."""
    import importlib

    fn, schema = _SUM_STATE_TWINS[module]
    build = getattr(
        importlib.import_module(f"tfl_realtime_lakehouse_spark.streaming.{module}"),
        fn,
    )
    df = build(spark.readStream.schema(schema).parquet(str(tmp_path)))
    assert df.isStreaming
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" not in plan
    assert "Aggregate" in plan
