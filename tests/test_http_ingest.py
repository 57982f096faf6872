"""Hermetic HTTP-ingest tests: retry/backoff, dedup, error isolation,
non-list skip, bronze write — all through an injected fetcher (no
network, SURVEY S1-S3 semantics)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from tfl_realtime_lakehouse_spark.plans import stg_arrivals
from tfl_realtime_lakehouse_spark.sources.http import (
    FetchError,
    TfLArrivalsClient,
    dedup_stop_ids,
    ingest_snapshot,
)
from tfl_realtime_lakehouse_spark.sources.tables import read_raw_arrivals

ARRIVAL = {
    "naptanId": "S1",
    "lineId": "central",
    "platformName": "P1",
    "destinationName": "Epping",
    "timeToStation": 120,
    "timestamp": "2025-01-01T10:00:00Z",
}


def client(fetcher, **kw):
    return TfLArrivalsClient(fetcher=fetcher, sleep=lambda s: None, **kw)


def test_dedup_stop_ids_preserves_order():
    assert dedup_stop_ids([" a", "b", "a ", "", "c", "b"]) == ["a", "b", "c"]


def test_retry_on_429_then_success():
    calls = []

    def fetcher(url, params):
        calls.append(url)
        return (429, None) if len(calls) < 3 else (200, [ARRIVAL])

    rows = client(fetcher).get_arrivals("S1")
    assert len(calls) == 3 and rows == [ARRIVAL]


def test_retries_exhausted_raises_but_fetch_all_isolates():
    def fetcher(url, params):
        if "BAD" in url:
            return (500, None)
        return (200, [ARRIVAL])

    c = client(fetcher)
    rows = c.fetch_all(["S1", "BAD", "S1"])  # dup removed, failure isolated
    assert rows == [ARRIVAL]


def test_network_errors_retry_and_isolate_but_bugs_propagate():
    """An OSError from the fetcher (requests' errors are OSErrors) is
    retried and then isolated to its stop; any other exception is a bug
    in the fetcher and reaches the caller."""
    calls = []

    def flaky(url, params):
        calls.append(url)
        if "DOWN" in url:
            raise ConnectionError("refused")
        return (200, [ARRIVAL])

    c = client(flaky, retries=2)
    with pytest.raises(FetchError) as err:
        c.get_arrivals("DOWN")
    assert isinstance(err.value.__cause__, ConnectionError)
    assert len(calls) == 3
    assert c.fetch_all(["S1", "DOWN"]) == [ARRIVAL]

    def broken(url, params):
        raise TypeError("fetcher bug")

    with pytest.raises(TypeError):
        client(broken).fetch_all(["S1"])


def test_non_list_payload_skipped():
    c = client(lambda url, params: (200, {"error": "nope"}))
    assert c.get_arrivals("S1") == []


def test_auth_params_passed_through():
    seen = {}

    def fetcher(url, params):
        seen.update(params)
        return (200, [])

    client(fetcher, app_id="id", app_key="key").get_arrivals("S1")
    assert seen == {"app_id": "id", "app_key": "key"}


def test_ingest_snapshot_roundtrip(spark, tmp_path):
    raw_dir = str(tmp_path / "bronze")
    now = datetime(2025, 1, 1, 10, 0, tzinfo=timezone.utc)
    fallback = dict(ARRIVAL, naptanId=None, stationName="Fallback Stop")
    written = ingest_snapshot(spark, [ARRIVAL, fallback], raw_dir, now=now)
    assert written is not None
    back = read_raw_arrivals(spark, raw_dir)
    rows = back.collect()
    assert {r.stopId for r in rows} == {"S1", "Fallback Stop"}  # coalesce fallback
    assert all(str(r.date) == "2025-01-01" for r in rows)
    stg = stg_arrivals(back)
    assert stg.filter("event_ts is null").count() == 0


def test_ingest_zero_rows_writes_nothing(spark, tmp_path):
    raw_dir = str(tmp_path / "bronze")
    assert ingest_snapshot(spark, [], raw_dir) is None
    assert read_raw_arrivals(spark, raw_dir).count() == 0


def _write_fixture(tmp_path, payloads):
    import json

    path = tmp_path / "arrivals_fixture.json"
    path.write_text(json.dumps(payloads))
    return str(path)


def test_datasource_batch_snapshot(spark, tmp_path):
    """spark.read.format('tfl_arrivals') == one client snapshot."""
    from tfl_realtime_lakehouse_spark.sources import datasource as DS

    DS.register(spark)
    s2 = dict(ARRIVAL, naptanId="S2", timeToStation=60)
    fixture = _write_fixture(tmp_path, {"S1": [ARRIVAL], "S2": [s2]})
    df = (
        spark.read.format("tfl_arrivals")
        .option("stops", "S1, S2, S1")  # dup + whitespace: dedup path
        .option("fixture", fixture)
        .load()
    )
    rows = {r.stopId: r.timeToStation for r in df.collect()}
    assert rows == {"S1": 120, "S2": 60}
    assert [f.name for f in df.schema.fields] == [
        "stopId", "lineId", "platformName", "destinationName",
        "timeToStation", "timestamp",
    ]


def test_datasource_streaming_ingest_to_bronze(spark, tmp_path):
    """readStream.format('tfl_arrivals') → parquet bronze: the S1 ingest
    path as a real Spark streaming source (one poll per micro-batch,
    bounded by max_polls for hermetic runs)."""
    from tfl_realtime_lakehouse_spark.sources import datasource as DS

    DS.register(spark)
    fixture = _write_fixture(
        tmp_path, {"S1": [ARRIVAL], "MISSING": []}
    )
    df = (
        spark.readStream.format("tfl_arrivals")
        .option("stops", "S1,MISSING")
        .option("fixture", fixture)
        .option("max_polls", 2)
        .load()
    )
    out = str(tmp_path / "ds-bronze")
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ds-ckpt"))
        .start()
    )
    # drain until the source stops advancing (max_polls reached)
    q.processAllAvailable()
    q.stop()
    back = spark.read.parquet(out).collect()
    # 2 polls × 1 row (MISSING contributes zero rows, isolated not fatal)
    assert len(back) == 2
    assert {r.stopId for r in back} == {"S1"}
    assert all(r.timeToStation == 120 for r in back)
