"""Seeded input generators. The program under test only ever sees the
files written here; the generators also return what they injected, so
the correctness checks have an answer that does not come from the
program.

- ``arrivals_snapshot``: one TfL-shaped arrivals snapshot (the API's
  row dicts), lines x stops x vehicles, with the FIXTURES.md section 1
  defects injected at seeded rates.
- ``write_bronze_file``: the bronze projection of a snapshot written as
  ``date=YYYY-MM-DD/arrivals_<ts>.parquet`` (tmp file + rename, so a
  streaming reader never sees a half-written file).
- ``write_corpus``: the ten corpus tables the registered queries
  read, at a small fixed size.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINES = ("central", "victoria", "jubilee", "northern", "piccadilly", "district")
SNAPSHOT_EVERY = timedelta(minutes=2)
BASE_TIME = datetime(2025, 1, 6, 5, 0, tzinfo=timezone.utc)

BRONZE_SCHEMA = pa.schema(
    [
        ("stopId", pa.string()),
        ("lineId", pa.string()),
        ("platformName", pa.string()),
        ("destinationName", pa.string()),
        ("timeToStation", pa.int64()),
        ("timestamp", pa.string()),
    ]
)

# Counted defects; names match the DQ checks they should trip.
DEFECTS = ("null_line_id", "null_stop_id", "bad_timestamp", "out_of_range_tts")


# Rows per snapshot = lines x stops x vehicles; defect rates are per row.
N_LINES, N_STOPS, N_VEHICLES = 4, 10, 4
BAD_TIMESTAMP = 0.01
OUT_OF_RANGE = 0.01
STATION_FALLBACK = 0.03
NULL_KEY = 0.004  # each of stop and line
DUPLICATE = 0.02


@dataclass
class Snapshot:
    ts: datetime
    rows: list[dict]  # API-shaped rows, as the fetcher returns them
    defects: dict[str, int] = field(default_factory=dict)

    @property
    def name(self) -> str:
        return f"arrivals_{self.ts:%Y%m%d_%H%M%S}.parquet"


def iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def arrivals_snapshot(
    rng: random.Random, ts: datetime, prev: Snapshot | None = None, null_keys: bool = True
) -> Snapshot:
    """One snapshot of API rows. ``prev`` supplies the rows that repeat
    verbatim across snapshots (the duplicate defect). ``null_keys=False``
    injects every defect but null stop and line keys."""
    null_key = NULL_KEY if null_keys else 0.0
    rows: list[dict] = []
    for li in range(N_LINES):
        line = LINES[li % len(LINES)]
        for si in range(N_STOPS):
            naptan = f"940GZZLU{li:02d}{si:03d}"
            for vi in range(N_VEHICLES):
                stamp = ts + timedelta(seconds=rng.randrange(0, 120))
                row = {
                    "naptanId": naptan,
                    "stationName": f"{line.title()} Stop {si}",
                    "lineId": line,
                    "platformName": f"Platform {vi % 2 + 1}",
                    "destinationName": f"{line.title()} Terminus {vi % 2}",
                    "timeToStation": rng.randrange(0, 1800),
                    "timestamp": iso(stamp),
                    "vehicleId": f"{line[:3]}{vi:03d}",
                    "_stop": naptan,  # the StopPoint this row is served under
                }
                r = rng.random()
                if r < null_key:
                    row["naptanId"] = None
                    row["stationName"] = None
                elif r < null_key + STATION_FALLBACK:
                    row["naptanId"] = None
                if rng.random() < null_key:
                    row["lineId"] = None
                if rng.random() < BAD_TIMESTAMP:
                    row["timestamp"] = rng.choice(("", "not-a-timestamp"))
                if rng.random() < OUT_OF_RANGE:
                    row["timeToStation"] = rng.choice((-30, 3601 + rng.randrange(1000)))
                rows.append(row)
    if prev is not None:
        rows.extend(dict(r) for r in prev.rows if rng.random() < DUPLICATE)
    return Snapshot(ts, rows, count_defects(rows))


def project(row: dict) -> dict:
    """The bronze projection: six API fields, stopId falling back to
    stationName (reference tfl_ingest_dag.py:71-78)."""
    return {
        "stopId": row.get("naptanId") or row.get("stationName"),
        "lineId": row.get("lineId"),
        "platformName": row.get("platformName"),
        "destinationName": row.get("destinationName"),
        "timeToStation": row.get("timeToStation"),
        "timestamp": row.get("timestamp"),
    }


def parse_ts(value: str | None) -> datetime | None:
    """The staging try_cast for the timestamps this generator writes."""
    try:
        return datetime.strptime(value, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
    except (TypeError, ValueError):
        return None


def count_defects(rows: list[dict]) -> dict[str, int]:
    out = dict.fromkeys(DEFECTS, 0)
    for r in rows:
        b = project(r)
        out["null_line_id"] += b["lineId"] is None
        out["null_stop_id"] += b["stopId"] is None
        out["bad_timestamp"] += parse_ts(b["timestamp"]) is None
        out["out_of_range_tts"] += not 0 <= b["timeToStation"] <= 3600
    return out


def write_bronze_file(raw_dir: str, snap: Snapshot) -> str:
    """Write ``snap`` under its date partition; returns the final path."""
    part = os.path.join(raw_dir, f"date={snap.ts:%Y-%m-%d}")
    os.makedirs(part, exist_ok=True)
    final = os.path.join(part, snap.name)
    # A leading underscore hides the file from Spark's file listing
    # until the rename publishes it.
    tmp = os.path.join(part, "_" + snap.name)
    table = pa.Table.from_pylist([project(r) for r in snap.rows], schema=BRONZE_SCHEMA)
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    return final


def write_empty_day(raw_dir: str, day: datetime) -> None:
    """A day partition holding one zero-row file (the reference's
    empty-input case)."""
    part = os.path.join(raw_dir, f"date={day:%Y-%m-%d}")
    os.makedirs(part, exist_ok=True)
    pq.write_table(
        BRONZE_SCHEMA.empty_table(), os.path.join(part, f"arrivals_{day:%Y%m%d}_000000.parquet")
    )


def snapshot_series(
    rng: random.Random,
    start: datetime,
    n: int,
    prev: Snapshot | None = None,
    null_keys: bool = True,
) -> list[Snapshot]:
    out = []
    for i in range(n):
        prev = arrivals_snapshot(rng, start + i * SNAPSHOT_EVERY, prev, null_keys)
        out.append(prev)
    return out


# ---------------------------------------------------------------------------
# Corpus tables (FIXTURES.md section 4 schemas)
# ---------------------------------------------------------------------------

_WORDS = (
    "the a fast slow key order sort table scan merge part window small big hash "
    "join batch stream spark group query row data filter customer line value "
    "agg column vector"
).split()


def write_corpus(out_dir: str, seed: int) -> None:
    """Write the corpus tables as one parquet file each, at about the
    TPC-H sf0.001 size: 1,500 orders, 6,000 lineitems, 1,000 events,
    500 documents and 500 embeddings."""
    os.makedirs(out_dir, exist_ok=True)
    g = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_li, n_ev, n_doc, n_emb = 1500, 6000, 1000, 500, 500

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(g.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": g.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], n_cust).tolist(),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(g.uniform(-999, 9999, n_supp), 2),
    })
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} widget" for a in g.choice(["cold", "small", "red", "tiny"], n_part)],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 30, n_part)],
        "p_type": g.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part).tolist(),
        "p_size": pa.array(g.integers(1, 50, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    day = np.datetime64("1992-01-01", "us")
    us_per_day = 86_400_000_000
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": g.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(g.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": day + g.integers(0, 2500, n_ord) * us_per_day,
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], n_ord).tolist(),
    })
    put("lineitem", {
        "l_orderkey": g.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": g.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": g.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": pa.array(g.integers(1, 8, n_li), pa.int32()),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(g.uniform(900, 100000, n_li), 2),
        "l_discount": np.round(g.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": g.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": g.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": day + g.integers(0, 2600, n_li) * us_per_day,
    })
    ev_us = np.sort(g.integers(0, 30 * us_per_day, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us, pa.timestamp("us")),
        "user_id": g.integers(0, 15, n_ev, dtype=np.int64),
        "event_type": g.choice(["error", "signup", "purchase", "view", "click"], n_ev).tolist(),
        "value": np.round(g.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and g.random() < 0.05:  # exact re-posts for the dedup family
            texts.append(texts[int(g.integers(0, i))])
        else:
            texts.append(" ".join(g.choice(_WORDS, int(g.integers(10, 100)))))
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": g.choice(["en", "de", "fr", "es", "zh"], n_doc).tolist(),
        "source": [f"src{s}" for s in g.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = g.integers(0, 10, n_emb)
    centers = g.normal(0, 0.15, (10, 64))
    emb = (centers[labels] + g.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
