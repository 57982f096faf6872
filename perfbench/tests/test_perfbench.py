"""The benchmark's own tests. Fast ones need no Spark; the smoke test
runs every workload once at one second, untraced and traced.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
from datetime import timedelta
from pathlib import Path

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, run, stream  # noqa: E402
from perfbench.spans import Span, Tracer, self_time, supported_percentiles  # noqa: E402


def _bronze(tmp_path: Path, seed: int) -> dict[str, object]:
    out = tmp_path / f"raw{seed}"
    for snap in gen.snapshot_series(random.Random(seed), gen.BASE_TIME, 5):
        gen.write_bronze_file(str(out), snap)
    return {
        os.path.relpath(os.path.join(d, f), out): pq.read_table(os.path.join(d, f))
        for d, _, fs in os.walk(out)
        for f in fs
    }


def test_same_seed_same_bronze_other_seed_other_bronze(tmp_path):
    a, b = _bronze(tmp_path / "a", 7), _bronze(tmp_path / "b", 7)
    c = _bronze(tmp_path / "c", 8)
    assert a.keys() == b.keys() == c.keys()
    assert all(a[k].equals(b[k]) for k in a)
    assert not all(a[k].equals(c[k]) for k in a)


def test_same_seed_same_corpus(tmp_path):
    gen.write_corpus(str(tmp_path / "a"), 3)
    gen.write_corpus(str(tmp_path / "b"), 3)
    for f in os.listdir(tmp_path / "a"):
        assert pq.read_table(tmp_path / "a" / f).equals(pq.read_table(tmp_path / "b" / f))


def test_injected_defects_are_counted():
    snaps = gen.snapshot_series(random.Random(1), gen.BASE_TIME, 30)
    totals = {d: sum(s.defects[d] for s in snaps) for d in gen.DEFECTS}
    assert all(v > 0 for v in totals.values()), totals


@pytest.mark.parametrize(
    "n, reported",
    [(19, []), (20, [50]), (40, [50, 75]), (99, [50, 75]), (100, [50, 75, 90]),
     (1000, [50, 75, 90, 95, 99])],
)
def test_percentiles_need_ten_samples_beyond(n, reported):
    values = [float(i) for i in range(n)]
    got = supported_percentiles(values)
    assert sorted(got) == reported
    for p, v in got.items():
        assert sum(1 for x in values if x > v) >= 10


def test_self_time_is_span_minus_children_cover():
    spans = [
        Span("a", 0.0, 10.0, None),
        Span("b", 1.0, 4.0, 0),
        Span("c", 3.0, 5.0, 0),  # overlaps b: cover is 1..5
        Span("d", 3.5, 4.5, 1),  # grandchild: not a's child
        Span("e", 9.0, 12.0, 0),  # runs past its parent: clipped to 9..10
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 0.5)  # d clipped to 3.5..4
    assert self_time(spans, 3) == pytest.approx(1.0)


def test_tracer_nests_and_disabled_tracer_records_nothing():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    off = Tracer(enabled=False)
    with off.span("x"):
        off.count("y")
    assert off.spans == [] and not off.counters


def _checkpoint(root: Path) -> Path:
    """A file-source checkpoint where batch 1 is a no-data batch, so the
    source log's numbers (0, 1) differ from the query's batch ids (0, 2)."""
    for d in ("sources/0", "offsets", "commits"):
        (root / d).mkdir(parents=True)
    for log_batch, files in ((0, ["f0.parquet"]), (1, ["f1.parquet", "f2.parquet"])):
        lines = ["v1"] + [
            json.dumps({"path": f"file:///raw/date%3D2025-01-06/{f}", "timestamp": 0,
                        "batchId": log_batch})
            for f in files
        ]
        (root / "sources/0" / str(log_batch)).write_text("\n".join(lines))
    for batch, log_offset in ((0, 0), (1, 0), (2, 1)):
        (root / "offsets" / str(batch)).write_text(
            "v1\n{}\n" + json.dumps({"logOffset": log_offset}))
        (root / "commits" / str(batch)).write_text("v1\n{}")
    return root


def test_files_map_to_query_batches_through_offsets_log(tmp_path):
    ck = _checkpoint(tmp_path / "ck")
    assert stream.batch_files(str(ck)) == {
        0: ["f0.parquet"], 1: [], 2: ["f1.parquet", "f2.parquet"]}


def test_headway_replay_nulls_out_of_order_events():
    def snap(ts_list, at):
        return gen.Snapshot(at, [
            {"naptanId": "S", "lineId": "L", "timeToStation": 1, "timestamp": gen.iso(t)}
            for t in ts_list
        ])

    t = [gen.BASE_TIME + timedelta(seconds=k) for k in range(4)]
    a, b = snap([t[2], t[0]], t[0]), snap([t[1], t[3]], t[1])
    rows = stream.replay_headways([a, b], {0: [a.name], 1: [b.name]})
    gaps = [g for *_, g in sorted(rows, key=lambda r: r[2])]
    # batch 0 sorts t0, t2; batch 1 sees t1 (< state t2: NULL) then t3
    assert gaps == [None, None, 2.0, 1.0]


def test_benchmark_json_names_every_metric():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_reports_every_metric(workload):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for trace, names in (("0", run.END_TO_END), ("1", run.PER_LAYER)):
        proc = subprocess.run(
            [*bench["command"], "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", trace],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0, result
        assert result["attempted"] >= 1
        assert set(result["metrics"]) == set(names)
