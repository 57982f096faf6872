"""Command-line entry points — the engine equivalents of the
reference's operational surfaces (ingest DAG, transform DAG, align CLI):

    python -m tfl_realtime_lakehouse_spark.cli ingest   --stops S1,S2 --raw-dir data/raw
    python -m tfl_realtime_lakehouse_spark.cli transform --raw-dir data/raw --report run.json
    python -m tfl_realtime_lakehouse_spark.cli align    --line central --out-dir data/aligned

``--offline-fixture`` points at a JSON file of canned API payloads so
every command also runs hermetically (tests / replays / demos without
network), mirroring the injectable-fetcher design of the client.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime, timezone


def _client(args):
    from tfl_realtime_lakehouse_spark.sources.http import TfLArrivalsClient

    if args.offline_fixture:
        with open(args.offline_fixture) as fh:
            fixture = json.load(fh)

        def fetcher(url: str, params: dict):
            for suffix, payload in fixture.items():
                if url.endswith(suffix):
                    return 200, payload
            return 200, fixture.get("default", [])

        return TfLArrivalsClient(fetcher=fetcher, sleep=lambda s: None)
    return TfLArrivalsClient(app_id=args.app_id, app_key=args.app_key)


def cmd_ingest(args) -> int:
    from tfl_realtime_lakehouse_spark.session import get_spark
    from tfl_realtime_lakehouse_spark.sources.http import ingest_snapshot

    spark = get_spark(app_name="tfl-ingest")
    client = _client(args)
    rows = client.fetch_all(args.stops.split(","))
    ingest_snapshot(spark, rows, args.raw_dir)
    print(f"ingested {len(rows)} rows → {args.raw_dir}")
    return 0


def cmd_transform(args) -> int:
    from tfl_realtime_lakehouse_spark.plans.runner import run_pipeline
    from tfl_realtime_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="tfl-transform")
    report = run_pipeline(spark, args.raw_dir, save=not args.no_save)
    payload = json.dumps(report, indent=2, default=str)
    if args.report:
        with open(args.report, "w") as fh:
            fh.write(payload)
    print(payload)
    return 0 if report["ok"] else 1


def cmd_align(args) -> int:
    from tfl_realtime_lakehouse_spark.plans.align import (
        align_line_snapshot,
        write_snapshot,
    )
    from tfl_realtime_lakehouse_spark.session import get_spark

    spark = get_spark(app_name="tfl-align")
    client = _client(args)
    ts = datetime.now(timezone.utc)
    df = align_line_snapshot(spark, client, args.line, snapshot_ts=ts)
    path = write_snapshot(df, args.out_dir, args.line, ts)
    print(f"wrote {df.count()} aligned rows → {path}")
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="tfl-lakehouse-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--offline-fixture", help="JSON file of canned API payloads")
    common.add_argument("--app-id", default=None)
    common.add_argument("--app-key", default=None)

    p_ing = sub.add_parser("ingest", parents=[common], help="API → bronze parquet")
    p_ing.add_argument("--stops", required=True, help="comma-separated stop ids")
    p_ing.add_argument("--raw-dir", required=True)
    p_ing.set_defaults(fn=cmd_ingest)

    p_tr = sub.add_parser("transform", help="bronze → staging/marts + DQ + lineage")
    p_tr.add_argument("--raw-dir", required=True)
    p_tr.add_argument("--report", help="write the run report JSON here")
    p_tr.add_argument("--no-save", action="store_true", help="temp views, no tables")
    p_tr.set_defaults(fn=cmd_transform)

    p_al = sub.add_parser("align", parents=[common], help="line → aligned snapshot")
    p_al.add_argument("--line", required=True)
    p_al.add_argument("--out-dir", required=True)
    p_al.set_defaults(fn=cmd_align)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
