"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload query_mix --seeds 1-10

Runs the benchmark once per seed, one run at a time, and prints for
each end-to-end metric the median and the quartile distance as a share
of the median (``statistics.quantiles(values, n=4)``), next to the
metric's bound from BENCHMARK.json. A benchmark is steady when every
spread is below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.spans import iqr_share  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        *_, rec_line, line = proc.stdout.strip().splitlines()
        rec = json.loads(rec_line)["record"]
        result = json.loads(line)
        print(f"seed {seed}: wall={wall:.1f} steal={rec['steal_delta']} load={rec['loadavg'][0]} "
              f"correct={result['correct']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        share = iqr_share(vs)
        flag = "" if share < bounds[k] / 3 else "  <-- above a third of the bound"
        print(f"{k:20s} median={statistics.median(vs):.4g} spread={share:.3f} "
              f"bound={bounds[k]}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
