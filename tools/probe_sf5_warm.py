"""Standalone warm-state probe for individual registered queries —
the artifact the r6 verdict asked for (ask #2): suite medians for
`graph_triangle_count` / `embedding_ann_lsh_verified` at sf5 carried
cold-page-cache/GC state (spread > value); this records N back-to-back
warm trials per query in ONE session, load-stamped, so SCALE.md can
point at a committed JSON instead of a prose footnote.

    SPARK_GRAFT_DRIVER_MEM=64g python tools/probe_sf5_warm.py \
        .scaledata/sf5 3 graph_triangle_count embedding_ann_lsh_verified
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _release_blocks  # noqa: E402
from tfl_realtime_lakehouse_spark import hoststamp  # noqa: E402
from tfl_realtime_lakehouse_spark.queries import REGISTRY  # noqa: E402
from tfl_realtime_lakehouse_spark.session import get_spark  # noqa: E402


def main():
    sf_dir = sys.argv[1]
    trials = int(sys.argv[2])
    names = sys.argv[3:]
    spark = get_spark(app_name="sf5-warm-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out = {
        "sf": sf_dir,
        "trials": trials,
        "load_before": [round(v, 2) for v in os.getloadavg()],
        "queries": {},
        "release_failures": 0,
    }
    for name in names:
        times, cpu, steal = [], [], []
        for i in range(trials + 1):  # +1: first run is the cold warm-up
            t0 = time.monotonic()
            c0 = hoststamp.jvm_cpu_sec(spark)
            s0 = hoststamp.steal_jiffies()
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.monotonic() - t0, 2))
            c1 = hoststamp.jvm_cpu_sec(spark)
            s1 = hoststamp.steal_jiffies()
            cpu.append(
                round(c1 - c0, 2) if c0 is not None and c1 is not None else -1.0
            )
            steal.append((s1 - s0) if s0 is not None and s1 is not None else -1)
            # drop retained localCheckpoint blocks between trials:
            # accumulated blocks GC-thrash the heap and poison later
            # timings (a 280 s outlier on a 40 s query was measured)
            out["release_failures"] += _release_blocks(spark)
        warm = sorted(times[1:])
        # cpu/steal PER TRIAL (r10 ask #2): when warm wall climbs but
        # warm cpu stays flat the escalation is host steal; when cpu
        # climbs with wall the process itself is accumulating work
        # (lineage/GC) — the exact adjudication r10 couldn't make.
        out["queries"][name] = {
            "cold_first_touch": times[0],
            "warm_trials": times[1:],
            "warm_median": round(statistics.median(warm), 2),
            "warm_spread": round(warm[-1] - warm[0], 2),
            "cpu_trials": cpu,
            "steal_trials": steal,
        }
    out["load_after"] = [round(v, 2) for v in os.getloadavg()]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
