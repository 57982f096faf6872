"""Benchmark harness: run the registered query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print the
full result as a JSON line, then a compact HEADLINE JSON line (the final
line, sized to survive the driver's 2000-char stdout-tail capture):

    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "queries": {...}, "cpu_sec": {...}, "sf": "...", ...}   # full
    {"metric": "suite_wall_sec", "value": N, "unit": "sec",
     "nq": 289, "sf": "...", "load_before": [...], ...}      # headline

Execution is measured end-to-end per query against the `noop` sink so
the full physical plan runs (scan → shuffle → agg) without collect
overhead; tiny results (<10k rows est.) still reflect real work because
noop consumes every output row.

``--repeat N`` runs the whole suite N times and reports the per-query
MEDIAN (plus min/max spread in "spread"): single in-suite timings at
sf0.1 carry ±0.5 s of scheduler/GC noise (measured round 2: simhash
drifted 2.98→3.67 s between identical runs), so deltas between rounds
are only interpretable from medians. The suite wall value stays the
FIRST run's wall clock (what a cold suite costs); per-query medians are
for regression comparison.

Host-noise stamps (r10 verdict ask #2): every run records the /proc/stat
steal-jiffies DELTA ("steal_delta" per run) and every query records the
JVM's CPU seconds ("cpu_sec" — utime+stime of the local-mode JVM, which
steal time is never charged to). When steal_delta is non-trivial for a
window, compare rounds on cpu_sec, not wall.

Compile stamps: every query records the generated classes the JVM
compiled while it ran ("compiles", one dict per run), and every run
records its total ("compiles_total") and HotSpot's C1/C2 compile time
("jit_s"), both also in the headline. A warm run that still compiles
much means the codegen cache is too small or a query's literals change
per run.
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import TypeVar

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tfl_realtime_lakehouse_spark import hoststamp  # noqa: E402
from tfl_realtime_lakehouse_spark.queries import REGISTRY  # noqa: E402
from tfl_realtime_lakehouse_spark.session import get_spark  # noqa: E402


def _release_blocks(spark) -> int:
    """Drop each query's DataFrame graph promptly: localCheckpoint
    blocks (used by the contraction/self-join operators) are only
    released by the ContextCleaner once the Python references die, and
    100+ queries of retained blocks were measured to add multi-second
    noise spikes to later suite measurements. Returns 1 when the
    release failed (reported on stderr), else 0."""
    import gc

    gc.collect()
    try:
        jsc = spark.sparkContext._jsc.sc()
        retained = jsc.getPersistentRDDs().values().toList()
        for i in range(retained.size()):
            retained.apply(i).unpersist(False)
    except Exception as exc:  # keep the suite running; count and report it
        print(f"# unpersist of retained blocks failed: {exc}", file=sys.stderr)
        return 1
    return 0


def _session_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


Counter = TypeVar("Counter", int, float)


def _delta(before: Counter | None, after: Counter | None) -> Counter:
    """after - before of a cumulative counter, or -1 when it is
    meaningless: a read returned None (no /proc or no JVM), or the
    counter went backwards because a new JVM started in between."""
    if before is None or after is None or after < before:
        return -1
    return after - before


def _run_suite(
    spark, sf_dir: str
) -> tuple[dict[str, float], dict[str, float], dict[str, int], float, object, int]:
    timings: dict[str, float] = {}
    cpus: dict[str, float] = {}
    compiles: dict[str, int] = {}
    release_failures = 0
    t_suite = time.time()
    for name, rq in sorted(REGISTRY.items()):
        t0 = time.time()
        c0 = hoststamp.jvm_cpu_sec(spark)
        k0 = hoststamp.codegen_compiles(spark)
        try:
            rq.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)
            cpus[name] = round(_delta(c0, hoststamp.jvm_cpu_sec(spark)), 3)
        except Exception as exc:  # keep the suite running; surface the error
            timings[name] = -1.0
            cpus[name] = -1.0
            print(f"# bench error in {name}: {exc}", file=sys.stderr)
            if not _session_alive(spark):
                # A fatal executor error (e.g. heap OOM at a large SF)
                # kills the local JVM; without recovery every later
                # query in every later run reports -1 (cost one whole
                # sf5 sweep to learn). Rebuild the session and move on.
                print(f"# session died in {name}; rebuilding", file=sys.stderr)
                try:
                    spark.stop()
                except Exception as stop_exc:  # rebuild regardless; report it
                    print(f"# stop of dead session failed: {stop_exc}", file=sys.stderr)
                spark = get_spark(app_name="tfl-lakehouse-bench")
                spark.sparkContext.setLogLevel("ERROR")
        # JVM-wide counter: a session rebuilt in the same JVM keeps it.
        compiles[name] = _delta(k0, hoststamp.codegen_compiles(spark))
        release_failures += _release_blocks(spark)
    return (
        timings,
        cpus,
        compiles,
        round(time.time() - t_suite, 3),
        spark,
        release_failures,
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeat = 1
    if "--repeat" in sys.argv:
        repeat = int(sys.argv[sys.argv.index("--repeat") + 1])
    spark = get_spark(app_name="tfl-lakehouse-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths once so per-query numbers measure the
    # engine, not first-call JIT.
    REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    load_before = os.getloadavg()
    runs = []
    steal_deltas: list[int] = []
    compiles_runs: list[dict[str, int]] = []
    compiles_total: list[int] = []
    jit_s: list[float] = []
    child_cpu_s: list[float] = []
    release_failures = 0
    for _ in range(max(1, repeat)):
        s0 = hoststamp.steal_jiffies()
        k0, j0 = hoststamp.codegen_compiles(spark), hoststamp.jit_ms(spark)
        ch0 = hoststamp.jvm_child_cpu_sec(spark)
        timings_i, cpus_i, compiles_i, total_i, spark, failed_i = _run_suite(
            spark, sf_dir
        )
        release_failures += failed_i
        steal_deltas.append(_delta(s0, hoststamp.steal_jiffies()))
        compiles_runs.append(compiles_i)
        compiles_total.append(_delta(k0, hoststamp.codegen_compiles(spark)))
        jit = _delta(j0, hoststamp.jit_ms(spark))
        jit_s.append(round(jit / 1000, 1) if jit >= 0 else -1.0)
        child_cpu_s.append(round(_delta(ch0, hoststamp.jvm_child_cpu_sec(spark)), 1))
        runs.append((timings_i, cpus_i, total_i))
    timings, cpus, total = runs[0]
    out = {
        "metric": "suite_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cpu_sec": cpus,
        "sf": sf_dir,
        # Contended runs self-identify: a 1-min load far above this
        # process's own 32 threads means concurrent sessions inflated
        # the timings (the r4 driver-tail vs --repeat-median divergence
        # cost a diagnosis cycle). load_before is sampled at suite
        # start, load_after at print time. steal_delta is per-run
        # hypervisor-steal jiffies (CLK_TCK=100/s): non-trivial steal
        # means compare on cpu_sec, not wall.
        "load_before": [round(v, 2) for v in load_before],
        "load_after": [round(v, 2) for v in os.getloadavg()],
        "steal_delta": steal_deltas,
        # unpersist failures between queries: retained blocks that may
        # skew later queries' timings
        "release_failures": release_failures,
        "compiles": compiles_runs,
        "compiles_total": compiles_total,
        "jit_s": jit_s,
        # the class-data archive the session JVM started from, or None
        "cds_archive": hoststamp.cds_archive(spark),
    }
    if len(runs) > 1:
        names = sorted(REGISTRY)
        medians, spread, cpu_med = {}, {}, {}
        for n in names:
            vals = sorted(r[0].get(n, -1.0) for r in runs)
            medians[n] = vals[len(vals) // 2]
            spread[n] = round(vals[-1] - vals[0], 3)
            cvals = sorted(r[1].get(n, -1.0) for r in runs)
            cpu_med[n] = cvals[len(cvals) // 2]
        out["queries"] = medians
        out["cpu_sec"] = cpu_med
        out["spread"] = spread
        out["repeat"] = len(runs)
        out["walls"] = [r[2] for r in runs]

    print(json.dumps(out))
    # Compact HEADLINE as the FINAL line: the round driver keeps only a
    # 2000-char stdout tail, which truncated the 289-query JSON above
    # into an unparseable fragment every round (r10 verdict ask #6).
    nq = len(out["queries"])
    ok = [v for v in out["queries"].values() if v >= 0]
    headline = {
        "metric": "suite_wall_sec",
        "value": total,
        "unit": "sec",
        "sf": sf_dir,
        "nq": nq,
        "nq_ok": len(ok),
        "sum_query_sec": round(sum(ok), 1),
        "cpu_total_sec": round(
            sum(v for v in out["cpu_sec"].values() if v >= 0), 1
        ),
        # per run: CPU of the processes the JVM forked and reaped
        # (shell-outs), which cpu_sec, read from the JVM itself, misses
        "child_cpu_s": child_cpu_s,
        "load_before": out["load_before"],
        "load_after": out["load_after"],
        "steal_delta": steal_deltas,
        "release_failures": release_failures,
        "compiles_total": compiles_total,
        "jit_s": jit_s,
        "cds_archive": out["cds_archive"],
        "headline": True,
    }
    if len(runs) > 1:
        headline["walls"] = out["walls"]
        headline["repeat"] = len(runs)
    print(json.dumps(headline))


if __name__ == "__main__":
    main()
