"""``query_mix``: the analyst side -- registered queries on a generated
corpus at about the TPC-H sf0.001 size, written to the ``noop`` sink.

The list keeps one to four queries from each family: short SQL
queries bound by planning and job launch (``sql``, ``events``),
a text dedup query that goes through ``fan_out`` and ``keyed_spread``
(``text_dedup``), a vector scan (``vector``), and iterative queries
that run eager jobs round by round inside their query function
(``graph``, ``trainers``). The first pass in the fresh process is the
cold pass; it collects every result and compares it with the query's
DuckDB oracle. Timed passes follow, each in an order drawn from the
seed, until the run's seconds are spent; only whole passes run, so
every query weighs the same in every run.
"""

from __future__ import annotations

import gc
import random
import time

from perfbench import gen, host
from perfbench.common import Ctx, Outcome
from perfbench.spans import union_seconds

# Each family keeps a cheap representative, so a run holds its cold
# pass and a timed pass within the benchmark's time budget. The heavier
# members (pagerank, winnowing, recall evals, Bradley-Terry, logreg)
# take 1.2-5 s each warm on four cores and twice that cold. text_dedup
# keeps text_crossdoc_span_dedup (about 1.8 s warm) because it calls
# both fan_out and keyed_spread.
MIX = {
    "sql": ("q6_forecast_revenue", "window_lag_lead", "topk_orders", "fct_headways"),
    "events": ("events_sessionization", "stg_events_contract"),
    "text_dedup": ("text_crossdoc_span_dedup",),
    "vector": ("embedding_cosine_topk",),
    "graph": ("graph_kcore_members",),
    "trainers": ("bpe_train_tokenize",),
}
FAMILY = {q: fam for fam, qs in MIX.items() for q in qs}


def release_blocks(ctx: Ctx) -> None:
    """Drop the last query's retained checkpoint blocks (the
    ContextCleaner frees them only once Python references die)."""
    gc.collect()
    try:
        retained = ctx.spark.sparkContext._jsc.sc().getPersistentRDDs().values().toList()
        for i in range(retained.size()):
            retained.apply(i).unpersist(False)
    except Exception:  # a failed release is a failed operation, not noise
        ctx.tally.error("unpersist of retained blocks")


def plan_seconds(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) of ``df``'s
    final plan."""
    phases = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0
    while phases.hasNext():
        total += phases.next()._2().durationMs()
    return total / 1000


def _install_spans(ctx: Ctx) -> None:
    from tfl_realtime_lakehouse_spark.sources import tables

    tr = ctx.tracer
    tr.patch(tables.read_table, lambda *a, **k: "sources.tables.read_table")
    tr.patch(
        tables.fan_out,
        lambda *a, **k: "sources.tables.fan_out",
        lambda args, out: tr.count("sources.tables.fan_out_repartitions", out is not args[0]),
    )
    tr.patch(tables.keyed_spread, lambda *a, **k: "sources.tables.keyed_spread")


def run(ctx: Ctx) -> Outcome:
    from tfl_realtime_lakehouse_spark.queries import REGISTRY

    spark, tr, tally = ctx.spark, ctx.tracer, ctx.tally
    corpus = str(ctx.work / "corpus")
    gen.write_corpus(corpus, ctx.seed)
    _install_spans(ctx)
    names = [q for qs in MIX.values() for q in qs]
    # step -> (family, wall, build, exec, plan, t0, t1) for the traced breakdown
    steps: dict[str, tuple] = {}

    def one(name: str, step: str, collect: bool, cpu: list[float]):
        """Build and run one query; its CPU is appended to ``cpu``."""
        fam = FAMILY[name]
        spark.sparkContext.setJobDescription(step)
        with ctx.cpu.region(cpu):
            t0 = time.time()
            with tr.span(f"queries.{fam}.build"):
                df = REGISTRY[name].fn(spark, corpus)
            t1 = time.time()
            with tr.span(f"queries.{fam}.exec"):
                result = df.toPandas() if collect else df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        spark.sparkContext.setJobDescription(None)
        if tr.enabled:
            steps[step] = (fam, t2 - t0, t1 - t0, t2 - t1, plan_seconds(df), t0, t2)
        return result, t2 - t0

    # Cold pass: first call of every query, results checked.
    parity = host.tool("parity")
    results, cold, cold_cpu = {}, 0.0, []
    for name in names:
        results[name], dt = one(name, f"cold {name}", True, cold_cpu)
        cold += dt
        release_blocks(ctx)
    con = parity.duck_connection(corpus)
    for name in names:
        oracle = REGISTRY[name].oracle
        if oracle is None:
            tally.ok(len(results[name]) > 0, f"{name}: no rows")
        else:
            problems = parity.compare(name, results[name], con.sql(oracle).df())
            tally.ok(not problems, f"{name} vs DuckDB oracle: {problems}")
    results.clear()

    # Timed passes. Block release between queries lies outside the CPU
    # regions but inside the pass wall time.
    rng = random.Random(ctx.seed)
    lat: list[float] = []
    cpus: list[float] = []
    per_query: dict[str, list[tuple[float, float]]] = {}  # name -> (wall, CPU) per call
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < ctx.seconds:  # whole passes only
        order = list(names)
        rng.shuffle(order)
        for name in order:
            try:
                _, dt = one(name, f"timed{len(lat)} {name}", False, cpus)
            except Exception:
                tally.error(f"{name} raised")
                continue
            tally.attempted += 1
            lat.append(dt)
            per_query.setdefault(name, []).append((round(dt, 3), round(cpus[-1], 3)))
            release_blocks(ctx)
    elapsed = time.perf_counter() - t_start

    return Outcome(
        cold, sum(cold_cpu), lat, len(lat) / elapsed, sum(cpus) / max(1, len(cpus)),
        detail={"per_query": per_query},
        from_jobs=lambda jobs: family_metrics(steps, elapsed, jobs),
    )


def family_metrics(steps: dict[str, tuple], elapsed: float, jobs: list[dict]):
    """Per-family figures over the timed queries, as seconds (or counts)
    per pass of the family's queries: the mean per call times the
    family's query count. Jobs are matched to a step by description.
    ``queries.unaccounted_s`` is the timed wall not inside any query's
    build or exec (block release, bookkeeping, tracing), per query."""
    by_step: dict[str, list[dict]] = {}
    for j in jobs:
        by_step.setdefault(j["desc"], []).append(j)
    sums: dict[str, float] = {}
    calls: dict[str, int] = {}
    timed = {s: v for s, v in steps.items() if s.startswith("timed")}
    for step, (fam, wall, build, exe, plan, t0, t1) in timed.items():
        js = by_step.get(step[:90], [])
        covered = union_seconds([(max(j["t0"], t0), min(j["t1"], t1)) for j in js])
        calls[fam] = calls.get(fam, 0) + 1
        for field, v in (
            ("build_s", build),
            ("exec_s", exe),
            ("plan_s", plan),
            ("jobs", len(js)),
            ("tasks", sum(j["ntasks"] for j in js)),
            ("driver_gap_s", wall - covered),
        ):
            key = f"queries.{fam}.{field}"
            sums[key] = sums.get(key, 0.0) + v
    out = {k: v / calls[k.split(".")[1]] * len(MIX[k.split(".")[1]]) for k, v in sums.items()}
    busy = sum(build + exe for _, _, build, exe, *_ in timed.values())
    out["queries.unaccounted_s"] = (elapsed - busy) / max(1, len(timed))
    return out
