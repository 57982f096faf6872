"""Property-based tests (hypothesis): operator semantics hold on random
inputs, not just the corpus — as-of join vs brute force, discrete
percentile vs sorted-pick."""

from __future__ import annotations

import bisect

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators.asof import asof_join
from tfl_realtime_lakehouse_spark.plans.marts import fct_headways

_events = st.lists(
    st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 1000)),
    min_size=1,
    max_size=30,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_events, right=_events)
def test_asof_join_matches_bisect_model(spark, left, right):
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k string, ts long, idx long"
    )
    rdf = spark.createDataFrame(right, "k string, ts long")
    got = {
        r.idx: r.asof_ts
        for r in asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="ts").collect()
    }
    by_key: dict[str, list[int]] = {}
    for k, t in right:
        by_key.setdefault(k, []).append(t)
    for v in by_key.values():
        v.sort()
    for i, (k, t) in enumerate(left):
        ts_list = by_key.get(k, [])
        j = bisect.bisect_right(ts_list, t)
        expect = ts_list[j - 1] if j else None
        assert got[i] == expect, (i, k, t)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    gaps=st.lists(st.integers(1, 7200), min_size=2, max_size=40),
)
def test_fct_headways_matches_python_model(spark, gaps):
    # build one (line, stop) arrival sequence from the gap list
    ts0 = 1_700_000_000
    arrivals = [ts0]
    for g in gaps:
        arrivals.append(arrivals[-1] + g)
    stg = spark.createDataFrame(
        [("l", "s", t) for t in arrivals], "line_id string, stop_id string, epoch long"
    ).select("line_id", "stop_id", F.timestamp_seconds("epoch").alias("event_ts"))
    rows = fct_headways(stg).collect()

    # python model: per hour of the *current* arrival, collect gaps
    per_hour: dict[int, list[int]] = {}
    for prev, cur in zip(arrivals, arrivals[1:]):
        per_hour.setdefault(cur - cur % 3600, []).append(cur - prev)
    assert len(rows) == len(per_hour)
    for r in rows:
        hour_epoch = int(r.hour.timestamp())
        g = sorted(per_hour[hour_epoch])
        n = len(g)
        # mirror the engine's documented µs arithmetic exactly:
        # (Σ gap_us / n) / 1e6 — one association differs from the naive
        # sum(g)/n by 1 ulp (hypothesis found [1, 1, 23])
        assert r.avg_headway_s == (sum(g) * 1_000_000 / n) / 1e6
        assert r.p50_headway_s == g[-(-n // 2) - 1]  # ceil(0.5n) 1-based
        import math

        assert r.p90_headway_s == g[math.ceil(0.9 * n) - 1]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    offsets=st.lists(st.integers(0, 200), min_size=1, max_size=25),
)
def test_sessionization_matches_python_model(spark, offsets):
    """events_sessionization's windowed session assignment == a simple
    sequential fold over the sorted timestamps (30-min gap rule)."""
    base = 1_700_000_000
    rows = [(i, base + off * 180) for i, off in enumerate(offsets)]  # 3-min grid
    df = spark.createDataFrame(rows, "event_id long, epoch long").select(
        F.lit(1).alias("user_id"),
        "event_id",
        F.timestamp_seconds("epoch").alias("ts"),
    )
    # call the Spark logic directly (the registered query reads parquet)
    from tfl_realtime_lakehouse_spark.queries.advanced import events_sessionization

    import tfl_realtime_lakehouse_spark.queries.registry as reg

    orig = reg.read_table
    try:
        reg.read_table = lambda spark_, sf_dir, name: df  # inject fixture
        out = events_sessionization(spark, "__fixture__").collect()
    finally:
        reg.read_table = orig

    # python model over sorted (ts, event_id)
    events = sorted((base + off * 180, i) for i, off in enumerate(offsets))
    sessions = []
    last = None
    for ts, _ in events:
        if last is None or ts - last > 1800:
            sessions.append([ts])
        else:
            sessions[-1].append(ts)
        last = ts
    expect = {
        sid + 1: (len(s), s[-1] - s[0]) for sid, s in enumerate(sessions)
    }
    gotm = {int(r.session_id): (r.n_events, int(r.duration_s)) for r in out}
    assert gotm == expect


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_events, right=_events)
def test_asof_join_strict_mode_and_carried_values(spark, left, right):
    """allow_exact_match=False (strictly-before semantics) plus payload
    carry: the matched row's value column must come from the same right
    row as the matched timestamp. Right (k, ts) pairs are deduped so the
    carried payload is well-defined at equal right timestamps."""
    runiq = sorted(set(right))
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k string, ts long, idx long"
    )
    rdf = spark.createDataFrame(
        [(k, t, f"{k}@{t}") for k, t in runiq], "k string, ts long, val string"
    )
    got = {
        r.idx: (r.asof_ts, r.val)
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts",
            right_values=["val"], allow_exact_match=False,
        ).collect()
    }
    by_key: dict[str, list[int]] = {}
    for k, t in runiq:
        by_key.setdefault(k, []).append(t)
    for i, (k, t) in enumerate(left):
        ts_list = by_key.get(k, [])
        j = bisect.bisect_left(ts_list, t)  # strict: equal ts NOT visible
        if j:
            expect = (ts_list[j - 1], f"{k}@{ts_list[j - 1]}")
        else:
            expect = (None, None)
        assert got[i] == expect, (i, k, t)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=_events, right=_events)
def test_asof_join_forward_and_nearest_match_bisect_model(spark, left, right):
    """direction='forward' must return the earliest right ts at/after
    each left ts; direction='nearest' the closer of backward/forward
    with ties resolved backward. Verified against a Python bisect model
    on random key/ts lists (right deduped so payloads are defined)."""
    runiq = sorted(set(right))
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "k string, ts long, idx long"
    )
    rdf = spark.createDataFrame(runiq, "k string, ts long")
    fwd = {
        r.idx: r.asof_ts
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts", direction="forward"
        ).collect()
    }
    near = {
        r.idx: r.asof_ts
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts", direction="nearest"
        ).collect()
    }
    by_key: dict[str, list[int]] = {}
    for k, t in runiq:
        by_key.setdefault(k, []).append(t)
    for i, (k, t) in enumerate(left):
        ts_list = by_key.get(k, [])
        j_fwd = bisect.bisect_left(ts_list, t)  # first ts >= t
        e_fwd = ts_list[j_fwd] if j_fwd < len(ts_list) else None
        j_back = bisect.bisect_right(ts_list, t)  # last ts <= t
        e_back = ts_list[j_back - 1] if j_back else None
        assert fwd[i] == e_fwd, ("forward", i, k, t)
        if e_back is None:
            e_near = e_fwd
        elif e_fwd is None:
            e_near = e_back
        else:
            e_near = e_back if (t - e_back) <= (e_fwd - t) else e_fwd
        assert near[i] == e_near, ("nearest", i, k, t)


_intervals = st.lists(
    st.tuples(
        st.sampled_from([1, 2]),          # user
        st.integers(0, 500),              # start offset (seconds)
        st.integers(1, 120),              # duration (seconds)
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(iv=_intervals)
def test_interval_merge_islands_match_python_sweep(spark, iv):
    """The windowed cummax gaps-and-islands formulation (the
    events_interval_merge plan shape) equals a per-user sweep-line
    merge on random interval sets, including touching endpoints
    (start == running max end merges) and duplicate starts."""
    import datetime as dt

    from pyspark.sql import Window

    base = dt.datetime(2025, 1, 1)
    rows = [
        (
            u,
            i,
            base + dt.timedelta(seconds=s),
            base + dt.timedelta(seconds=s + d),
        )
        for i, (u, s, d) in enumerate(iv)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, te timestamp"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = df.select(
        "user_id",
        "event_id",
        "ts",
        "te",
        F.when(
            F.max("te").over(w.rowsBetween(Window.unboundedPreceding, -1))
            >= F.col("ts"),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("new_island"),
    )
    islands = flagged.withColumn(
        "island_id", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    got = {
        (r.user_id, r.island_id): (r.s, r.e, r.n)
        for r in islands.groupBy("user_id", "island_id")
        .agg(F.min("ts").alias("s"), F.max("te").alias("e"), F.count(F.lit(1)).alias("n"))
        .collect()
    }

    # python sweep-line reference
    want = {}
    for u in {1, 2}:
        evs = sorted(
            [(ts, te, i) for i, (uu, s, d) in enumerate(iv)
             for ts, te in [(base + dt.timedelta(seconds=s),
                             base + dt.timedelta(seconds=s + d))]
             if uu == u],
            key=lambda x: (x[0], x[2]),
        )
        island, mx, start, n = 0, None, None, 0
        for ts, te, _ in evs:
            if mx is None or ts > mx:
                if island:
                    want[(u, island)] = (start, mx, n)
                island += 1
                start, mx, n = ts, te, 1
            else:
                mx = max(mx, te)
                n += 1
        if island:
            want[(u, island)] = (start, mx, n)
    assert got == want


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)), min_size=1, max_size=20
    )
)
def test_zorder_interleave_is_bijective_and_monotone_per_axis(spark, vals):
    """Morton interleave properties on random bins: (a) exact python-
    reference equality, (b) bijectivity (deinterleave recovers both
    coordinates), (c) the prefix-hypercube property — two cells share a
    z-prefix of 2k bits iff they share the top k bits of BOTH axes."""
    from tfl_realtime_lakehouse_spark.operators.layout import (
        interleave_bits,
        zvalue_py,
    )

    df = spark.createDataFrame(vals, "x: long, y: long").withColumn(
        "z", interleave_bits([F.col("x"), F.col("y")], bits=8)
    )
    for r in df.collect():
        z = zvalue_py([r.x, r.y], bits=8)
        assert r.z == z
        # deinterleave
        xs = sum(((z >> (2 * b)) & 1) << b for b in range(8))
        ys = sum(((z >> (2 * b + 1)) & 1) << b for b in range(8))
        assert (xs, ys) == (r.x, r.y)
        for k in (2, 4):
            same_prefix = (z >> (16 - 2 * k)) == (
                zvalue_py([r.x, r.y], bits=8) >> (16 - 2 * k)
            )
            assert same_prefix  # self-comparison sanity
    # cross-pair prefix test on the first two rows when distinct
    if len(vals) >= 2 and vals[0] != vals[1]:
        (x1, y1), (x2, y2) = vals[0], vals[1]
        z1, z2 = zvalue_py([x1, y1], bits=8), zvalue_py([x2, y2], bits=8)
        for k in (1, 2, 4, 8):
            share = (z1 >> (16 - 2 * k)) == (z2 >> (16 - 2 * k))
            axes = (x1 >> (8 - k)) == (x2 >> (8 - k)) and (y1 >> (8 - k)) == (
                y2 >> (8 - k)
            )
            assert share == axes, (k, vals[0], vals[1])


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=12), min_size=2, max_size=8
    )
)
def test_fuzzy_levenshtein_pairs_match_brute_force(spark, texts):
    """Blocked+banded fuzzy pairs equal the brute-force filter (same
    block, same band, 0 < dist <= max) on random short texts — the
    blocking must only PRUNE never-candidates, not change scores."""
    from tfl_realtime_lakehouse_spark.operators.dedup import (
        fuzzy_levenshtein_pairs_reps,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in fuzzy_levenshtein_pairs_reps(
            df, max_dist=3, len_band=2
        ).collect()
    }

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {}
    for i, ta in rows:
        for j, tb in rows:
            if i >= j:
                continue
            blk_a = ta.split(" ")[0]
            blk_b = tb.split(" ")[0]
            if blk_a != blk_b or abs(len(ta) - len(tb)) > 2:
                continue
            d = lev(ta, tb)
            if 0 < d <= 3:
                want[(i, j)] = d
    assert got == want


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    series=st.lists(
        st.floats(
            min_value=-100, max_value=100, allow_nan=False, allow_infinity=False
        ),
        min_size=5,
        max_size=40,
    )
)
def test_streaming_cusum_state_fn_replays_reference(series):
    """The CUSUM state function (driven directly, protobuf-free) equals
    the reference recurrence for ANY batch split of an in-order series
    — batch boundaries must be invisible to the algorithm."""
    import pandas as pd

    from tfl_realtime_lakehouse_spark.streaming.cusum import (
        _cusum_state_fn,
        _warmup_stats,
    )

    warm = 4

    class S:
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

    t0 = pd.Timestamp("2025-01-01")
    buckets = [t0 + pd.Timedelta(hours=i) for i in range(len(series))]

    def run(split):
        st_ = S()
        rows = []
        chunks = [list(zip(buckets, series))[:split], list(zip(buckets, series))[split:]]
        for ch in chunks:
            if not ch:
                continue
            pdf = pd.DataFrame({"bucket": [c[0] for c in ch], "y": [c[1] for c in ch]})
            for out in _cusum_state_fn(("k",), iter([pdf]), st_, warm=warm):
                rows.append(out)
        return pd.concat(rows, ignore_index=True), st_.v

    full, st_full = run(len(series))
    for split in (1, len(series) // 2, max(0, len(series) - 1)):
        part, st_part = run(split)
        pd.testing.assert_frame_equal(full, part)
        assert st_full == st_part


def test_linear_attribution_conserves_value(spark):
    """Every purchase's value is fully allocated: the per-touch credits
    (or the direct credit for untouched purchases) sum back to the
    purchase value within rounding (6 dp x n_touches)."""
    from tfl_realtime_lakehouse_spark.queries.pipeline_queries import (
        events_linear_attribution,
    )
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    out = events_linear_attribution(spark, sf)
    ev = spark.read.parquet(f"{sf}/events.parquet")
    vals = {
        r.event_id: r.value
        for r in ev.where(F.col("event_type") == "purchase").collect()
    }
    per_purchase = (
        out.groupBy("purchase_id")
        .agg(
            F.sum("credit").alias("total"),
            F.max("n_touches").alias("n"),
            F.count(F.lit(1)).alias("rows"),
        )
        .collect()
    )
    assert {r.purchase_id for r in per_purchase} == set(vals)
    for r in per_purchase:
        tol = 5e-7 * max(r.n, 1) + 1e-9
        assert abs(r.total - vals[r.purchase_id]) <= tol, r
        # matched purchases emit exactly n_touches rows; direct ones 1
        assert r.rows == (r.n if r.n > 0 else 1)


def test_kappa_bounds_and_contingency(spark):
    """Kappa lies in [-1, 1]; the contingency cells partition the corpus."""
    from tfl_realtime_lakehouse_spark.queries.pipeline_queries import (
        dq_label_agreement_kappa,
    )

    row = dq_label_agreement_kappa(spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n11 + row.n10 + row.n01 + row.n00 == row.n
    assert -1.0 <= row.kappa <= 1.0
    assert 0.0 <= row.po <= 1.0 and 0.0 <= row.pe <= 1.0


def test_pmi_membership_is_support_only(spark):
    """Row membership in the PMI query is purely the integer support
    filter — recomputing bigram counts brute-force gives the same set."""
    from collections import Counter

    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_pmi_collocations,
    )

    sf = "/root/testdata/sf0.001"
    out = {(r.w1, r.w2): r.n_pair for r in text_pmi_collocations(spark, sf).collect()}
    texts = [
        r.text for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    ]
    c = Counter()
    for t in texts:
        ws = t.split(" ")
        c.update(zip(ws, ws[1:]))
    expect = {k: v for k, v in c.items() if v >= 20}
    assert out == expect


def test_decontaminate_removes_all_benchmark_grams(spark):
    """After span removal, no scrubbed training doc contains any
    benchmark 4-gram (the semantic guarantee detection alone lacks)."""
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_decontaminate_spans,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    bench_grams = set()
    for r in docs:
        if r.doc_id % 97 == 0:
            ws = r.text.split(" ")
            bench_grams.update(
                " ".join(ws[i : i + 4]) for i in range(len(ws) - 3)
            )
    out = text_decontaminate_spans(spark, sf).collect()
    assert out, "no training docs"
    n_scrubbed = 0
    for r in out:
        ws = [w for w in r.text_clean.split(" ") if w]
        for i in range(len(ws) - 3):
            assert " ".join(ws[i : i + 4]) not in bench_grams, r.doc_id
        if r.n_removed > 0:
            n_scrubbed += 1
    assert n_scrubbed > 0, "fixture produced no contaminated docs"


def test_logreg_beats_baseline_and_is_deterministic(spark):
    """The distilled linear scorer beats the majority-class baseline,
    and two training runs are bit-identical (the verifiable-recurrence
    claim, engine-side)."""
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_quality_logreg_train,
    )

    # sf0.01: at sf0.001 the class balance makes 16 rounds land exactly
    # on the majority predictor — no strict improvement to assert
    sf = "/root/testdata/sf0.01"
    a = {r.doc_id: (r.score, r.pred, r.label) for r in
         text_quality_logreg_train(spark, sf).collect()}
    b = {r.doc_id: (r.score, r.pred, r.label) for r in
         text_quality_logreg_train(spark, sf).collect()}
    assert a == b
    n = len(a)
    acc = sum(1 for s, p, y in a.values() if p == y) / n
    majority = max(
        sum(1 for *_, y in a.values() if y == 1),
        sum(1 for *_, y in a.values() if y == 0),
    ) / n
    assert acc > majority, (acc, majority)


def test_crossdoc_span_dedup_matches_python_model(spark):
    """Third implementation: a pure-Python positional model of the Lee
    et al. removal semantics (canonical = lexicographic-min (doc, pos)
    occurrence of each duplicated 4-gram; every other occurrence's
    positions are cut) must reproduce text_clean byte-for-byte."""
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_crossdoc_span_dedup,
    )

    sf = "/root/testdata/sf0.001"
    docs = {
        r.doc_id: r.text.split(" ")
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, ws in docs.items():
        for i in range(len(ws) - 3):
            occ.setdefault(" ".join(ws[i : i + 4]), []).append((d, i))
    drops: dict[int, set[int]] = {d: set() for d in docs}
    for places in occ.values():
        if len(places) < 2:
            continue
        keep = min(places)
        for d, i in places:
            if (d, i) != keep:
                drops[d].update(range(i, i + 4))
    out = {r.doc_id: r for r in text_crossdoc_span_dedup(spark, sf).collect()}
    assert set(out) == set(docs)
    any_removed = False
    for d, ws in docs.items():
        kept = [w for p, w in enumerate(ws) if p not in drops[d]]
        r = out[d]
        assert r.n_tokens == len(ws)
        assert r.n_removed == len(ws) - len(kept), d
        assert r.text_clean == " ".join(kept), d
        any_removed = any_removed or r.n_removed > 0
    assert any_removed, "fixture corpus produced no duplicated spans"


def test_ngram_novelty_first_doc_full_and_counts_conserve(spark):
    """The earliest doc is 100% novel, and sum(n_novel) equals the
    number of distinct 3-grams in the corpus (every gram is novel in
    exactly one doc)."""
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_ngram_novelty_curve,
    )

    sf = "/root/testdata/sf0.001"
    rows = text_ngram_novelty_curve(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    all_grams = set()
    for r in docs:
        ws = r.text.split(" ")
        all_grams.update(" ".join(ws[i : i + 3]) for i in range(len(ws) - 2))
    by_id = {r.doc_id: r for r in rows}
    first = min(r.doc_id for r in rows if r.n_grams > 0)
    assert by_id[first].novelty_ratio == 1.0
    assert sum(r.n_novel for r in rows) == len(all_grams)
    for r in rows:
        assert 0 <= r.n_novel <= r.n_grams


def test_auc_matches_bruteforce_pairs(spark):
    """Tie-corrected AUC equals the O(P*N) pairwise Mann-Whitney count
    on the same (score, label) data, per lang."""
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        eval_quality_auc_by_lang,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    by_lang: dict[str, list[tuple[int, int]]] = {}
    for r in docs:
        ws = r.text.split(" ")
        score = sum(1 for w in ws if w in ("the", "a"))
        by_lang.setdefault(r.lang, []).append((score, int(r.n_chars >= 200)))
    for r in eval_quality_auc_by_lang(spark, sf).collect():
        pts = by_lang[r.lang]
        pos = [s for s, y in pts if y == 1]
        neg = [s for s, y in pts if y == 0]
        assert r.n_pos == len(pos) and r.n_neg == len(neg)
        if not pos or not neg:
            assert r.auc is None
            continue
        u2 = sum(
            2 if p > n else (1 if p == n else 0) for p in pos for n in neg
        )
        assert r.u2 == u2
        assert abs(r.auc - u2 / (2 * len(pos) * len(neg))) < 1e-6
        assert 0.0 <= r.auc <= 1.0


def test_fisher_matches_numpy_anova(spark):
    """Per-dim F statistic matches a numpy one-way ANOVA on the raw
    vectors (independent float path — tolerance, not bit equality)."""
    import numpy as np

    from tfl_realtime_lakehouse_spark.queries.vector_queries import (
        embedding_fisher_separability,
    )

    sf = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    y = np.array([r.label for r in rows])
    labels = sorted(set(y.tolist()))
    n, k = len(y), len(labels)
    for r in embedding_fisher_separability(spark, sf).collect():
        col = X[:, r.j]
        assert r.n == n and r.k == k
        cls_ss = sum(col[y == c].sum() ** 2 / (y == c).sum() for c in labels)
        between = cls_ss - col.sum() ** 2 / n
        within = (col**2).sum() - cls_ss
        assert abs(r.between_ss - between) < 1e-4, r.j
        assert abs(r.within_ss - within) < 1e-4, r.j
        if within > 0 and k > 1:
            f = (between / (k - 1)) / (within / (n - k))
            assert abs(r.fisher_f - f) < 1e-3, r.j
        assert r.within_ss >= -1e-9


def test_content_contraction_on_duplicated_corpus(spark, tmp_path):
    """The r5 content-contraction in crossdoc span dedup and the
    novelty curve is output-preserving on a corpus WITH exact
    duplicates (the driver SFs have none, so this plants them): every
    non-representative copy must lose everything (len >= 4) in span
    dedup and own zero novel grams, and representatives must match the
    pure-Python full-corpus models exactly."""
    import pandas as pd

    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_crossdoc_span_dedup,
        text_ngram_novelty_curve,
    )

    texts = [
        "a b c d e f",        # rep of class X
        "a b c d e f",        # dup of X
        "g h i j k b c d e",  # overlaps X's grams partially
        "a b c d e f",        # another dup of X
        "p q",                # short: no grams anywhere
        "p q",                # short dup: still keeps everything
        "z y x w v u t",      # unique
        # 25 copies push the "c d" bigram count to >= 20 (PMI floor)
        *(["c d c d e"] * 25),
        # 3 copies of an 8-token text: exactly one chunk, duplicated
        *(["q r s t u v w x"] * 3),
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(f"{sf}/documents.parquet")

    docs = {i: t.split(" ") for i, t in enumerate(texts)}
    # full-corpus span-dedup model (same as the earlier property test)
    occ: dict[str, list[tuple[int, int]]] = {}
    for d, ws in docs.items():
        for i in range(len(ws) - 3):
            occ.setdefault(" ".join(ws[i : i + 4]), []).append((d, i))
    drops: dict[int, set[int]] = {d: set() for d in docs}
    for places in occ.values():
        if len(places) < 2:
            continue
        keep = min(places)
        for d, i in places:
            if (d, i) != keep:
                drops[d].update(range(i, i + 4))
    out = {r.doc_id: r for r in text_crossdoc_span_dedup(spark, sf).collect()}
    for d, ws in docs.items():
        kept = [w for p, w in enumerate(ws) if p not in drops[d]]
        assert out[d].n_removed == len(ws) - len(kept), d
        assert out[d].text_clean == " ".join(kept), d
    assert out[1].text_clean == "" and out[3].text_clean == ""  # dups of X
    assert out[5].text_clean == "p q"  # short dup keeps everything

    # full-corpus novelty model (3-grams, distinct per doc)
    first: dict[str, int] = {}
    per_doc: dict[int, set[str]] = {}
    for d, ws in docs.items():
        gs = {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}
        per_doc[d] = gs
        for g in gs:
            first[g] = min(first.get(g, d), d)
    nov = {r.doc_id: r for r in text_ngram_novelty_curve(spark, sf).collect()}
    for d, gs in per_doc.items():
        assert nov[d].n_grams == len(gs), d
        assert nov[d].n_novel == sum(1 for g in gs if first[g] == d), d
    assert nov[1].n_novel == 0 and nov[3].n_novel == 0

    # weighted contraction (bigram JM perplexity): corpus counts must
    # include duplicate multiplicities, and a duplicate must score
    # bit-identically to its representative
    import math
    from collections import Counter

    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_bigram_interpolated_perplexity,
    )

    uni = Counter(w for ws in docs.values() for w in ws)
    nt = sum(uni.values())
    bic = Counter(
        (ws[i], ws[i + 1]) for ws in docs.values() for i in range(len(ws) - 1)
    )
    ppl = {r.doc_id: r for r in
           text_bigram_interpolated_perplexity(spark, sf).collect()}
    for d, ws in docs.items():
        if len(ws) < 2:
            assert d not in ppl
            continue
        lps = [
            math.log(
                0.75 * (bic[(ws[i], ws[i + 1])] / uni[ws[i]])
                + 0.25 * (uni[ws[i + 1]] / nt)
            )
            for i in range(len(ws) - 1)
        ]
        assert ppl[d].n_bigrams == len(lps), d
        model = math.exp(-sum(lps) / len(lps))
        assert abs(ppl[d].perplexity - model) < 1e-3, d
    assert ppl[0].perplexity == ppl[1].perplexity == ppl[3].perplexity

    # weighted contraction (tf-idf top terms): df and N must count
    # duplicate copies, and copies share identical top-term rows
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_tfidf_topterms,
    )

    dfc = Counter()
    for ws in docs.values():
        dfc.update(set(ws))
    tfidf = {}
    for r in text_tfidf_topterms(spark, sf).collect():
        tfidf.setdefault(r.doc_id, []).append(r)
        assert r.df == dfc[r.term], (r.doc_id, r.term)
        tfv = Counter(docs[r.doc_id])[r.term]
        assert r.tf == tfv, (r.doc_id, r.term)
    key = lambda rows: sorted((r.term, r.tf, r.df, r.score, r.rnk) for r in rows)
    assert key(tfidf[0]) == key(tfidf[1]) == key(tfidf[3])

    # weighted contraction (unigram perplexity): duplicate-weighted LM,
    # copies score identically, value matches a full-corpus model
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_unigram_perplexity,
    )

    up = {r.doc_id: r for r in text_unigram_perplexity(spark, sf).collect()}
    for d, ws in docs.items():
        lps = [math.log(uni[w] / nt) for w in ws]
        assert up[d].n_tokens == len(ws), d
        assert abs(up[d].perplexity - math.exp(-sum(lps) / len(lps))) < 1e-3, d
    assert up[0].perplexity == up[1].perplexity == up[3].perplexity

    # weighted contraction (word frequencies): totals and doc counts
    # must include every copy
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_word_frequencies,
    )

    wf = {r.word: r for r in text_word_frequencies(spark, sf).collect()}
    assert set(wf) == set(uni)
    for w, r in wf.items():
        assert r.n_total == uni[w], w
        assert r.n_docs == sum(1 for ws in docs.values() if w in ws), w

    # weighted contraction (PMI collocations): the nb >= 20 floor is
    # cleared only by multiplicity-weighted counts ("c d" lives in 25
    # copies of one distinct text)
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_pmi_collocations,
    )

    n2 = sum(len(ws) - 1 for ws in docs.values())
    pmis = {(r.w1, r.w2): r for r in text_pmi_collocations(spark, sf).collect()}
    exp_pairs = {p for p, c in bic.items() if c >= 20}
    assert set(pmis) == exp_pairs and ("c", "d") in pmis
    for (w1, w2), r in pmis.items():
        assert r.n_pair == bic[(w1, w2)]
        model = math.log(
            (bic[(w1, w2)] / n2) / ((uni[w1] / nt) * (uni[w2] / nt))
        )
        assert abs(r.pmi - model) < 1e-3, (w1, w2)

    # weighted contraction (duplicate chunk ratio): the 3 copies of the
    # 8-token text are each all-duplicate; the unique 9-token doc's
    # single chunk is not
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_duplicate_chunk_ratio,
    )

    # content-contracted scrub side (decontaminate): given the RAW
    # benchmark gram set (doc_id % 97 == 0 → doc 0 here), training
    # copies must scrub identically to a full-corpus Python model
    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_decontaminate_spans,
    )

    bench_grams = set()
    for d, ws in docs.items():
        if d % 97 == 0:
            bench_grams.update(
                " ".join(ws[i : i + 4]) for i in range(len(ws) - 3)
            )
    deco = {r.doc_id: r for r in text_decontaminate_spans(spark, sf).collect()}
    assert set(deco) == {d for d in docs if d % 97 != 0}
    for d, ws in docs.items():
        if d % 97 == 0:
            continue
        dp: set[int] = set()
        for i in range(len(ws) - 3):
            if " ".join(ws[i : i + 4]) in bench_grams:
                dp.update(range(i, i + 4))
        kept_ws = [w for p, w in enumerate(ws) if p not in dp]
        assert deco[d].n_removed == len(ws) - len(kept_ws), d
        assert deco[d].text_clean == " ".join(kept_ws), d

    # weighted contraction (logreg): the multiplicity-weighted gradient
    # recurrence must match a Python replay over the RAW corpus (same
    # 12-dp pinning), and copies must share identical rows
    from decimal import ROUND_HALF_UP, Decimal

    from tfl_realtime_lakehouse_spark.queries.text_queries import (
        text_quality_logreg_train,
    )

    def pin(v):
        return float(
            Decimal(repr(v)).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
        )

    feats = []
    for d, ws in docs.items():
        n_chars = len(" ".join(ws))
        x1 = sum(1 for w in ws if w in ("the", "a")) / len(ws)
        feats.append((d, x1, n_chars / 1000.0, 1.0 if n_chars >= 200 else 0.0))
    wv, lr, ndl = (0.0, 0.0, 0.0), 20.0, float(len(feats))
    for _ in range(16):
        g = [0.0, 0.0, 0.0]
        for _, x1, x2, y in feats:
            z = wv[0] + wv[1] * x1 + wv[2] * x2
            err = 0.5 + 0.5 * z / (1.0 + abs(z)) - y
            g[0] += pin(err)
            g[1] += pin(err * x1)
            g[2] += pin(err * x2)
        wv = tuple(wv[i] - lr * (g[i] / ndl) for i in range(3))
    lg = {r.doc_id: r for r in text_quality_logreg_train(spark, sf).collect()}
    for d, x1, x2, y in feats:
        z = wv[0] + wv[1] * x1 + wv[2] * x2
        s = 0.5 + 0.5 * z / (1.0 + abs(z))
        assert abs(lg[d].score - s) < 1e-4, d
        assert lg[d].label == int(y), d
    assert (lg[0].score, lg[0].pred) == (lg[1].score, lg[1].pred) == (
        lg[3].score,
        lg[3].pred,
    )

    dc = {r.doc_id: r for r in text_duplicate_chunk_ratio(spark, sf).collect()}
    assert set(dc) == set(docs)
    eight = [d for d, ws in docs.items() if ws == "q r s t u v w x".split()]
    for d in eight:
        assert (dc[d].n_chunks, dc[d].dup_chunks) == (1, 1)
        assert dc[d].dup_chunk_ratio == 1.0
    nine = [d for d, ws in docs.items() if len(ws) == 9][0]
    assert (dc[nine].n_chunks, dc[nine].dup_chunks) == (1, 0)
    short = [d for d, ws in docs.items() if len(ws) < 8]
    for d in short:
        assert dc[d].n_chunks == 0 and dc[d].dup_chunk_ratio is None


def test_ood_vector_contraction_on_duplicated_embeddings(spark, tmp_path):
    """Vector-contracted OOD scoring must equal the raw-corpus z²-sum
    model (numpy replay, duplicate-weighted moments) and give copies
    identical scores."""
    import numpy as np
    import pandas as pd

    from tfl_realtime_lakehouse_spark.queries.vector_queries import (
        embedding_ood_outliers,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(6, 8)).astype("float32")
    rows, vid = [], 0
    for i, copies in enumerate([1, 4, 2, 1, 7, 3]):
        for _ in range(copies):
            rows.append((vid, base[i].tolist(), i))
            vid += 1
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    n = float(len(rows))
    s1 = X.sum(axis=0)
    s2 = (X**2).sum(axis=0)
    model = (((X * n - s1) ** 2) / (n * (n * s2 - s1**2))).sum(axis=1)
    got = {r.vec_id: r.ood_score
           for r in embedding_ood_outliers(spark, str(tmp_path)).collect()}
    assert got, "no rows"
    for v, s in got.items():
        assert abs(s - model[v]) < 1e-4, v
    # copies of the same base vector share identical engine scores
    by_base: dict[int, set] = {}
    for j, (v, _e, b) in enumerate(rows):
        if v in got:
            by_base.setdefault(b, set()).add(got[v])
    for b, ss in by_base.items():
        assert len(ss) == 1, b

    # Fisher separability on the same duplicated fixture: weighted
    # per-(label, dim) moments must match a raw-corpus numpy ANOVA
    from tfl_realtime_lakehouse_spark.queries.vector_queries import (
        embedding_fisher_separability,
    )

    y = np.array([r[2] for r in rows])
    labels = sorted(set(y.tolist()))
    nn, k = len(rows), len(labels)
    for r in embedding_fisher_separability(spark, str(tmp_path)).collect():
        col = X[:, r.j]
        assert r.n == nn and r.k == k
        cls_ss = sum(col[y == c].sum() ** 2 / (y == c).sum() for c in labels)
        between = cls_ss - col.sum() ** 2 / nn
        within = (col**2).sum() - cls_ss
        assert abs(r.between_ss - between) < 1e-4, r.j
        assert abs(r.within_ss - within) < 1e-4, r.j


def test_fisher_guard_trips_on_wide_label_cardinality(spark, tmp_path):
    """ADVICE r5: the DuckDB oracle's unrolled fold covers exactly
    _FISHER_MAX_LABELS class terms, so a wider corpus must FAIL LOUDLY
    on the Spark side (assert_true in the plan) instead of silently
    diverging from an oracle that drops terms."""
    import numpy as np
    import pandas as pd
    import pytest as _pytest

    from tfl_realtime_lakehouse_spark.queries.vector_queries import (
        _FISHER_MAX_LABELS,
        embedding_fisher_separability,
    )

    rng = np.random.default_rng(11)
    n_labels = _FISHER_MAX_LABELS + 1
    rows = [
        (i, rng.normal(size=4).astype("float32").tolist(), i % n_labels)
        for i in range(3 * n_labels)
    ]
    pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    with _pytest.raises(Exception, match="label cardinality"):
        embedding_fisher_separability(spark, str(tmp_path)).collect()

    # At exactly the fold width the guard must stay silent.
    ok_rows = [
        (i, rng.normal(size=4).astype("float32").tolist(), i % _FISHER_MAX_LABELS)
        for i in range(3 * _FISHER_MAX_LABELS)
    ]
    pd.DataFrame(ok_rows, columns=["vec_id", "embedding", "label"]).to_parquet(
        f"{tmp_path}/embeddings.parquet"
    )
    got = embedding_fisher_separability(spark, str(tmp_path)).collect()
    assert got and all(r.k == _FISHER_MAX_LABELS for r in got)


def test_corpus_metadata_is_content_derived(spark):
    """ADVICE r5: the content contractions group by md5(text) and carry
    metadata columns along; that is only sound while n_chars is a pure
    function of text. Pin the invariant on the correctness-SF corpus so
    a spec change fails here instead of silently skewing contracted
    features (text_quality_logreg_train now also keys on n_chars
    directly)."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    bad = docs.where(F.length("text") != F.col("n_chars")).count()
    assert bad == 0


def test_matryoshka_contraction_matches_raw_pair_model(spark, tmp_path):
    """The r6 content-contraction in embedding_matryoshka_eval must be
    output-preserving on a corpus WITH exact duplicates (the driver SFs
    have none, so this plants them), including duplicates OF the query
    vectors themselves — the per-query self-exclusion must drop exactly
    the query's own row, never its content twins. Compared against a
    raw per-copy numpy replay of the oracle's pair semantics."""
    import numpy as np
    import pandas as pd

    from tfl_realtime_lakehouse_spark.queries.vector_queries import (
        embedding_matryoshka_eval,
    )

    rng = np.random.default_rng(23)
    base = rng.normal(size=(7, 40)).astype("float32")
    # copies[i] = how many corpus rows carry base vector i. Queries are
    # vec_id 0..4; lay the corpus out so:
    #  - query 0's content also appears 3 more times (twins included),
    #  - query 2's content is UNIQUE (its group contracts to m_eff=0),
    #  - queries 3 and 4 SHARE content (each excludes only itself).
    rows = []
    rows.append((0, base[0].tolist()))          # query 0
    rows.append((1, base[1].tolist()))          # query 1
    rows.append((2, base[2].tolist()))          # query 2 (unique content)
    rows.append((3, base[3].tolist()))          # query 3
    rows.append((4, base[3].tolist()))          # query 4 = query 3's content
    vid = 5
    for i, extra in [(0, 3), (1, 2), (4, 1), (5, 4), (6, 2)]:
        for _ in range(extra):
            rows.append((vid, base[i].tolist()))
            vid += 1
    pd.DataFrame(rows, columns=["vec_id", "embedding"]).assign(
        label=0
    ).to_parquet(f"{tmp_path}/embeddings.parquet")

    X = np.array([r[1] for r in rows], dtype=np.float64)
    ids = np.array([r[0] for r in rows])

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        return round(float(a @ b / (na * nb)), 6) if na and nb else None

    want = {}
    for qid in range(5):
        qv = X[ids == qid][0]
        for d in (8, 16, 32):
            deltas = []
            for j in range(len(rows)):
                if ids[j] == qid:
                    continue
                full = cos(qv, X[j])
                pre = cos(qv[:d], X[j][:d])
                deltas.append(abs(pre - full))
            want[(qid, d)] = (
                len(deltas),
                round(sum(deltas) / len(deltas), 6),
                round(max(deltas), 6),
            )

    got = {
        (r.query_id, r.prefix_dim): (r.n_pairs, r.mean_abs_delta, r.max_abs_delta)
        for r in embedding_matryoshka_eval(spark, str(tmp_path)).collect()
    }
    assert set(got) == set(want)
    for k, (n, mean, mx) in want.items():
        gn, gmean, gmx = got[k]
        assert gn == n, k                       # self-exclusion exact
        # numpy's dot order differs from the engine's fold in the last
        # ulp, which can flip a 6-dp rounding by one quantum; the
        # engine≡oracle bit-exactness is pinned by tools/str_identity
        assert abs(gmean - mean) <= 2e-6, k
        assert abs(gmx - mx) <= 2e-6, k
