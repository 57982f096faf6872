"""Round-8 extension wave: quality-of-approximation and engine-infra
operators — ANN recall evaluation (the verdict's ask: an oracle-backed
quality record for the approximate tier), MinHash sketch-error
distribution, fixed-round Bradley–Terry ratings from pairwise duels
(the RLHF-adjacent "rank sources from preferences" shape), and an
ANALYZE-style per-column statistics profile.

Shared determinism discipline (registry.py docstring): cross-row float
sums go through exact decimals or exact integers (the BT query's only
non-integer cross-row sums are multiples of 0.5 — exact in binary),
continuous outputs round at 6 dp, counts stay integer end to end,
top-k ranks order on (6-dp score, id) total orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.registry import register, table
from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL


# ---------------------------------------------------------------------------
# X202 — ANN recall evaluation (oracle-backed quality record for the
# approximate tier; mirrors dedup_minhash_recall_eval / X117)
# ---------------------------------------------------------------------------


def _ann_recall_oracle(k: int = 10) -> str:
    from tfl_realtime_lakehouse_spark.queries.vector_queries import (
        _COSINE_DOUBLE,
        _rademacher_codes_sql,
    )

    cos = _COSINE_DOUBLE.format(a="ea.embedding", b="eb.embedding")
    return f"""
    WITH sample AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0
    ),
    codes AS MATERIALIZED (
      {_rademacher_codes_sql(16, 8, 64)}
    ),
    cand AS MATERIALIZED (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM codes a JOIN codes b
        ON a.tbl = b.tbl AND a.code = b.code AND a.vec_id < b.vec_id
    ),
    qc AS (
      SELECT vec_a AS query_id, vec_b AS vec_id FROM cand WHERE vec_a < 20
      UNION ALL
      SELECT vec_b, vec_a FROM cand WHERE vec_b < 20
    ),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT qc.query_id, qc.vec_id,
               ROW_NUMBER() OVER (PARTITION BY qc.query_id
                 ORDER BY ROUND({cos}, 6) DESC, qc.vec_id) AS rnk
        FROM qc
        JOIN sample ea ON ea.vec_id = qc.query_id
        JOIN sample eb ON eb.vec_id = qc.vec_id
      ) WHERE rnk <= {k}
    ),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT ea.vec_id AS query_id, eb.vec_id,
               ROW_NUMBER() OVER (PARTITION BY ea.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, eb.vec_id) AS rnk
        FROM sample ea CROSS JOIN sample eb
        WHERE ea.vec_id < 20 AND eb.vec_id != ea.vec_id
      ) WHERE rnk <= {k}
    ),
    j AS (
      SELECT COALESCE(e.query_id, a.query_id) AS query_id,
             e.query_id IS NOT NULL AS in_e,
             a.query_id IS NOT NULL AS in_a
      FROM exact e FULL OUTER JOIN approx a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN in_e THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_approx,
           CAST(SUM(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) AS BIGINT)
             AS n_common,
           ROUND(CAST(SUM(CASE WHEN in_e AND in_a THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN in_e THEN 1 ELSE 0 END) AS DOUBLE), 6)
             AS recall_at_k
    FROM j GROUP BY query_id
    """


@register(
    "embedding_ann_recall_eval",
    oracle=_ann_recall_oracle(k=10),
    doc="ANN quality evaluation — recall@10 of the md5-seeded "
    "Rademacher sign-LSH tier against exact brute-force cosine top-k, "
    "per query: n_exact / n_approx / n_common and recall@k — the "
    "oracle-backed quality record for the approximate ANN family "
    "(mirrors dedup_minhash_recall_eval, X117, for the embedding "
    "side). The approximate leg ranks each query's LSH bucket-mates "
    "(16 tables × 8 bits, candidates only — never a scan) by the same "
    "(6-dp cosine, id) total order the exact leg uses, so ties can't "
    "diverge; the comparison is one full-outer join on (query, "
    "neighbor) + a per-query fold. Because the planes are the "
    "SQL-replayable Rademacher family (X194 discipline), the ENTIRE "
    "pipeline — codes, buckets, candidate top-k, exact top-k, recall "
    "— hash-checks against DuckDB, giving the approximate tier a "
    "hard driver record instead of rows-only. Scale shape: exact leg "
    "broadcasts the bounded query set (one corpus scan, TakeOrdered "
    "per query); approx leg is the bucket equi-join; both legs are "
    "output-sized (≤ q·k rows) before the join.",
)
def embedding_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import similarity as S

    k = 10
    emb = table(spark, sf_dir, "embeddings")
    sample = emb.where(F.col("vec_id") % 4 == 0)
    exact = S.cosine_topk(sample, sample.where(F.col("vec_id") < 20), k=k)
    # threshold -1.0 keeps every bucket-mate: recall eval ranks ALL
    # candidates, the production threshold would bias the measurement
    pairs = S.rademacher_lsh_pairs(sample, tables=16, bits=8, threshold=-1.0)
    qa = pairs.where(F.col("vec_a") < 20).select(
        F.col("vec_a").alias("query_id"), F.col("vec_b").alias("vec_id"), "score"
    )
    qb = pairs.where(F.col("vec_b") < 20).select(
        F.col("vec_b").alias("query_id"), F.col("vec_a").alias("vec_id"), "score"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id")
    )
    approx = (
        qa.unionAll(qb)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id")
    )
    e = exact.select("query_id", "vec_id").withColumn("_e", F.lit(1))
    a = approx.withColumn("_a", F.lit(1))
    both = e.join(a, ["query_id", "vec_id"], "full_outer")
    n_common = F.sum(
        F.when(F.col("_e").isNotNull() & F.col("_a").isNotNull(), 1).otherwise(0)
    )
    return (
        both.groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("_e").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact"),
            F.sum(F.when(F.col("_a").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_approx"),
            n_common.cast("bigint").alias("n_common"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_approx",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("n_exact").cast("double"),
                6,
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# X203 — MinHash sketch-error distribution (value-level accuracy of the
# estimator the LSH tier is built on)
# ---------------------------------------------------------------------------


def _minhash_est_jac_sql(num_hashes: int = 16, bands: int = 4) -> str:
    """The shared oracle prefix ``WITH …, p AS (est, jac)`` enumerating
    every RAW-corpus LSH candidate pair with its signature-agreement
    Jaccard estimate and exact shingle Jaccard — composed by the
    sketch-error histogram (X203) and the threshold-sweep (wave 9)."""
    from tfl_realtime_lakehouse_spark.queries.text_queries import _minhash_cte_sql

    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    jac = (
        "LEN(LIST_INTERSECT(ta.sh, tb.sh))::DOUBLE"
        " / (LEN(ta.sh) + LEN(tb.sh) - LEN(LIST_INTERSECT(ta.sh, tb.sh)))"
    )
    return f"""
    WITH {_minhash_cte_sql(num_hashes, bands)},
    p AS (
      SELECT CAST({agree} AS DOUBLE) / {num_hashes}.0 AS est,
             ROUND({jac}, 6) AS jac
      FROM cands c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
      JOIN s ta ON ta.doc_id = c.doc_a
      JOIN s tb ON tb.doc_id = c.doc_b
    )"""


def _minhash_error_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    return f"""{_minhash_est_jac_sql(num_hashes, bands)}
    SELECT CAST(FLOOR((est - jac) * {num_hashes}) AS INTEGER) AS err_bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p GROUP BY 1
    """


@register(
    "dedup_minhash_estimate_error",
    oracle=_minhash_error_oracle(16, 4),
    doc="Sketch-accuracy evaluation for the MinHash estimator itself: "
    "over every LSH candidate pair, the signed error between the "
    "signature-agreement Jaccard ESTIMATE (matching components / 16 — "
    "the number LSH banding's collision probability is built on) and "
    "the exact shingle Jaccard, histogrammed in 1/16-wide bins "
    "(err_bin = floor((est − jac)·16), aligned to the estimator's own "
    "granularity so est lands on exact binary multiples). The "
    "companion to dedup_minhash_recall_eval: recall measures the "
    "BANDING's misses, this measures the SKETCH's value error — the "
    "curve a curation team consults before moving the dedup "
    "threshold. Output is integer counts only (no float summary "
    "statistic to diverge); bin edges are safe because est−jac is "
    "the identical double on both engines. WEIGHTED-CONTRACTED: "
    "signatures and Jaccard are content-pure, so the sketch runs "
    "once per distinct text and each rep pair carries weight mA·mB; "
    "the diagonal (identical texts, ≥1 shingle) contributes "
    "C(m,2) exact-zero-error pairs at bin 0 via integer m(m−1) DIV 2 "
    "— bit-identical to the oracle's raw-corpus enumeration at "
    "unique-content cost (identical docs have identical signatures, "
    "so every raw member pair is a candidate iff its rep pair is).",
)
def dedup_minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    num_hashes = 16
    pairs = _minhash_est_jac_pairs(spark, sf_dir, num_hashes=num_hashes)
    return (
        pairs.select(
            F.floor((F.col("est") - F.col("jac")) * num_hashes)
            .cast("int")
            .alias("err_bin"),
            "w",
        )
        .groupBy("err_bin")
        .agg(F.sum("w").cast("bigint").alias("n_pairs"))
    )


def _minhash_est_jac_pairs(
    spark: SparkSession, sf_dir: str, num_hashes: int = 16
) -> DataFrame:
    """Weighted-contracted (est double, jac double, w long) frame over
    every LSH candidate pair: est = signature-agreement Jaccard
    estimate, jac = exact 6-dp shingle Jaccard, w = the raw-corpus
    multiplicity of the contracted rep pair (mA·mB off-diagonal,
    m(m−1) DIV 2 at the est = jac = 1 diagonal). Shared by the X203
    sketch-error histogram and the wave-9 threshold sweep — one
    verified pair-enumeration, two downstream readouts."""
    from tfl_realtime_lakehouse_spark.operators import dedup as D
    from tfl_realtime_lakehouse_spark.operators.text import shingles

    docs = table(spark, sf_dir, "documents")
    classes = docs.groupBy(F.md5("text").alias("_pk")).agg(
        F.count(F.lit(1)).alias("m"),
        F.min("doc_id").alias("doc_id"),
        F.min("text").alias("text"),
    )
    reps = classes.select("doc_id", "text").localCheckpoint(
        storageLevel=CKPT_LEVEL
    )
    sig = D.minhash_signatures(
        reps, n=3, num_hashes=num_hashes, hash_family="md5"
    )
    cands = D.minhash_lsh_candidates(
        reps, n=3, num_hashes=num_hashes, bands=4, hash_family="md5"
    )
    # exact Jaccard on candidates only; threshold -1.0 = no verify
    # filter (the error eval must see the low-jaccard false positives)
    vp = D.verify_pairs_jaccard(reps, cands, n=3, threshold=-1.0)
    agree = sum(
        F.when(F.col(f"a.h{i}") == F.col(f"b.h{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    mul = classes.select("doc_id", "m")
    cross = (
        vp.join(sig.alias("a"), F.col("a.doc_id") == F.col("doc_a"))
        .join(sig.alias("b"), F.col("b.doc_id") == F.col("doc_b"))
        .join(
            mul.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("ma")),
            "doc_a",
        )
        .join(
            mul.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("mb")),
            "doc_b",
        )
        .select(
            (agree.cast("double") / F.lit(float(num_hashes))).alias("est"),
            F.col("jaccard").alias("jac"),
            (F.col("ma") * F.col("mb")).alias("w"),
        )
    )
    # diagonal: classes of m≥2 identical docs with ≥1 shingle are
    # candidate pairs in the raw corpus (identical signatures collide
    # on every band) with est = jac = 1.0 exactly.
    # shingles(NULL) is the guarded empty array, so null-text classes
    # are excluded on both engines.
    diag = classes.where(
        (F.col("m") >= 2) & (F.size(F.array_distinct(shingles("text", 3))) >= 1)
    ).select(
        F.lit(1.0).alias("est"),
        F.lit(1.0).alias("jac"),
        F.expr("m * (m - 1) div 2").alias("w"),
    )
    return cross.unionAll(diag)


# ---------------------------------------------------------------------------
# X204 — fixed-round Bradley–Terry source ratings from pairwise duels
# ---------------------------------------------------------------------------


def _bt_oracle(rounds: int = 8) -> str:
    from tfl_realtime_lakehouse_spark.queries.wave6 import _Z_SQL

    ctes = [
        f"""d AS (
      SELECT doc_id, source, 0.5 + 0.5 * z / (1.0 + ABS(z)) AS s
      FROM (SELECT doc_id, source, {_Z_SQL} AS z
            FROM documents WHERE text IS NOT NULL)
    ),
    wl AS (
      SELECT CASE WHEN a.s > b.s THEN a.source
                  WHEN b.s > a.s THEN b.source
                  ELSE LEAST(a.source, b.source) END AS w,
             CASE WHEN a.s > b.s THEN b.source
                  WHEN b.s > a.s THEN a.source
                  ELSE GREATEST(a.source, b.source) END AS l
      FROM d a JOIN d b
        ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0
      WHERE a.source != b.source
    ),
    und AS (
      SELECT LEAST(w, l) AS i, GREATEST(w, l) AS j,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN w = LEAST(w, l) THEN 1 ELSE 0 END)
                  AS BIGINT) AS wi
      FROM wl GROUP BY 1, 2
    ),
    dirp AS MATERIALIZED (
      SELECT i AS src, j AS opp, n + 1 AS nn, wi + 0.5 AS ww, n FROM und
      UNION ALL
      SELECT j, i, n + 1, (n - wi) + 0.5, n FROM und
    ),
    wtot AS MATERIALIZED (
      SELECT src, SUM(ww) AS w_tot,
             CAST(SUM(n) AS BIGINT) AS n_duels,
             CAST(SUM(ww - 0.5) AS BIGINT) AS wins
      FROM dirp GROUP BY 1
    ),
    g0 AS MATERIALIZED (SELECT src, 1.0 AS g FROM wtot)"""
    ]
    for r in range(rounds):
        ctes.append(
            f"""t{r} AS (
      SELECT p.src,
             CAST(CAST(p.nn AS DOUBLE) / (gi.g + gj.g) AS DECIMAL(27,12)) AS t
      FROM dirp p
      JOIN g{r} gi ON gi.src = p.src
      JOIN g{r} gj ON gj.src = p.opp
    ),
    u{r} AS MATERIALIZED (
      SELECT t.src, w.w_tot / CAST(SUM(t.t) AS DOUBLE) AS g
      FROM t{r} t JOIN wtot w ON w.src = t.src
      GROUP BY t.src, w.w_tot
    ),
    s{r} AS (
      SELECT CAST(SUM(CAST(g AS DECIMAL(27,12))) AS DOUBLE) AS sg FROM u{r}
    ),
    g{r + 1} AS MATERIALIZED (SELECT src, g / sg AS g FROM u{r} CROSS JOIN s{r})"""
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT w.src AS source, w.n_duels, w.wins, ROUND(g.g, 6) AS rating
    FROM wtot w JOIN g{rounds} g ON g.src = w.src
    """


@register(
    "eval_pairwise_bradley_terry",
    oracle=_bt_oracle(rounds=8),
    doc="Fixed-round Bradley–Terry ratings from pairwise quality duels "
    "— the preference-ranking shape behind RLHF reward aggregation "
    "and arena-style evals (Hunter 2004 MM algorithm), here ranking "
    "corpus SOURCES: consecutive doc_id pairs (2k, 2k+1) from "
    "different sources duel on the shared rational-sigmoid quality "
    "score (higher wins, exact ties to the lexicographically smaller "
    "source), and 8 MM rounds of γ_i ← W_i / Σ_j n_ij/(γ_i+γ_j) with "
    "a half-win Laplace smoothing per matchup (keeps every γ > 0) "
    "and per-round sum-normalization produce ratings. Determinism: "
    "the duel matrix is exact integers; W_i sums are multiples of "
    "0.5 (exact in binary, order-free); each round's per-opponent "
    "terms pin to decimal(27,12) before the cross-row sum, the "
    "normalizer likewise, and every division is a scalar double op — "
    "so the whole recurrence hash-matches the unrolled DuckDB oracle "
    "(the kcore/HITS/logreg bounded-rounds discipline). Scale shape: "
    "one corpus scan builds the duels; everything after is "
    "model-sized (|sources|² ≤ 400 rows), iterated with per-round "
    "lineage cuts — at 100 TB only the scan grows. Null-text docs "
    "are excluded on the source column rule (filter on text itself).",
)
def eval_pairwise_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.queries.wave6 import _score_col

    rounds = 8
    docs = table(spark, sf_dir, "documents")
    d = docs.where(F.col("text").isNotNull()).select(
        "doc_id", "source", _score_col().alias("s")
    )
    a = d.where(F.col("doc_id") % 2 == 0).select(
        F.expr("doc_id div 2").alias("_pair"),
        F.col("source").alias("sa"),
        F.col("s").alias("xa"),
    )
    b = d.where(F.col("doc_id") % 2 == 1).select(
        F.expr("doc_id div 2").alias("_pair"),
        F.col("source").alias("sb"),
        F.col("s").alias("xb"),
    )
    duels = a.join(b, "_pair").where(F.col("sa") != F.col("sb"))
    win = (
        F.when(F.col("xa") > F.col("xb"), F.col("sa"))
        .when(F.col("xb") > F.col("xa"), F.col("sb"))
        .otherwise(F.least("sa", "sb"))
    )
    lose = (
        F.when(F.col("xa") > F.col("xb"), F.col("sb"))
        .when(F.col("xb") > F.col("xa"), F.col("sa"))
        .otherwise(F.greatest("sa", "sb"))
    )
    wl = duels.select(win.alias("w"), lose.alias("l"))
    und = wl.groupBy(
        F.least("w", "l").alias("i"), F.greatest("w", "l").alias("j")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("w") == F.least("w", "l"), 1).otherwise(0))
        .cast("bigint")
        .alias("wi"),
    )
    dirp = (
        und.select(
            F.col("i").alias("src"),
            F.col("j").alias("opp"),
            (F.col("n") + 1).alias("nn"),
            (F.col("wi") + F.lit(0.5)).alias("ww"),
            "n",
        )
        .unionAll(
            und.select(
                F.col("j").alias("src"),
                F.col("i").alias("opp"),
                (F.col("n") + 1).alias("nn"),
                ((F.col("n") - F.col("wi")) + F.lit(0.5)).alias("ww"),
                "n",
            )
        )
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    # W_i and the duel totals: ww values are exact binary multiples of
    # 0.5, so the double SUM is exact and order-free
    wtot = dirp.groupBy("src").agg(
        F.sum("ww").alias("w_tot"),
        F.sum("n").cast("bigint").alias("n_duels"),
        F.sum(F.col("ww") - F.lit(0.5)).cast("bigint").alias("wins"),
    ).localCheckpoint(storageLevel=CKPT_LEVEL)
    g = wtot.select("src", F.lit(1.0).alias("g"))
    # Every per-round relation here is MODEL-sized (γ and W_i are one
    # row per source, bounded by the source enum at any corpus scale),
    # but they sit behind localCheckpoint LogicalRDDs whose size
    # statistics are unknown, so the planner refused to auto-broadcast
    # and every round paid shuffle joins on ≤ 20-row inputs (profiled:
    # 90 jobs, driver gap ≫ job wall). Explicit broadcast hints make each
    # round's joins exchange-free; values are untouched (same join
    # keys/types, decimal sums stay order-free).
    for _ in range(rounds):
        gi = g.select(F.col("src"), F.col("g").alias("_gi"))
        gj = g.select(F.col("src").alias("opp"), F.col("g").alias("_gj"))
        t = dirp.join(F.broadcast(gi), "src").join(F.broadcast(gj), "opp").select(
            "src",
            (F.col("nn").cast("double") / (F.col("_gi") + F.col("_gj")))
            .cast("decimal(27,12)")
            .alias("t"),
        )
        upd = (
            t.groupBy("src")
            .agg(F.sum("t").cast("double").alias("_den"))
            .join(F.broadcast(wtot.select("src", "w_tot")), "src")
            .select("src", (F.col("w_tot") / F.col("_den")).alias("g"))
        )
        sg = upd.agg(
            F.sum(F.col("g").cast("decimal(27,12)")).cast("double").alias("sg")
        )
        # model-sized per-round lineage cut (the graph-family rule:
        # iterated joins double the plan tree each round otherwise)
        g = (
            upd.crossJoin(F.broadcast(sg))
            .select("src", (F.col("g") / F.col("sg")).alias("g"))
            .localCheckpoint(storageLevel=CKPT_LEVEL)
        )
    return wtot.join(F.broadcast(g), "src").select(
        F.col("src").alias("source"),
        "n_duels",
        "wins",
        F.round("g", 6).alias("rating"),
    )


# ---------------------------------------------------------------------------
# X205 — ANALYZE-style per-column statistics profile
# ---------------------------------------------------------------------------

_STATS_COLS = [
    # (name, kind): kind drives which min/max legs are populated
    ("l_orderkey", "num"),
    ("l_partkey", "num"),
    ("l_suppkey", "num"),
    ("l_linenumber", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_tax", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "ts"),
]


def _stats_oracle() -> str:
    selects = []
    for name, kind in _STATS_COLS:
        if kind == "num":
            vmin = f"ROUND(CAST(MIN({name}) AS DOUBLE), 6)"
            vmax = f"ROUND(CAST(MAX({name}) AS DOUBLE), 6)"
            smin = "CAST(NULL AS VARCHAR)"
            smax = "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            vmin = f"ROUND(EPOCH(MIN({name})), 6)"
            vmax = f"ROUND(EPOCH(MAX({name})), 6)"
            smin = "CAST(NULL AS VARCHAR)"
            smax = "CAST(NULL AS VARCHAR)"
        else:
            vmin = "CAST(NULL AS DOUBLE)"
            vmax = "CAST(NULL AS DOUBLE)"
            smin = f"MIN({name})"
            smax = f"MAX({name})"
        selects.append(
            f"""SELECT '{name}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {name}) AS BIGINT) AS ndv,
           {vmin} AS min_num, {vmax} AS max_num,
           {smin} AS min_str, {smax} AS max_str
    FROM lineitem"""
        )
    return "\n    UNION ALL\n    ".join(selects)


@register(
    "table_column_stats_profile",
    oracle=_stats_oracle(),
    doc="ANALYZE-style per-column statistics over the fact table — one "
    "row per lineitem column with row count, null count, exact NDV, "
    "and type-appropriate min/max (numerics and timestamps as 6-dp "
    "doubles — timestamps via epoch seconds, the no-DATE-output "
    "rule; strings as strings) — the statistics a cost-based "
    "optimizer or a layout planner (z-order column choice, partition "
    "key audit) consumes. Engine plan: one SINGLE-DISTINCT aggregate "
    "per column over a COLUMN-PRUNED scan, unioned — each scan reads "
    "only its own parquet column, so the union's total I/O equals one "
    "full-table pass while every aggregate keeps map-side partials. "
    "The tempting one-pass 11-distinct aggregate is the wrong plan: "
    "Spark expands multi-distinct aggregates ×(n+1), and the measured "
    "cost was 22.8 s vs 2.9 s for this shape at sf0.1 (r8 bench) — "
    "the expand shuffles 12× the table width for zero I/O savings. "
    "At 100 TB the exact COUNT(DISTINCT) legs swap to "
    "approx_count_distinct (HLL — then ONE pass with no expand IS "
    "right, mergeable across partitions), documented here because "
    "exact NDV is what makes the profile hash-checkable cross-engine.",
)
def table_column_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    parts = []
    for name, kind in _STATS_COLS:
        if kind == "num":
            vmin = F.round(F.min(name).cast("double"), 6)
            vmax = F.round(F.max(name).cast("double"), 6)
            smin = F.lit(None).cast("string")
            smax = F.lit(None).cast("string")
        elif kind == "ts":
            # epoch seconds at µs precision (the oracle's EPOCH());
            # NTZ → TZ under the session's pinned UTC
            vmin = F.round(
                F.unix_micros(F.min(name).cast("timestamp")) / F.lit(1000000.0),
                6,
            )
            vmax = F.round(
                F.unix_micros(F.max(name).cast("timestamp")) / F.lit(1000000.0),
                6,
            )
            smin = F.lit(None).cast("string")
            smax = F.lit(None).cast("string")
        else:
            vmin = F.lit(None).cast("double")
            vmax = F.lit(None).cast("double")
            smin = F.min(name)
            smax = F.max(name)
        parts.append(
            li.select(name).agg(
                F.lit(name).alias("col_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                (F.count(F.lit(1)) - F.count(name)).cast("bigint").alias("n_nulls"),
                F.countDistinct(name).cast("bigint").alias("ndv"),
                vmin.alias("min_num"),
                vmax.alias("max_num"),
                smin.alias("min_str"),
                smax.alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
