"""Round-8 second extension wave: resampling inference, sketch
threshold tuning, index-health audits, heterogeneous-effect readouts,
and MOSS-style winnowing fingerprints.

- ``events_poisson_bootstrap_ci`` — the SCALABLE bootstrap: per-replica
  Poisson(1) weights derived from a hash, so the B-fold resample is one
  scan + map-side combine instead of B shuffled resamples.
- ``dedup_lsh_threshold_sweep`` — precision/recall/F1 of the MinHash
  estimate as the verify threshold moves over its own 1/16 grid; the
  operating-curve companion to X203's error histogram.
- ``embedding_lsh_bucket_balance`` — per-table bucket-size audit of the
  Rademacher sign-LSH index (the ANN analogue of
  layout_partition_skew_audit): collision rate predicts the candidate
  equi-join's cost before you run it.
- ``events_uplift_by_decile`` — per-covariate-decile treatment uplift
  (the heterogeneous-effect table next to X207's single CUPED number).
- ``doc_winnowing_fingerprints`` — Schleimer–Wilkerson–Aiken 2003
  winnowing over word 4-gram rolling hashes: guaranteed-detection local
  fingerprints, the plagiarism/contamination primitive that exact-hash
  and MinHash fingerprints both miss.

Shared determinism discipline (registry.py docstring): weights and
counts are exact integers end to end, cross-row float sums pin to
decimal(27,12), continuous outputs round at 6 dp, order statistics are
selected by (value, replica-id) total orders, −0.0 canonicalized via
``+ 0.0`` on rounded differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.registry import register, table

# ---------------------------------------------------------------------------
# X209 — hash-seeded Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

# Cumulative Poisson(1) CDF scaled to 2**60 and floored to integers —
# FIXED constants shared verbatim by engine and oracle (their absolute
# accuracy vs e^-1 is irrelevant; cross-engine identity is everything).
# P(w=6) ≈ 5.9e-4 absorbs the tail.
_POIS_T = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
]
_BOOT_B = 64


def _boot_w_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"CASE {cases} ELSE 6 END"


_BOOT_ORACLE = f"""
    WITH pur AS (
      SELECT event_id, value,
             CAST(('0x' || SUBSTR(MD5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
                  ::BIGINT % 2 AS INTEGER) AS variant
      FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    reps AS (
      SELECT variant, b, CAST(SUM(w) AS BIGINT) AS sw,
             CAST(SUM(CAST(CAST(w AS DOUBLE) * value AS DECIMAL(27,12)))
                  AS DOUBLE) AS swx
      FROM (
        SELECT p.variant, g.b, p.value,
               {_boot_w_sql(
                 "('0x' || SUBSTR(MD5('boot:' || CAST(g.b AS VARCHAR) || ':' "
                 "|| CAST(p.event_id AS VARCHAR)), 1, 15))::BIGINT"
               )} AS w
        FROM pur p CROSS JOIN (SELECT UNNEST(RANGE({_BOOT_B})) AS b) g
      ) GROUP BY 1, 2
    ),
    nn AS (
      SELECT variant, m,
             ROW_NUMBER() OVER (PARTITION BY variant ORDER BY m, b) AS rn,
             COUNT(*) OVER (PARTITION BY variant) AS cnt
      FROM (SELECT variant, b, swx / sw AS m FROM reps WHERE sw > 0)
    ),
    stat AS (
      SELECT variant,
             MAX(CASE WHEN rn = 2 THEN m END) AS lo,
             MAX(CASE WHEN rn = cnt - 1 THEN m END) AS hi,
             CAST(SUM(CAST(m AS DECIMAL(27,12))) AS DOUBLE) AS sm,
             CAST(SUM(CAST(m * m AS DECIMAL(27,12))) AS DOUBLE) AS sm2,
             CAST(COUNT(*) AS BIGINT) AS nb
      FROM nn GROUP BY 1
    ),
    base AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*)
               AS mean_value
      FROM pur GROUP BY 1
    )
    SELECT b.variant, b.n_rows, ROUND(b.mean_value, 6) AS mean_value,
           CASE WHEN s.nb > 1 THEN
             ROUND(SQRT(GREATEST(
               (s.nb * s.sm2 - s.sm * s.sm) / (s.nb * (s.nb - 1.0)), 0.0)), 6)
           END AS boot_se,
           ROUND(s.lo, 6) AS ci_lo, ROUND(s.hi, 6) AS ci_hi
    FROM base b JOIN stat s ON s.variant = b.variant
"""


@register(
    "events_poisson_bootstrap_ci",
    oracle=_BOOT_ORACLE,
    doc="Scalable bootstrap CI for the per-arm purchase-value mean via "
    "hash-seeded Poisson resampling (the streaming/MapReduce bootstrap "
    "of Chamandy et al. 2012): each (row, replica) draws a Poisson(1) "
    "weight by comparing a 60-bit md5 hash of (replica, event_id) "
    "against FIXED integer CDF thresholds — no RNG state, reproducible "
    "on any engine, and the whole B=64 resample is ONE scan with an "
    "in-map ×B expansion collapsed by map-side combine into "
    "|arms|·B partials (a shuffled multinomial resample would need B "
    "passes or a B-fold shuffle). Readout per arm: full-sample mean, "
    "bootstrap SE from decimal-pinned replicate moments, and the "
    "discrete ~2.5/97.5% order statistics of the 64 replicate means "
    "(selected at row_number 2 and cnt−1 of the (mean, replica-id) "
    "total order — an exact, engine-agnostic selection; no "
    "interpolation convention to diverge). Weights are exact integers, "
    "w·value products of identical doubles re-pinned to decimal(27,12) "
    "before every cross-row sum; replica means are exact-decimal "
    "ratios. 100 TB shape: the expansion multiplies scan width, not "
    "shuffle width — the shuffle carries |arms|·B keys.",
)
def events_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.sources.tables import fan_out

    ev = table(spark, sf_dir, "events")
    # fan_out the purchase rows BEFORE the (B+1)-way replica explode:
    # the md5 Poisson weights are compute-dense and otherwise run on
    # the scan's single split (measured: one 4.6 s single-task map at
    # sf0.1). Batch-only: the streaming twin sums the stream unspread.
    return _bootstrap_readout(_boot_replica_sums(fan_out(_boot_purchases(ev))))


def _boot_purchases(ev: DataFrame) -> DataFrame:
    """The bootstrap population: purchase rows with a value, tagged
    with the md5 arm (shared with the streaming twin)."""
    from tfl_realtime_lakehouse_spark.queries.wave8 import _cuped_variant_col

    return ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("event_id", "value", _cuped_variant_col().alias("variant"))


def _boot_replica_sums(pur: DataFrame) -> DataFrame:
    """The (variant, b, sw, swx) replica table: b = −1 is the BASE
    'replica' (w ≡ 1 — its sums are exactly the row count and the exact
    decimal value sum, since 1.0·x = x in IEEE), b = 0…B−1 carry the
    hash-seeded Poisson weights. One aggregation shared by the batch
    query and the streaming twin (streaming/bootstrap.py runs it in
    update mode); its sums are mergeable, so the twin's state is
    bounded at |arms|·(B+1) rows."""
    dec = "decimal(27,12)"
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("boot:"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("event_id").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    w = F.lit(6)
    for k in range(len(_POIS_T) - 1, -1, -1):
        w = F.when(h < _POIS_T[k], k).otherwise(w)
    w = F.when(F.col("b") == -1, F.lit(1)).otherwise(w)
    return (
        pur.withColumn(
            "b", F.explode(F.sequence(F.lit(-1), F.lit(_BOOT_B - 1)))
        )
        .withColumn("w", w)
        .select(
            "variant",
            "b",
            "w",
            (F.col("w").cast("double") * F.col("value")).cast(dec).alias("wx"),
        )
        .groupBy("variant", "b")
        .agg(
            F.sum("w").cast("bigint").alias("sw"),
            F.sum("wx").cast("double").alias("swx"),
        )
    )


def _bootstrap_readout(reps: DataFrame) -> DataFrame:
    """The CI readout over the maintained (variant, b, sw, swx double)
    replica table — shared verbatim by the batch query and the
    streaming twin (streaming/bootstrap.py), the _cuped_readout
    pattern: one function object, so the float tree cannot drift."""
    dec = "decimal(27,12)"
    means = reps.where((F.col("b") >= 0) & (F.col("sw") > 0)).select(
        "variant", "b", (F.col("swx") / F.col("sw")).alias("m")
    )
    win = Window.partitionBy("variant").orderBy("m", "b")
    cw = Window.partitionBy("variant")
    nn = means.select(
        "variant",
        "m",
        F.row_number().over(win).alias("rn"),
        F.count(F.lit(1)).over(cw).alias("cnt"),
    )
    stat = nn.groupBy("variant").agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("cnt") - 1, F.col("m"))).alias("hi"),
        F.sum(F.col("m").cast(dec)).cast("double").alias("sm"),
        F.sum((F.col("m") * F.col("m")).cast(dec)).cast("double").alias("sm2"),
        F.count(F.lit(1)).cast("bigint").alias("nb"),
    )
    base = reps.where(F.col("b") == -1).select(
        "variant",
        F.col("sw").alias("n_rows"),
        (F.col("swx") / F.col("sw")).alias("mean_value"),
    )
    nb = F.col("nb").cast("double")
    se = F.sqrt(
        F.greatest(
            (nb * F.col("sm2") - F.col("sm") * F.col("sm"))
            / (nb * (nb - F.lit(1.0))),
            F.lit(0.0),
        )
    )
    return base.join(stat, "variant").select(
        "variant",
        "n_rows",
        F.round("mean_value", 6).alias("mean_value"),
        F.when(F.col("nb") > 1, F.round(se, 6)).alias("boot_se"),
        F.round("lo", 6).alias("ci_lo"),
        F.round("hi", 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# X210 — MinHash verify-threshold operating curve
# ---------------------------------------------------------------------------


def _sweep_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    from tfl_realtime_lakehouse_spark.queries.wave8 import _minhash_est_jac_sql

    return f"""{_minhash_est_jac_sql(num_hashes, bands)},
    ks AS (SELECT UNNEST(RANGE(4, 15)) AS k)
    SELECT CAST(ks.k AS INTEGER) AS k,
           ROUND(CAST(ks.k AS DOUBLE) / {num_hashes}.0, 6) AS threshold,
           CAST(SUM(CASE WHEN est >= CAST(ks.k AS DOUBLE) / {num_hashes}.0
                          AND jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN est >= CAST(ks.k AS DOUBLE) / {num_hashes}.0
                          AND jac < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN est < CAST(ks.k AS DOUBLE) / {num_hashes}.0
                          AND jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS fn
    FROM p CROSS JOIN ks GROUP BY 1, 2
    """


@register(
    "dedup_lsh_threshold_sweep",
    oracle=_sweep_oracle(16, 4),
    doc="Operating curve for the MinHash verify threshold: over every "
    "LSH candidate pair, TP/FP/FN of 'estimate ≥ k/16' against the "
    "exact-Jaccard ≥ 0.5 label, for every k on the estimator's own "
    "1/16 grid (k = 4…14) — the table a curation team reads to place "
    "the dedup threshold (X203 shows the error DISTRIBUTION, this "
    "shows the DECISION consequences; X117 covers the banding's "
    "recall, so FN here is candidates-only by construction). Both the "
    "estimate (exact binary multiples of 1/16) and the grid points "
    "(k/16.0) are exactly representable doubles, so every comparison "
    "is engine-stable; counts are exact integers via the same "
    "weighted contraction X203 verified (rep-pair weight mA·mB, "
    "integer DIV-2 diagonal at est = jac = 1). Scale shape: the pair "
    "enumeration is the verified bucketed LSH plan; the sweep itself "
    "is a ×11 in-map expansion collapsed by map-side combine into 11 "
    "rows — precision/recall/F1 left to the consumer to avoid "
    "float-ratio output drift on zero denominators.",
)
def dedup_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.queries.wave8 import _minhash_est_jac_pairs

    num_hashes = 16
    pairs = _minhash_est_jac_pairs(spark, sf_dir, num_hashes=num_hashes)
    ks = F.explode(F.sequence(F.lit(4), F.lit(14))).alias("k")
    t = F.col("k").cast("double") / F.lit(float(num_hashes))
    return (
        pairs.select("est", "jac", "w", ks)
        .groupBy("k")
        .agg(
            F.sum(
                F.when((F.col("est") >= t) & (F.col("jac") >= 0.5), F.col("w"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("tp"),
            F.sum(
                F.when((F.col("est") >= t) & (F.col("jac") < 0.5), F.col("w"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("fp"),
            F.sum(
                F.when((F.col("est") < t) & (F.col("jac") >= 0.5), F.col("w"))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("fn"),
        )
        .select(
            F.col("k").cast("int").alias("k"),
            F.round(F.col("k").cast("double") / F.lit(float(num_hashes)), 6)
            .alias("threshold"),
            "tp",
            "fp",
            "fn",
        )
    )


# ---------------------------------------------------------------------------
# X211 — sign-LSH bucket-balance audit (ANN index health)
# ---------------------------------------------------------------------------


def _bucket_balance_oracle(tables: int = 16, bits: int = 8) -> str:
    from tfl_realtime_lakehouse_spark.queries.vector_queries import (
        _rademacher_codes_sql,
    )

    return f"""
    WITH sample AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
    codes AS MATERIALIZED (
      {_rademacher_codes_sql(tables, bits, 64)}
    ),
    bkt AS (
      SELECT tbl, code, CAST(COUNT(*) AS BIGINT) AS n
      FROM codes GROUP BY 1, 2
    )
    SELECT tbl,
           CAST(SUM(n) AS BIGINT) AS n_vecs,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           ROUND(CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
             AS top1_share,
           CASE WHEN SUM(n) > 1 THEN
             ROUND(CAST(SUM(CAST(n AS DECIMAL(19,0))
                            * CAST(n - 1 AS DECIMAL(19,0))) AS DOUBLE)
                   / (CAST(SUM(n) AS DOUBLE)
                      * (CAST(SUM(n) AS DOUBLE) - 1.0)),
                   6)
           END AS collision_rate
    FROM bkt GROUP BY 1
    """


@register(
    "embedding_lsh_bucket_balance",
    oracle=_bucket_balance_oracle(16, 8),
    doc="Index-health audit for the Rademacher sign-LSH tier (the ANN "
    "analogue of layout_partition_skew_audit): per hash table, bucket "
    "count, max bucket, top-1 share, and the pairwise collision rate "
    "Σn(n−1) / N(N−1) — the exact expected density of the candidate "
    "equi-join, i.e. THE number that predicts the LSH join's cost "
    "before running it (a table whose collision rate approaches 1 "
    "has degenerated to all-pairs; re-draw planes or add bits). Runs "
    "on the code frame alone — one map-only BLAS code pass + one "
    "groupBy per (table, code), never touching pairs — so the audit "
    "is corpus-linear even when the join it predicts would not be. "
    "All counts exact integers; the two ratios are single double "
    "divisions of identical integers, rounded at 6 dp. Σn(n−1) is "
    "accumulated as DECIMAL(38,0) on BOTH engines (exact and "
    "order-independent to 10^38, far past any bucket count a 100 TB "
    "corpus can produce), and the ratio is NULL-guarded for the "
    "degenerate single-vector table so neither engine emits NaN.",
)
def embedding_lsh_bucket_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.similarity import rademacher_codes

    emb = table(spark, sf_dir, "embeddings")
    codes = rademacher_codes(emb, tables=16, bits=8)
    bkt = codes.groupBy("tbl", "code").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    nsum = F.sum("n").cast("bigint")
    nd = nsum.cast("double")
    # Σn(n−1) in decimal(38,0): exact + order-independent (unlike a double
    # accumulator), no bigint overflow until 10^38; NULL-guarded when the
    # table holds a single vector (N(N−1) = 0 would be NaN on Spark and
    # ieee_floating_point_ops-dependent on DuckDB).
    pair_sum = F.sum(
        F.col("n").cast("decimal(19,0)")
        * (F.col("n") - F.lit(1)).cast("decimal(19,0)")
    )
    return bkt.groupBy("tbl").agg(
        nsum.alias("n_vecs"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.round(F.max("n").cast("double") / nd, 6).alias("top1_share"),
        F.when(
            nsum > 1,
            F.round(pair_sum.cast("double") / (nd * (nd - F.lit(1.0))), 6),
        ).alias("collision_rate"),
    )


# ---------------------------------------------------------------------------
# X212 — treatment uplift by pre-exposure-covariate decile
# ---------------------------------------------------------------------------

_UPLIFT_ORACLE = """
    WITH per_user AS (
      SELECT user_id,
             CAST(('0x' || SUBSTR(MD5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
                  ::BIGINT % 2 AS INTEGER) AS variant,
             CAST(COALESCE(SUM(CASE WHEN event_type IN ('view', 'click')
                        THEN CAST(value AS DECIMAL(27,12)) END), 0) AS DOUBLE)
               AS x,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(value AS DECIMAL(27,12)) END), 0) AS DOUBLE)
               AS y
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT variant, y,
             CAST(NTILE(10) OVER (ORDER BY x, user_id) AS INTEGER) AS decile
      FROM per_user
    ),
    g AS (
      SELECT decile,
             CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN variant = 0
                      THEN CAST(y AS DECIMAL(27,12)) END) AS DOUBLE) AS sy0,
             CAST(SUM(CASE WHEN variant = 1
                      THEN CAST(y AS DECIMAL(27,12)) END) AS DOUBLE) AS sy1
      FROM d GROUP BY 1
    )
    SELECT decile, n0, n1,
           CASE WHEN n0 > 0 THEN ROUND(sy0 / n0, 6) END AS mean_y0,
           CASE WHEN n1 > 0 THEN ROUND(sy1 / n1, 6) END AS mean_y1,
           CASE WHEN n0 > 0 AND n1 > 0
                THEN ROUND(sy1 / n1 - sy0 / n0, 6) + 0.0 END AS uplift
    FROM g
"""


@register(
    "events_uplift_by_decile",
    oracle=_UPLIFT_ORACLE,
    doc="Heterogeneous treatment effect by pre-exposure engagement "
    "decile: users ranked by the CUPED covariate x (view+click value; "
    "(x, user_id) total order makes NTILE deterministic — the ANSI "
    "first-r-buckets-get-one-extra rule is engine-identical), then "
    "per (decile, arm) user counts and decimal-exact metric means, "
    "and the per-decile uplift ȳ₁ − ȳ₀ — the table that answers "
    "'does the treatment only move already-engaged users?', the "
    "standard readout next to the experiment's single X207 number. "
    "NULL-guarded identically when a decile lacks an arm; −0.0 "
    "canonicalized. Scale: the ntile is a global sort of the "
    "AGGREGATED per-user frame (O(users), not O(events)); at 100 TB "
    "swap the exact ntile for percentile_approx boundaries over x — "
    "same output schema, documented here because the exact rank is "
    "what the cross-engine hash requires.",
)
def events_uplift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.queries.wave8 import _cuped_per_user

    return _uplift_decile_readout(
        _cuped_per_user(table(spark, sf_dir, "events"))
    )


def _uplift_decile_readout(per_user: DataFrame) -> DataFrame:
    """Uplift-by-decile downstream shared verbatim by the batch query
    and the streaming twin (streaming/uplift.py): takes the per-user
    frame (user_id, variant int, x double, y double) and produces the
    decile table. Single function object = the twin's bit-for-bit
    claim is structural (the X207/_cuped_readout discipline)."""
    dec = "decimal(27,12)"
    # DELIBERATE single-partition exchange: ntile over an unpartitioned
    # Window globally sorts the per-user frame on ONE task. The frame is
    # the AGGREGATED per-user table (one row per experiment user — ~1e6
    # rows/GB-scale at 100 TB of events, not O(events)), so the exchange
    # is bounded by experiment population, and the exact ANSI ntile is
    # what the cross-engine hash requires. The 100 TB escape hatch
    # (documented in the registry doc) is percentile_approx boundaries
    # over x — same schema, no global sort.
    d = per_user.select(
        "variant",
        "y",
        F.ntile(10).over(Window.orderBy("x", "user_id")).alias("decile"),
    )
    g = d.groupBy("decile").agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("y").cast(dec)))
        .cast("double")
        .alias("sy0"),
        F.sum(F.when(F.col("variant") == 1, F.col("y").cast(dec)))
        .cast("double")
        .alias("sy1"),
    )
    m0 = F.col("sy0") / F.col("n0")
    m1 = F.col("sy1") / F.col("n1")
    return g.select(
        "decile",
        "n0",
        "n1",
        F.when(F.col("n0") > 0, F.round(m0, 6)).alias("mean_y0"),
        F.when(F.col("n1") > 0, F.round(m1, 6)).alias("mean_y1"),
        F.when(
            (F.col("n0") > 0) & (F.col("n1") > 0),
            F.round(m1 - m0, 6) + F.lit(0.0),
        ).alias("uplift"),
    )


# ---------------------------------------------------------------------------
# X213 — winnowing document fingerprints (Schleimer et al. 2003)
# ---------------------------------------------------------------------------

_WINNOW_K = 4  # words per k-gram
_WINNOW_W = 4  # k-gram hashes per winnowing window

_WINNOW_ORACLE = f"""
    WITH nn AS (
      SELECT doc_id, MD5(text) AS pk FROM documents WHERE text IS NOT NULL
    ),
    reps AS (
      SELECT MD5(text) AS pk, MIN(text) AS text
      FROM documents WHERE text IS NOT NULL GROUP BY 1
    ),
    f AS (
      SELECT pk, STRING_SPLIT(text, ' ') AS words,
             LEN(STRING_SPLIT(text, ' ')) AS nw
      FROM reps
    ),
    hh AS (
      SELECT pk, nw,
             CASE WHEN nw >= {_WINNOW_K} THEN
               LIST_TRANSFORM(RANGE(1, nw - {_WINNOW_K - 2}),
                 i -> ('0x' || SUBSTR(MD5(ARRAY_TO_STRING(
                        words[i:i+{_WINNOW_K - 1}], ' ')), 1, 8))::BIGINT)
             END AS h
      FROM f
    ),
    sel AS (
      SELECT pk, nw,
             CASE WHEN nw >= {_WINNOW_K} THEN
               LIST_SORT(LIST_DISTINCT(
                 LIST_TRANSFORM(
                   RANGE(1, GREATEST(1, nw - {_WINNOW_K - 1} - {_WINNOW_W - 1}) + 1),
                   j -> LIST_MIN(h[j:j+{_WINNOW_W - 1}]))))
             END AS fp
      FROM hh
    )
    SELECT nn.doc_id,
           CAST(CASE WHEN s.nw >= {_WINNOW_K}
                     THEN s.nw - {_WINNOW_K - 1} ELSE 0 END AS BIGINT)
             AS n_kgrams,
           CAST(COALESCE(LEN(s.fp), 0) AS BIGINT) AS n_fingerprints,
           CASE WHEN s.fp IS NOT NULL
                THEN MD5(ARRAY_TO_STRING(s.fp, ',')) END AS fp_digest
    FROM nn JOIN sel s ON s.pk = nn.pk
"""


@register(
    "doc_winnowing_fingerprints",
    oracle=_WINNOW_ORACLE,
    doc="Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, the "
    "MOSS algorithm): word 4-gram rolling hashes, then the minimum "
    "hash of every window of 4 consecutive k-gram hashes, "
    "deduplicated — guarantees any shared passage of ≥ k+w−1 = 7 "
    "words contributes a common fingerprint, the LOCAL-match "
    "detection that whole-doc digests (doc_fingerprint) and "
    "set-similarity sketches (MinHash) both miss; the "
    "plagiarism/contamination primitive. Emits per doc the k-gram "
    "count, selected-fingerprint count, and an md5 digest of the "
    "sorted fingerprint list (join fingerprints via the posting-list "
    "pattern of text_crossdoc_span_dedup when pairs are wanted). "
    "CONTENT-CONTRACTED: fingerprints are content-pure, so the HOF "
    "pipeline runs once per distinct text and joins back by content "
    "key (the doc_rolling_hash pattern). Whole-stage-codegen "
    "higher-order functions, zero Python, map-only except the "
    "contraction groupBy; docs with < 4 words emit (0, 0, NULL) "
    "identically on both engines.",
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The obvious all-HOF form (transform over windows of a transform'd
    # hash array) re-inlines the k-gram-hash array into EVERY window
    # lambda — Catalyst does not CSE across lambda functions, so each
    # doc recomputed all n md5s per window: O(n²) hashing, measured
    # 87 s at sf0.1. The committed shape hashes each k-gram ONCE
    # (posexplode posting rows) and takes the sliding minimum with a
    # rows-between window — linear work, one _pk-partitioned shuffle
    # reused by the fingerprint-set aggregation.
    from tfl_realtime_lakehouse_spark.sources.tables import keyed_spread

    k, w = _WINNOW_K, _WINNOW_W
    docs = table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    keyed = docs.select("doc_id", F.md5("text").alias("_pk"))
    # keyed_spread pins the k-gram md5 map + sliding-min window at
    # cluster parallelism: the contraction groupBy's output is
    # byte-light (~1 MB at sf0.1), so AQE coalesces it to 1-2 tasks
    # and the whole compute-dense HOF pipeline serialized (measured
    # 3.7 s vs 0.9 s warm). The window/groupBy/join downstream all key
    # on _pk, so they reuse this partitioning with no new exchange.
    reps = keyed_spread(
        docs.groupBy(F.md5("text").alias("_pk")).agg(
            F.min("text").alias("text")
        ),
        "_pk",
    )
    words = F.split("text", " ")
    nw = F.size(words)
    kgram_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.array_join(F.slice(words, i, k), " ")), 1, 8),
        16,
        10,
    ).cast("bigint")
    h = F.when(
        nw >= k, F.transform(F.sequence(F.lit(1), nw - (k - 1)), kgram_hash)
    ).otherwise(F.array().cast("array<bigint>"))
    base = reps.select("_pk", nw.alias("nw"))
    hx = reps.select(
        "_pk",
        (nw - (k - 1)).alias("nk"),
        F.posexplode(h).alias("pos", "hv"),
    )
    wm = Window.partitionBy("_pk").orderBy("pos").rowsBetween(0, w - 1)
    mins = hx.select(
        "_pk",
        "pos",
        "nk",
        F.min("hv").over(wm).alias("mn"),
    ).where(F.col("pos") <= F.greatest(F.lit(0), F.col("nk") - w))
    fps = mins.groupBy("_pk").agg(
        F.array_sort(F.collect_set("mn")).alias("fp")
    )
    per_text = base.join(fps, "_pk", "left").select(
        "_pk",
        F.when(F.col("nw") >= k, (F.col("nw") - (k - 1)).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        .alias("n_kgrams"),
        "fp",
    )
    return keyed.join(per_text, "_pk").select(
        "doc_id",
        "n_kgrams",
        # size(NULL) is -1 in Spark (legacy sizeOfNull), so the empty
        # case must branch on the array itself, like the oracle's
        # COALESCE(LEN(fp), 0)
        F.when(F.col("fp").isNotNull(), F.size("fp"))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("n_fingerprints"),
        F.when(
            F.col("fp").isNotNull(),
            F.md5(
                F.array_join(
                    F.transform(F.col("fp"), lambda v: v.cast("string")), ","
                )
            ),
        ).alias("fp_digest"),
    )
