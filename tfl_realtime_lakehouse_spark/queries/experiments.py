"""Experiment readouts: the A/B-test query family and the pieces its
streaming twins share.

Every query here splits users into two arms by :func:`arm_col` (the md5
of ``'ab:' || user_id``, reproducible on any engine with no assignment
store), folds the events into a keyed table of exact partial sums, and
reads the answer off that table with one readout function:

- ``events_abtest_lift``: per-arm conversion rates, relative lift and
  the pooled two-proportion z (:func:`lift_readout`);
- ``events_abtest_cuped``: CUPED variance-reduced per-arm means
  (:func:`cuped_readout`);
- ``events_uplift_by_decile``: treatment uplift per covariate decile
  (:func:`uplift_decile_readout`);
- ``events_poisson_bootstrap_ci``: hash-seeded Poisson-bootstrap CIs
  (:func:`bootstrap_readout` over :func:`boot_replica_sums`);
- ``events_srm_check``: the sample-ratio-mismatch gate
  (:func:`srm_readout`);
- ``events_did_estimator``: difference-in-differences
  (:func:`did_readout` over :func:`did_per_user_frame`).

The keyed tables (:func:`per_user_frame`, :func:`did_per_user_frame`,
:func:`boot_replica_sums`) hold only sums and counts, so Structured
Streaming maintains them as native update-mode aggregates over an
events stream: run the builder on the stream, keep the latest row per
key, and call the same readout the batch query calls. Sums of exact
decimals and integers are order-free, so after any prefix of
micro-batches the stream's readout equals the batch query over the rows
of that prefix. The lift, CUPED, uplift and SRM readouts all read the
one per-user table.

Empty arms follow the oracles: an arm with no users counts NULL, not 0,
so every figure that divides by it is NULL too.

Shared determinism discipline (registry.py docstring): cross-row sums
pin to decimal(27,12) or stay integer, continuous outputs round at
6 dp, and rounded differences carry ``+ 0.0`` so −0.0 never escapes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.registry import register, table
from tfl_realtime_lakehouse_spark.sources.tables import fan_out

_DEC = "decimal(27,12)"


def arm_col() -> Column:
    """The deterministic md5 arm assignment every A/B query and its
    oracle share: the first 15 hex digits of ``md5('ab:' || user_id)``
    as a bigint, mod 2."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    ).cast("int")


def _arm_sum(v: int, value: Column | None = None) -> Column:
    """Sum of ``value`` (default: 1 per row) over the rows of arm ``v``;
    NULL when the arm has no rows, as the oracles' per-arm pivots give."""
    return F.sum(F.when(F.col("variant") == v, F.lit(1) if value is None else value))


def per_user_frame(events: DataFrame) -> DataFrame:
    """One (user_id, variant, x, y, np) row per user with any event:
    exact decimal sums of the pre-exposure covariate x (view+click
    value) and the metric y (purchase value), COALESCE'd to 0, and np,
    the purchase-event count (a NULL-value purchase still converts the
    user). The lift, CUPED, uplift and SRM readouts read it; a readout
    that does not read a column gets it pruned from its plan."""
    return events.groupBy("user_id", arm_col().alias("variant")).agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type").isin("view", "click"),
                    F.col("value").cast(_DEC),
                )
            ),
            F.lit(0).cast(_DEC),
        )
        .cast("double")
        .alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", F.col("value").cast(_DEC)
                )
            ),
            F.lit(0).cast(_DEC),
        )
        .cast("double")
        .alias("y"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("np"),
    )


# ---------------------------------------------------------------------------
# A/B conversion lift
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
    WITH assign AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || SUBSTR(MD5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
                  ::BIGINT % 2 AS INTEGER) AS variant
      FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    arms AS (
      SELECT a.variant,
             COUNT(*) AS n_users,
             SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS n_conv
      FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
      GROUP BY 1
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN variant = 0 THEN n_users END) AS na,
        MAX(CASE WHEN variant = 0 THEN n_conv END) AS ca,
        MAX(CASE WHEN variant = 1 THEN n_users END) AS nb,
        MAX(CASE WHEN variant = 1 THEN n_conv END) AS cb
      FROM arms
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
           CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
           ROUND(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 6) AS rate_a,
           ROUND(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS rate_b,
           ROUND(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
                 / (CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)) - 1.0::DOUBLE, 6)
             AS lift,
           CASE WHEN ca + cb > 0 AND ca + cb < na + nb THEN
             ROUND((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE)
                    - CAST(ca AS DOUBLE) / CAST(na AS DOUBLE))
                   / SQRT((CAST(ca + cb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                          * (1.0::DOUBLE - CAST(ca + cb AS DOUBLE)
                                           / CAST(na + nb AS DOUBLE))
                          * (1.0::DOUBLE / CAST(na AS DOUBLE)
                             + 1.0::DOUBLE / CAST(nb AS DOUBLE))), 6)
           END AS z_score
    FROM wide
    """

@register(
    "events_abtest_lift",
    oracle=_LIFT_ORACLE,
    doc="A/B test lift analysis: users assign deterministically to two "
    "arms by the md5 hash family (content-addressed — the same "
    "assignment the mixture/split samplers use, reproducible with no "
    "experiment-state store), conversion = any purchase; the report "
    "is per-arm rates, relative lift, and the pooled two-proportion "
    "z statistic — the experimentation readout next to the Wilson CI "
    "query (X-family: Wilson = one-arm interval, this = two-arm "
    "comparison). One per-user aggregate (the shared per-user frame, "
    "pruned to its arm and purchase count) and a one-row fold; all the "
    "float arithmetic runs once on the 1-row summary with identical "
    "trees, rounded at 6 dp.",
)
def events_abtest_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lift_readout(per_user_frame(table(spark, sf_dir, "events")))


def lift_readout(per_user: DataFrame) -> DataFrame:
    """Per-user rows (variant, np) → the one-row 8-column report:
    per-arm user and converter counts (conv = np > 0), rates, relative
    lift and the pooled two-proportion z."""
    conv = (F.col("np") > 0).cast("int")
    wide = per_user.agg(
        _arm_sum(0).alias("na"),
        _arm_sum(0, conv).alias("ca"),
        _arm_sum(1).alias("nb"),
        _arm_sum(1, conv).alias("cb"),
    )
    na, ca = F.col("na").cast("double"), F.col("ca").cast("double")
    nb, cb = F.col("nb").cast("double"), F.col("cb").cast("double")
    pooled = (ca + cb) / (na + nb)
    return wide.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("ca").cast("bigint").alias("conv_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("cb").cast("bigint").alias("conv_b"),
        F.round(ca / na, 6).alias("rate_a"),
        F.round(cb / nb, 6).alias("rate_b"),
        F.round(cb / nb / (ca / na) - F.lit(1.0), 6).alias("lift"),
        # degenerate arms (0% or 100% pooled conversion) have zero pooled
        # variance — z undefined, NULL on both engines (ANSI-safe)
        F.when(
            (F.col("ca") + F.col("cb") > 0)
            & (F.col("ca") + F.col("cb") < F.col("na") + F.col("nb")),
            F.round(
                (cb / nb - ca / na)
                / F.sqrt(
                    pooled
                    * (F.lit(1.0) - pooled)
                    * (F.lit(1.0) / na + F.lit(1.0) / nb)
                ),
                6,
            ),
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------

_CUPED_ORACLE = """
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
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(27,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(27,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(27,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(27,12))) AS DOUBLE) AS syy
      FROM per_user
    ),
    th AS (
      SELECT n, sx / n AS mx,
             CASE WHEN n * sxx - sx * sx > 0.0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS theta,
             CASE WHEN n * sxx - sx * sx > 0.0 AND n * syy - sy * sy > 0.0
                  THEN ((n * sxy - sx * sy) * (n * sxy - sx * sy))
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy)) END
               AS rho2
      FROM mom
    ),
    arms AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CAST(x AS DECIMAL(27,12))) AS DOUBLE) AS sxv,
             CAST(SUM(CAST(y AS DECIMAL(27,12))) AS DOUBLE) AS syv
      FROM per_user GROUP BY 1
    )
    SELECT a.variant, a.n_users,
           ROUND(a.syv / a.n_users, 6) AS mean_metric,
           ROUND(a.syv / a.n_users
                 - t.theta * (a.sxv / a.n_users - t.mx), 6) + 0.0
             AS mean_cuped,
           ROUND(t.theta, 6) + 0.0 AS theta,
           ROUND(t.rho2, 6) AS rho2
    FROM arms a CROSS JOIN th t
"""


@register(
    "events_abtest_cuped",
    oracle=_CUPED_ORACLE,
    doc="CUPED variance-reduced A/B readout (Deng et al. 2013): per "
    "deterministic md5 arm (the events_abtest_lift assignment), the "
    "per-user purchase-value metric y adjusted by the pre-exposure "
    "engagement covariate x (view+click value) — mean_cuped = ȳ_v − "
    "θ·(x̄_v − x̄), θ = cov(x,y)/var(x) pooled across arms, and ρ² (the "
    "fraction of metric variance the covariate removes — the whole "
    "point of CUPED: the same experiment detects ~1/(1−ρ²)× smaller "
    "effects). Scale shape: one scan → per-user conditional "
    "decimal-exact sums (users without either event type coalesce to "
    "0 on both engines), one 5-moment global fold + one per-arm fold "
    "— the covariance never materializes pairs. Determinism: "
    "per-user sums pin to decimal(27,12); the per-user products x·y, "
    "x², y² are products of identical doubles re-pinned to "
    "decimal(27,12) before the cross-user sum; θ/ρ² are scalar double "
    "ops on the 1-row moment frame, guarded NULL when var(x) (or "
    "var(y)) is exactly zero — a deterministic comparison of "
    "identical doubles; mean_cuped and θ carry +0.0 (the −0.0 "
    "canonicalization rule for rounded differences).",
)
def events_abtest_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cuped_readout(per_user_frame(table(spark, sf_dir, "events")))


def cuped_readout(per_user: DataFrame) -> DataFrame:
    """Per-user rows (variant, x, y) → the per-arm 6-column CUPED
    readout: pooled moments give θ and ρ², per-arm sums the adjusted
    means."""
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(_DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(_DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(_DEC)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(_DEC)).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    covn = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varxn = n * F.col("sxx") - F.col("sx") * F.col("sx")
    varyn = n * F.col("syy") - F.col("sy") * F.col("sy")
    th = mom.select(
        (F.col("sx") / n).alias("mx"),
        F.when(varxn > 0.0, covn / varxn).alias("theta"),
        F.when((varxn > 0.0) & (varyn > 0.0), covn * covn / (varxn * varyn)).alias(
            "rho2"
        ),
    )
    arms = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("x").cast(_DEC)).cast("double").alias("sxv"),
        F.sum(F.col("y").cast(_DEC)).cast("double").alias("syv"),
    )
    nu = F.col("n_users").cast("double")
    return arms.crossJoin(F.broadcast(th)).select(
        "variant",
        "n_users",
        F.round(F.col("syv") / nu, 6).alias("mean_metric"),
        (
            F.round(
                F.col("syv") / nu
                - F.col("theta") * (F.col("sxv") / nu - F.col("mx")),
                6,
            )
            + F.lit(0.0)
        ).alias("mean_cuped"),
        (F.round("theta", 6) + F.lit(0.0)).alias("theta"),
        F.round("rho2", 6).alias("rho2"),
    )


# ---------------------------------------------------------------------------
# Treatment uplift by pre-exposure-covariate decile
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
    return uplift_decile_readout(per_user_frame(table(spark, sf_dir, "events")))


def uplift_decile_readout(per_user: DataFrame) -> DataFrame:
    """Per-user rows (user_id, variant, x, y) → the decile table."""
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
        _arm_sum(0, F.col("y").cast(_DEC)).cast("double").alias("sy0"),
        _arm_sum(1, F.col("y").cast(_DEC)).cast("double").alias("sy1"),
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
# Hash-seeded Poisson-bootstrap confidence intervals
# ---------------------------------------------------------------------------

# Cumulative Poisson(1) CDF scaled to 2**60 and floored to integers —
# FIXED constants shared verbatim by engine and oracle (their absolute
# accuracy vs e^-1 is irrelevant; cross-engine identity is everything).
# P(w=6) ≈ 5.9e-4 absorbs the tail.
POIS_T = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
]
BOOT_B = 64


def _boot_w_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < {t} THEN {k}" for k, t in enumerate(POIS_T)
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
        FROM pur p CROSS JOIN (SELECT UNNEST(RANGE({BOOT_B})) AS b) g
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
    ev = table(spark, sf_dir, "events")
    # fan_out the purchase rows BEFORE the (B+1)-way replica explode:
    # the md5 Poisson weights are compute-dense and otherwise run on
    # the scan's single split (measured: one 4.6 s single-task map at
    # sf0.1). Batch-only: a stream sums its micro-batches unspread.
    return bootstrap_readout(boot_replica_sums(fan_out(boot_purchases(ev))))


def boot_purchases(events: DataFrame) -> DataFrame:
    """The bootstrap population: purchase rows with a value, tagged
    with the md5 arm."""
    return events.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("event_id", "value", arm_col().alias("variant"))


def boot_replica_sums(purchases: DataFrame) -> DataFrame:
    """The (variant, b, sw, swx) replica table: b = −1 is the BASE
    'replica' (w ≡ 1 — its sums are exactly the row count and the exact
    decimal value sum, since 1.0·x = x in IEEE), b = 0…B−1 carry the
    hash-seeded Poisson weights. Its sums are mergeable, so a stream
    keeps at most |arms|·(B+1) rows of state."""
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
    for k in range(len(POIS_T) - 1, -1, -1):
        w = F.when(h < POIS_T[k], k).otherwise(w)
    w = F.when(F.col("b") == -1, F.lit(1)).otherwise(w)
    return (
        purchases.withColumn(
            "b", F.explode(F.sequence(F.lit(-1), F.lit(BOOT_B - 1)))
        )
        .withColumn("w", w)
        .select(
            "variant",
            "b",
            "w",
            (F.col("w").cast("double") * F.col("value")).cast(_DEC).alias("wx"),
        )
        .groupBy("variant", "b")
        .agg(
            F.sum("w").cast("bigint").alias("sw"),
            F.sum("wx").cast("double").alias("swx"),
        )
    )


def bootstrap_readout(reps: DataFrame) -> DataFrame:
    """Replica rows (variant, b, sw, swx) → the per-arm CI readout."""
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
        F.sum(F.col("m").cast(_DEC)).cast("double").alias("sm"),
        F.sum((F.col("m") * F.col("m")).cast(_DEC)).cast("double").alias("sm2"),
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
# Sample-ratio-mismatch check (the experiment validity gate)
# ---------------------------------------------------------------------------

_SRM_ORACLE = """
    WITH assign AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || SUBSTR(MD5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
                  ::BIGINT % 2 AS INTEGER) AS variant
      FROM events
    ),
    arms AS (SELECT variant, COUNT(*) AS n FROM assign GROUP BY 1),
    wide AS (
      SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n0,
             MAX(CASE WHEN variant = 1 THEN n END) AS n1
      FROM arms
    )
    SELECT CAST(n0 AS BIGINT) AS n_ctl, CAST(n1 AS BIGINT) AS n_trt,
           ROUND(CAST(n1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE), 6)
             AS trt_share,
           ROUND(CAST((n1 - n0) * (n1 - n0) AS DOUBLE)
                 / CAST(n0 + n1 AS DOUBLE), 6) AS chi2,
           CAST((n1 - n0) * (n1 - n0) AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
             > 3.8414588206941236 AS srm_flag
    FROM wide
"""


@register(
    "events_srm_check",
    oracle=_SRM_ORACLE,
    doc="Sample-ratio-mismatch check — the experiment validity gate "
    "that must pass BEFORE any lift/CUPED/uplift readout is trusted "
    "(a biased assignment or logging loss invalidates them all; "
    "Fabijan et al. 2019 report ~6 % of experiments trip it). For the "
    "50/50 md5 assignment: per-arm user counts, treatment share, the "
    "1-dof chi-square statistic — which algebraically reduces to "
    "(n1−n0)²/(n0+n1), exact bigint arithmetic until ONE double "
    "division — and the flag against the χ²₁ 95th percentile. "
    "Completes the experimentation family (lift → CUPED → uplift "
    "deciles → bootstrap CI → SRM gate). Scale: one distinct-user "
    "shuffle + a one-row fold; the statistic is O(1) driver-free math.",
)
def events_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the distinct users, not the per-user frame: the arm's md5 then
    # runs once per user instead of once per event
    users = table(spark, sf_dir, "events").select("user_id").distinct()
    return srm_readout(users.select(arm_col().alias("variant")))


def srm_readout(per_user: DataFrame) -> DataFrame:
    """Per-user rows (variant) → the one-row 5-column gate: per-arm
    user counts, treatment share, χ² and the 95 % flag."""
    wide = per_user.agg(_arm_sum(0).alias("n0"), _arm_sum(1).alias("n1"))
    tot = (F.col("n0") + F.col("n1")).cast("double")
    diff2 = ((F.col("n1") - F.col("n0")) * (F.col("n1") - F.col("n0"))).cast(
        "double"
    )
    return wide.select(
        F.col("n0").cast("bigint").alias("n_ctl"),
        F.col("n1").cast("bigint").alias("n_trt"),
        F.round(F.col("n1").cast("double") / tot, 6).alias("trt_share"),
        F.round(diff2 / tot, 6).alias("chi2"),
        (diff2 / tot > F.lit(3.8414588206941236)).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences (pre/post × control/treatment)
# ---------------------------------------------------------------------------

_DID_CUT = "2024-01-16"


def _did_oracle(cut: str = _DID_CUT) -> str:
    return f"""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || SUBSTR(MD5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
                  ::BIGINT % 2 AS INTEGER) AS variant
      FROM events
    ),
    arms AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n FROM assign GROUP BY 1),
    cell AS (
      SELECT CAST(('0x' || SUBSTR(MD5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))
                  ::BIGINT % 2 AS INTEGER) AS variant,
             (ts >= TIMESTAMP '{cut}') AS post,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(27,12)) END) AS sy
      FROM events GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        (SELECT n FROM arms WHERE variant = 0) AS n0,
        (SELECT n FROM arms WHERE variant = 1) AS n1,
        COALESCE(MAX(CASE WHEN variant = 0 AND NOT post THEN sy END), 0) AS s0pre,
        COALESCE(MAX(CASE WHEN variant = 0 AND post THEN sy END), 0) AS s0post,
        COALESCE(MAX(CASE WHEN variant = 1 AND NOT post THEN sy END), 0) AS s1pre,
        COALESCE(MAX(CASE WHEN variant = 1 AND post THEN sy END), 0) AS s1post
      FROM cell
    )
    SELECT CAST(n0 AS BIGINT) AS n_ctl, CAST(n1 AS BIGINT) AS n_trt,
           ROUND(CAST(s0pre AS DOUBLE) / n0, 6) AS pre_ctl,
           ROUND(CAST(s0post AS DOUBLE) / n0, 6) AS post_ctl,
           ROUND(CAST(s1pre AS DOUBLE) / n1, 6) AS pre_trt,
           ROUND(CAST(s1post AS DOUBLE) / n1, 6) AS post_trt,
           ROUND((CAST(s1post AS DOUBLE) / n1 - CAST(s1pre AS DOUBLE) / n1)
                 - (CAST(s0post AS DOUBLE) / n0 - CAST(s0pre AS DOUBLE) / n0),
                 6) + 0.0 AS did
    FROM wide
"""


@register(
    "events_did_estimator",
    oracle=_did_oracle(),
    doc="Difference-in-differences estimator over the event window "
    "split at 2024-01-16 (the corpus midpoint): per (arm, period) "
    "mean purchase value per assigned user — the four decimal-exact "
    "cell sums divided by the FIXED per-arm user counts, so a user "
    "inactive in a period contributes 0 exactly like the COALESCE'd "
    "per-user frame — and DiD = (trt_post − trt_pre) − (ctl_post − "
    "ctl_pre): the causal readout when assignment predates the cut "
    "and parallel trends hold (the panel-data standard; Card & "
    "Krueger 1994). Completes the experimentation family next to "
    "lift/CUPED/uplift/bootstrap/SRM. Determinism: cell sums pin to "
    "decimal(27,12) before crossing rows; each mean is one double "
    "division; did rounds once at 6 dp with −0.0 canonicalized. "
    "Scale: ONE events scan into a per-user (y_pre, y_post) aggregate, "
    "then a one-row fold of the four cell sums and the per-arm user "
    "counts.",
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    return did_readout(did_per_user_frame(table(spark, sf_dir, "events")))


_DID_SUM = "decimal(37,12)"  # SUM(decimal(27,12))


def did_per_user_frame(events: DataFrame) -> DataFrame:
    """One (user_id, variant, y_pre, y_post) row per user with any
    event: exact decimal purchase sums split at the cut, 0 for a period
    without purchases. A NULL ``ts`` makes ``post`` NULL, so neither
    period sees that row, as the oracle drops its post=NULL cell."""
    y = F.when(F.col("event_type") == "purchase", F.col("value").cast(_DEC))
    post = F.col("ts") >= F.lit(_DID_CUT).cast("timestamp")
    zero = F.lit(0).cast(_DID_SUM)
    return events.groupBy("user_id", arm_col().alias("variant")).agg(
        F.coalesce(F.sum(F.when(~post, y)), zero).alias("y_pre"),
        F.coalesce(F.sum(F.when(post, y)), zero).alias("y_post"),
    )


def did_readout(per_user: DataFrame) -> DataFrame:
    """Per-user rows (variant, y_pre, y_post) → the one-row 7-column
    readout: the four (arm, period) cell sums over the FIXED per-arm
    user counts, and DiD."""

    def cell(v, col):
        # SUM(decimal(37,12)) widens to (38,12); re-pin to the cell-sum
        # type the oracle divides
        return F.coalesce(_arm_sum(v, F.col(col)), F.lit(0)).cast(_DID_SUM)

    wide = per_user.agg(
        cell(0, "y_pre").alias("s0pre"),
        cell(0, "y_post").alias("s0post"),
        cell(1, "y_pre").alias("s1pre"),
        cell(1, "y_post").alias("s1post"),
        _arm_sum(0).alias("n0"),
        _arm_sum(1).alias("n1"),
    )
    m = {
        k: F.col(s).cast("double") / F.col(n)
        for k, s, n in (
            ("pre_ctl", "s0pre", "n0"),
            ("post_ctl", "s0post", "n0"),
            ("pre_trt", "s1pre", "n1"),
            ("post_trt", "s1post", "n1"),
        )
    }
    return wide.select(
        F.col("n0").cast("bigint").alias("n_ctl"),
        F.col("n1").cast("bigint").alias("n_trt"),
        F.round(m["pre_ctl"], 6).alias("pre_ctl"),
        F.round(m["post_ctl"], 6).alias("post_ctl"),
        F.round(m["pre_trt"], 6).alias("pre_trt"),
        F.round(m["post_trt"], 6).alias("post_trt"),
        (
            F.round(
                (m["post_trt"] - m["pre_trt"]) - (m["post_ctl"] - m["pre_ctl"]),
                6,
            )
            + F.lit(0.0)
        ).alias("did"),
    )
