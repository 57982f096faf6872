"""Domain pipeline queries on the `events` stream proxy (SURVEY §1.4,
FIXTURES §4 mapping: event_type ≡ line, user_id ≡ stop, ts ≡ event_ts,
props ≡ raw JSON) plus the scalar-function battery (§2.8) and the
as-of / range join extensions (§2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.plans.marts import fct_headways, headway_events
from tfl_realtime_lakehouse_spark.operators.asof import asof_join
from tfl_realtime_lakehouse_spark.queries.registry import load_views, register, table


def _events_as_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → the staging-arrivals shape (string line/stop + event_ts)."""
    return table(spark, sf_dir, "events").select(
        F.col("event_type").cast("string").alias("line_id"),
        F.col("user_id").cast("string").alias("stop_id"),
        F.col("ts").alias("event_ts"),
    )


@register(
    "fct_headways",
    oracle="""
    WITH lagged AS (
      SELECT CAST(event_type AS VARCHAR) AS line_id,
             CAST(user_id AS VARCHAR) AS stop_id,
             ts,
             LAG(ts) OVER (PARTITION BY event_type, user_id ORDER BY ts) AS prev_ts
      FROM events
      WHERE ts IS NOT NULL
    ), gaps AS (
      SELECT line_id, stop_id, DATE_TRUNC('hour', ts) AS hour,
             EPOCH_US(ts) - EPOCH_US(prev_ts) AS headway_us
      FROM lagged WHERE prev_ts IS NOT NULL
    )
    SELECT line_id, stop_id, hour,
           CAST(SUM(headway_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_headway_s,
           (LIST_SORT(LIST(headway_us)))[CAST(CEIL(0.5 * COUNT(*)) AS INTEGER)] / 1000000.0 AS p50_headway_s,
           (LIST_SORT(LIST(headway_us)))[CAST(CEIL(0.9 * COUNT(*)) AS INTEGER)] / 1000000.0 AS p90_headway_s
    FROM gaps GROUP BY line_id, stop_id, hour
    """,
    doc="FLAGSHIP — the reference's entire analytical content "
    "(fct_headways.sql:1-24): lag over (line,stop), epoch gap, hourly "
    "rollup with avg/p50/p90. One shuffle: the window exchange is "
    "reused by the aggregation (grouping keys ⊇ partition keys).",
)
def fct_headways_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = _events_as_arrivals(spark, sf_dir)
    return fct_headways(stg)


@register(
    "headway_events_detail",
    oracle="""
    SELECT line_id, stop_id, ts, prev_ts,
           (EPOCH_US(ts) - EPOCH_US(prev_ts)) / 1000000.0 AS headway_s
    FROM (
      SELECT CAST(event_type AS VARCHAR) AS line_id,
             CAST(user_id AS VARCHAR) AS stop_id, ts,
             LAG(ts) OVER (PARTITION BY event_type, user_id ORDER BY ts) AS prev_ts
      FROM events WHERE ts IS NOT NULL) t
    WHERE prev_ts IS NOT NULL
    """,
    doc="Pre-aggregation headway rows (SURVEY W1+P3+P4+F5). Emits no "
    "row identity, so the output multiset is invariant to tie order.",
)
def headway_events_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    stg = _events_as_arrivals(spark, sf_dir)
    return headway_events(stg).select("line_id", "stop_id", F.col("event_ts").alias("ts"), "prev_ts", "headway_s")


@register(
    "stg_events_contract",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_key,
           CAST(event_type AS VARCHAR) AS line_id,
           CAST(user_id AS VARCHAR) AS stop_id,
           COALESCE(NULLIF(event_type, 'error'), 'incident') AS line_label,
           TRY_CAST(props AS INTEGER) AS malformed_int,
           DATE_TRUNC('day', ts) AS event_day,
           ts AS event_ts
    FROM events
    """,
    doc="The staging contract projection (SURVEY P1/P6/F1/F2): rename + "
    "re-type + coalesce/nullif + try_cast (NULL on malformed).",
)
def stg_events_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.sources.tables import fan_out

    ev = table(spark, sf_dir, "events")
    # Map-only over the single-split scan: the whole query ran as one
    # task (sf1 re-eval, r12 verdict ask #9). fan_out after pruning to
    # the five consumed columns spreads the projection; no-op once the
    # input has >= parallelism splits.
    ev = fan_out(
        ev.select("event_id", "event_type", "user_id", "props", "ts")
    )
    return ev.select(
        F.col("event_id").cast("bigint").alias("event_key"),
        F.col("event_type").cast("string").alias("line_id"),
        F.col("user_id").cast("string").alias("stop_id"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("incident")).alias(
            "line_label"
        ),
        F.col("props").try_cast("int").alias("malformed_int"),
        F.date_trunc("day", "ts").alias("event_day"),
        F.col("ts").alias("event_ts"),
    )


@register(
    "events_multires_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(m) = 0 THEN 'minute'
                WHEN GROUPING(h) = 0 THEN 'hour'
                ELSE 'day' END AS grain,
           COALESCE(m, h, d) AS bucket_ts,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE), 6) AS sum_value
    FROM (
      SELECT user_id, value,
             DATE_TRUNC('minute', ts) AS m,
             DATE_TRUNC('hour', ts) AS h,
             DATE_TRUNC('day', ts) AS d
      FROM events WHERE ts IS NOT NULL) t
    GROUP BY GROUPING SETS ((m), (h), (d))
    """,
    doc="Multi-resolution time rollup (the TimescaleDB continuous-"
    "aggregate / downsampling pattern): minute, hour, and day grains "
    "computed in ONE scan via GROUPING SETS — Spark expands each row "
    "into its three grain memberships (Expand operator) and aggregates "
    "them in one shuffle, instead of three scans or a re-aggregation "
    "chain. Sum is decimal-exact; the COUNT(DISTINCT) forces the "
    "standard second shuffle keyed by (bucket, user) — at 100 TB swap "
    "it for the mergeable HLL sketch (see agg_hll_mergeable).",
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(m) = 0 THEN 'minute'
                    WHEN GROUPING(h) = 0 THEN 'hour'
                    ELSE 'day' END AS grain,
               COALESCE(m, h, d) AS bucket_ts,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE), 6) AS sum_value
        FROM (
          SELECT user_id, value,
                 DATE_TRUNC('minute', ts) AS m,
                 DATE_TRUNC('hour', ts) AS h,
                 DATE_TRUNC('day', ts) AS d
          FROM events WHERE ts IS NOT NULL) t
        GROUP BY GROUPING SETS ((m), (h), (d))
        """
    )


@register(
    "events_funnel_steps",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY user_id
    ), step2 AS (
      SELECT p.user_id, p.t_view,
             (SELECT MIN(e.ts) FROM events e
              WHERE e.user_id = p.user_id AND e.event_type = 'click'
                AND e.ts > p.t_view) AS t_click
      FROM per_user p
    ), step3 AS (
      SELECT s.user_id, s.t_view, s.t_click,
             (SELECT MIN(e.ts) FROM events e
              WHERE e.user_id = s.user_id AND e.event_type = 'purchase'
                AND e.ts > s.t_click) AS t_purchase
      FROM step2 s
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
           CAST(COUNT(t_click) AS BIGINT) AS n_clicked,
           CAST(COUNT(t_purchase) AS BIGINT) AS n_purchased,
           ROUND(CAST(COUNT(t_purchase) AS DOUBLE) / COUNT(t_view), 4)
               AS view_to_purchase_rate
    FROM step3
    """,
    doc="Ordered funnel analysis (view -> click -> purchase, each step "
    "strictly after the previous): per-user step timestamps via "
    "conditional window minima — three window projections over ONE "
    "partitioning of user_id, so Catalyst plans a single exchange "
    "(each later step's predicate references the previous step's "
    "column, which rules out a single groupBy but not exchange reuse). "
    "The oracle states the same steps as correlated subqueries.",
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    stepped = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = stepped.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked"),
        F.count("t_purchase").alias("n_purchased"),
        F.round(F.count("t_purchase").cast("double") / F.count("t_view"), 4).alias(
            "view_to_purchase_rate"
        ),
    )


@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, DATE_TRUNC('day', MIN(ts)) AS cohort_day
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(DATE_DIFF('day', f.cohort_day, DATE_TRUNC('day', e.ts)) AS INTEGER)
               AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    WHERE e.ts IS NOT NULL
    GROUP BY f.cohort_day, day_offset
    """,
    doc="Cohort retention triangle: users bucketed by first-seen day, "
    "activity counted as distinct users per (cohort, day offset). Two "
    "shuffles — the per-user first-day aggregation and the cohort "
    "rollup; the cohort dimension joins back to events on user_id "
    "(AQE broadcasts it when small). The product-analytics staple "
    "(Amplitude/Mixpanel) over the events table.",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        ev.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.col("cohort_day").cast("date"),
            ).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@register(
    "events_value_outliers",
    oracle="""
    SELECT event_id, event_type, value, ROUND(z, 4) AS z
    FROM (
      SELECT event_id, event_type, value,
             (value - AVG(value) OVER (PARTITION BY event_type))
               / STDDEV_POP(value) OVER (PARTITION BY event_type) AS z
      FROM events) t
    WHERE ROUND(ABS(z), 4) >= 2.5
    """,
    doc="Per-segment z-score outlier detection: windowed mean / "
    "population stddev per event_type, flag |z| >= 2.5. One exchange "
    "(both window aggregates share the partitioning); the filter "
    "compares the ROUNDED score so the cross-engine float-"
    "reassociation noise (ulps) cannot flip a boundary row.",
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_pop("value").over(w)
    return (
        ev.select("event_id", "event_type", "value", z.alias("z"))
        .where(F.round(F.abs(F.col("z")), 4) >= 2.5)
        .select("event_id", "event_type", "value", F.round("z", 4).alias("z"))
    )


@register(
    "events_winsorized_stats",
    oracle="""
    WITH cuts AS (
      SELECT event_type,
             (LIST_SORT(LIST(value)))[CAST(CEIL(0.05 * COUNT(*)) AS INTEGER)] AS p05,
             (LIST_SORT(LIST(value)))[CAST(CEIL(0.95 * COUNT(*)) AS INTEGER)] AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(c.p05, 6) AS p05, ROUND(c.p95, 6) AS p95,
           ROUND(CAST(SUM(CAST(LEAST(GREATEST(e.value, c.p05), c.p95)
                 AS DECIMAL(27,12))) AS DOUBLE) / COUNT(*), 6) AS winsorized_mean
    FROM events e JOIN cuts c USING (event_type)
    GROUP BY e.event_type, c.p05, c.p95
    """,
    doc="Winsorization (outlier-robust curation): clip each segment's "
    "values to its exact discrete [p05, p95] percentiles, then a "
    "decimal-exact clipped mean. The percentiles come from a "
    "rank-based two-pass (row_number + count over the same window "
    "partitioning — no per-group list materialization, unlike the "
    "bounded-group flagship), so group size is unbounded; the 5-row "
    "cuts table broadcasts back for the clip.",
)
def events_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = ev.withColumn("rn", F.row_number().over(wo)).withColumn(
        "nn", F.count(F.lit(1)).over(wc)
    )
    lo = F.ceil(F.lit(0.05) * F.col("nn")).cast("int")
    hi = F.ceil(F.lit(0.95) * F.col("nn")).cast("int")
    cuts = (
        ranked.where((F.col("rn") == lo) | (F.col("rn") == hi))
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.col("rn") == lo, F.col("value"))).alias("p05"),
            F.max(F.when(F.col("rn") == hi, F.col("value"))).alias("p95"),
        )
    )
    clipped = ev.join(F.broadcast(cuts), "event_type").withColumn(
        "cv", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return clipped.groupBy("event_type", "p05", "p95").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(F.col("cv").cast("decimal(27,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("winsorized_mean"),
    ).select(
        "event_type",
        "n",
        F.round("p05", 6).alias("p05"),
        F.round("p95", 6).alias("p95"),
        "winsorized_mean",
    )


# --------------------------------------------------------------------------
# Scalar function batteries (§2.8)
# --------------------------------------------------------------------------


@register(
    "scalar_datetime",
    oracle="""
    SELECT event_id,
           DATE_TRUNC('hour', ts) AS hour_ts,
           DATE_TRUNC('day', ts)  AS day_ts,
           CAST(EXTRACT(year  FROM ts) AS INTEGER) AS y,
           CAST(EXTRACT(month FROM ts) AS INTEGER) AS mo,
           CAST(EXTRACT(day   FROM ts) AS INTEGER) AS d,
           CAST(EXTRACT(hour  FROM ts) AS INTEGER) AS h,
           CAST(EXTRACT(minute FROM ts) AS INTEGER) AS mi,
           ts + INTERVAL 1 HOUR AS ts_plus_1h,
           CAST(DATE_DIFF('day', TIMESTAMP '2024-01-01', ts) AS INTEGER) AS days_since_epoch_start,
           STRFTIME(ts, '%Y-%m-%d') AS day_str
    FROM events
    """,
    doc="Datetime kernel battery (SURVEY F3-F8): trunc, extract, "
    "interval arithmetic, day diff, formatting.",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.date_trunc("hour", "ts").alias("hour_ts"),
        F.date_trunc("day", "ts").alias("day_ts"),
        F.year("ts").alias("y"),
        F.month("ts").alias("mo"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.minute("ts").alias("mi"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts_plus_1h"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
    )


@register(
    "scalar_strings",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS up_name,
           LOWER(p_brand) AS lo_brand,
           SUBSTR(p_name, 1, 5) AS name_prefix,
           CAST(LENGTH(p_name) AS INTEGER) AS name_len,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           REPLACE(p_type, 'ECONOMY', 'ECO') AS econ_type,
           TRIM(CONCAT(' ', p_name, ' ')) AS trimmed,
           LPAD(CAST(p_size AS VARCHAR), 4, '0') AS padded_size,
           CAST(STRPOS(p_name, 'red') AS INTEGER) AS red_pos,
           (p_type LIKE '%ECO%') AS is_eco,
           CAST(LEN(STRING_SPLIT(p_name, ' ')) AS INTEGER) AS n_words
    FROM part
    """,
    doc="String kernel battery (SURVEY F11-F12 + engine surface): "
    "case, substring, concat, replace, pad, find, LIKE, split.",
)
def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up_name"),
        F.lower("p_brand").alias("lo_brand"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias("econ_type"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
        F.instr(F.col("p_name"), "red").alias("red_pos"),
        F.col("p_type").like("%ECO%").alias("is_eco"),
        F.size(F.split("p_name", " ")).alias("n_words"),
    )


@register(
    "scalar_json",
    oracle="""
    SELECT event_id,
           JSON_EXTRACT_STRING(props, '$.k') AS k_str,
           CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k_int
    FROM events
    """,
    doc="JSON path extraction from the raw payload column (SURVEY "
    "F9/F10: the reference's `raw` JSON string).",
)
def scalar_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
    )


@register(
    "scalar_conditional",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bal_band,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
           GREATEST(c_acctbal, 0.0) AS pos_bal,
           LEAST(c_nationkey, 10) AS nk_capped,
           (c_acctbal > 0) AS in_credit
    FROM customer
    """,
    doc="Conditional kernel battery: CASE WHEN, coalesce/nullif (SURVEY "
    "P6), greatest/least, boolean projection.",
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias("seg"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("pos_bal"),
        F.least(F.col("c_nationkey"), F.lit(10)).alias("nk_capped"),
        (F.col("c_acctbal") > 0).alias("in_credit"),
    )


@register(
    "scalar_math",
    oracle="""
    SELECT c_custkey,
           ABS(c_acctbal) AS abs_bal,
           CAST(CEIL(c_acctbal) AS BIGINT) AS ceil_bal,
           CAST(FLOOR(c_acctbal) AS BIGINT) AS floor_bal,
           ROUND(c_acctbal, 1) AS round_bal,
           ROUND(SQRT(ABS(c_acctbal)), 6) AS sqrt_bal,
           ROUND(LN(ABS(c_acctbal) + 1.0), 6) AS ln_bal,
           ROUND(LOG10(ABS(c_acctbal) + 1.0), 6) AS log10_bal,
           ROUND(POWER(c_acctbal / 1000.0, 2), 6) AS pow_bal,
           CAST(c_nationkey % 7 AS INTEGER) AS nk_mod,
           CAST(SIGN(c_acctbal) AS INTEGER) AS bal_sign
    FROM customer
    """,
    doc="Math kernel battery; transcendentals rounded to 6 dp since "
    "libm implementations may differ in the last ulp.",
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    return c.select(
        "c_custkey",
        F.abs(bal).alias("abs_bal"),
        F.ceil(bal).alias("ceil_bal"),
        F.floor(bal).alias("floor_bal"),
        F.round(bal, 1).alias("round_bal"),
        F.round(F.sqrt(F.abs(bal)), 6).alias("sqrt_bal"),
        F.round(F.log(F.abs(bal) + 1.0), 6).alias("ln_bal"),
        F.round(F.log10(F.abs(bal) + 1.0), 6).alias("log10_bal"),
        F.round(F.pow(bal / 1000.0, 2), 6).alias("pow_bal"),
        (F.col("c_nationkey") % 7).cast("int").alias("nk_mod"),
        F.signum(bal).cast("int").alias("bal_sign"),
    )


# --------------------------------------------------------------------------
# As-of / range joins (§2.3 extension ops)
# --------------------------------------------------------------------------


@register(
    "asof_last_error_before_click",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           (SELECT MAX(e.ts) FROM events e
            WHERE e.user_id = c.user_id AND e.event_type = 'error'
              AND e.ts <= c.ts) AS last_error_ts
    FROM events c
    WHERE c.event_type = 'click'
    """,
    doc="As-of (backward) join: for each click, the most recent error "
    "for the same user. Implemented union+window (single shuffle, no "
    "range explosion) — the scalable as-of strategy (SURVEY §2.3).",
)
def asof_last_error_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    return asof_join(
        clicks,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_alias="last_error_ts",
    )


@register(
    "asof_forward_next_error",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), errs AS (
      SELECT user_id, ts, MAX(value) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    ), nxt AS (
      SELECT c.event_id, c.user_id, c.ts,
             (SELECT MIN(e.ts) FROM errs e
              WHERE e.user_id = c.user_id AND e.ts >= c.ts) AS next_error_ts
      FROM clicks c
    )
    SELECT n.event_id, n.user_id, n.ts, n.next_error_ts, e.err_value
    FROM nxt n LEFT JOIN errs e
      ON e.user_id = n.user_id AND e.ts = n.next_error_ts
    """,
    doc="FORWARD as-of join: for each click, the earliest error at/after "
    "it for the same user, carrying that error's value (right side "
    "pre-aggregated to unique (user, ts) so the payload is "
    "well-defined). Same union+single-window plan as backward — the "
    "frame direction flips, the shuffle count does not.",
)
def asof_forward_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    return asof_join(
        clicks,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_alias="next_error_ts",
        right_values=["err_value"],
        direction="forward",
    )


@register(
    "asof_nearest_error",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), bf AS (
      SELECT c.event_id, c.user_id, c.ts,
             (SELECT MAX(e.ts) FROM events e
              WHERE e.user_id = c.user_id AND e.event_type = 'error'
                AND e.ts <= c.ts) AS b,
             (SELECT MIN(e.ts) FROM events e
              WHERE e.user_id = c.user_id AND e.event_type = 'error'
                AND e.ts >= c.ts) AS f
      FROM clicks c
    )
    SELECT event_id, user_id, ts,
           CASE WHEN b IS NULL THEN f
                WHEN f IS NULL THEN b
                WHEN EPOCH_US(ts) - EPOCH_US(b) <= EPOCH_US(f) - EPOCH_US(ts)
                     THEN b
                ELSE f END AS nearest_error_ts
    FROM bf
    """,
    doc="NEAREST as-of join: for each click, the error closest in "
    "absolute time (ties backward). One shuffle: the right side rides "
    "the union twice — a side-tagged copy per frame direction — and "
    "backward/forward windows share the same exchange + sort.",
)
def asof_nearest_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    return asof_join(
        clicks,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_alias="nearest_error_ts",
        direction="nearest",
    )


@register(
    "range_join_events_per_order_week",
    oracle="""
    SELECT o_orderkey, COUNT(e.event_id) AS n_events
    FROM orders o
    JOIN events e
      ON e.ts >= TIMESTAMP '2024-01-01' + INTERVAL (o_orderkey % 23) DAY
     AND e.ts <  TIMESTAMP '2024-01-01' + INTERVAL (o_orderkey % 23) DAY + INTERVAL 2 DAY
    GROUP BY o_orderkey
    """,
    doc="Range (interval) join via dedup + bucketed equi-join: the "
    "window side collapses to its distinct intervals first (23 here), "
    "each interval explodes to its covered day-buckets, events equi-join "
    "on the bucket and refine with the exact predicate, and the "
    "per-interval counts broadcast back to orders. Work is O(events × "
    "windows-per-day-bucket), never the O(n·m) a naive range predicate "
    "produces — and never the row explosion of bucketing an un-deduped "
    "dense window side (which benchmarked 50× slower here).",
)
def range_join_events_per_order_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (
            F.lit("2024-01-01").cast("timestamp")
            + F.make_interval(days=(F.col("o_orderkey") % 23).cast("int"))
        ).alias("w_start"),
    ).withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 2 DAY"))
    events = table(spark, sf_dir, "events").select("event_id", "ts")

    # 1. Collapse the dense window side to distinct intervals.
    windows = orders.select("w_start", "w_end").distinct()
    # 2. Explode each interval to its covered day buckets (≤3 for a
    #    2-day window) and equi-join events on the bucket + refine.
    win_days = windows.select(
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.date_trunc("day", "w_start").cast("date"),
                F.date_trunc("day", "w_end").cast("date"),
            )
        ).alias("day"),
    )
    ev_days = events.withColumn("day", F.col("ts").cast("date"))
    per_window = (
        ev_days.join(F.broadcast(win_days), "day")
        .filter((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("w_start")
        .agg(F.count("event_id").alias("n_events"))
    )
    # 3. Broadcast the tiny per-interval counts back onto orders.
    return orders.join(F.broadcast(per_window), "w_start").select(
        "o_orderkey", "n_events"
    )


@register(
    "scd2_user_status",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_ts
      FROM events
    ), changes AS (
      SELECT * FROM ordered
      WHERE prev_ts IS NULL OR NOT (event_type IS NOT DISTINCT FROM prev)
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           CAST(CASE WHEN LEAD(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) IS NULL
                     THEN 1 ELSE 0 END AS INTEGER) AS is_current
    FROM changes
    """,
    doc="SCD2 dimension build over the events mutation log: change "
    "detection (null-safe lag inequality — repeated writes of the same "
    "value extend the episode) then validity intervals via lead, with "
    "(ts, event_id) as the total per-key order. Both window passes and "
    "the filter share one exchange on user_id — a single-shuffle plan. "
    "The point-in-time-join primitive the reference's full-refresh "
    "snapshots imply but cannot serve.",
)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.scd import scd2_build

    return scd2_build(
        table(spark, sf_dir, "events"),
        key_col="user_id",
        attr_col="event_type",
        ts_col="ts",
        tiebreak_col="event_id",
    )


@register(
    "events_gapfill_locf",
    oracle="""
    WITH agg AS (
      SELECT event_type AS key, DATE_TRUNC('hour', ts) AS bucket,
             COUNT(*) AS n_events, AVG(value) AS avg_value
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT DATE_TRUNC('hour', MIN(ts)) AS tmin,
             DATE_TRUNC('hour', MAX(ts)) AS tmax
      FROM events
    ),
    grid AS (
      SELECT k.key,
             UNNEST(generate_series(s.tmin, s.tmax, INTERVAL 1 HOUR)) AS bucket
      FROM (SELECT DISTINCT event_type AS key FROM events) k, span s
    ),
    dense AS (
      SELECT g.key, g.bucket, a.n_events, a.avg_value
      FROM grid g LEFT JOIN agg a ON g.key = a.key AND g.bucket = a.bucket
    ),
    filled AS (
      SELECT key, bucket,
        COALESCE(n_events, 0) AS n_events,
        CAST(avg_value IS NULL AS INTEGER) AS was_gap,
        avg_value,
        LAST_VALUE(avg_value IGNORE NULLS) OVER w_past AS locf,
        LAST_VALUE(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER w_past AS prev_b,
        FIRST_VALUE(avg_value IGNORE NULLS) OVER w_fut AS next_val,
        FIRST_VALUE(CASE WHEN avg_value IS NOT NULL THEN bucket END IGNORE NULLS)
          OVER w_fut AS next_b
      FROM dense
      WINDOW
        w_past AS (PARTITION BY key ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fut AS (PARTITION BY key ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT key, bucket, CAST(n_events AS BIGINT) AS n_events, was_gap,
      ROUND(avg_value, 6) AS avg_value,
      ROUND(locf, 6) AS avg_value_locf,
      ROUND(CASE WHEN avg_value IS NOT NULL THEN avg_value
                 WHEN locf IS NOT NULL AND next_val IS NOT NULL THEN
                   -- frac-first association to match bucket_gapfill's
                   -- prev + (next-prev)*(dt/dT) IEEE expression tree
                   -- exactly (left-assoc *then/ differs by 1 ulp and can
                   -- flip the 6th rounded decimal)
                   locf + (next_val - locf)
                        * ((EPOCH(bucket) - EPOCH(prev_b))
                           / (EPOCH(next_b) - EPOCH(prev_b)))
            END, 6) AS avg_value_interp
    FROM filled
    """,
    doc="Dense time-bucket gapfill with zero-filled counts, LOCF and "
    "linear interpolation (the timeseries-DB time_bucket_gapfill / "
    "locf / interpolate triple) — one hash-agg shuffle over events, an "
    "output-sized sequence-explode grid, and two key-partitioned window "
    "passes. operators/timeseries.py.",
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.timeseries import bucket_gapfill

    out = bucket_gapfill(table(spark, sf_dir, "events"))
    return out.select(
        "key",
        "bucket",
        "n_events",
        F.col("was_gap").cast("int").alias("was_gap"),
        F.round("avg_value", 6).alias("avg_value"),
        F.round("avg_value_locf", 6).alias("avg_value_locf"),
        F.round("avg_value_interp", 6).alias("avg_value_interp"),
    )


@register(
    "events_counter_rate",
    oracle="""
    WITH lagged AS (
      SELECT event_type AS key, DATE_TRUNC('hour', ts) AS bucket,
             value - LAG(value) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS delta,
             value
      FROM events
    ), inc AS (
      SELECT key, bucket,
             CASE WHEN delta >= 0 THEN delta ELSE value END AS i
      FROM lagged WHERE delta IS NOT NULL
    )
    SELECT key, bucket, COUNT(*) AS n_samples,
           ROUND(CAST(SUM(CAST(i AS DECIMAL(27,12))) AS DOUBLE), 6) AS increase,
           ROUND(CAST(SUM(CAST(i AS DECIMAL(27,12))) AS DOUBLE) / 3600.0, 6)
             AS rate_per_sec
    FROM inc GROUP BY key, bucket
    """,
    doc="PromQL-style counter rate()/increase() per series per hour: "
    "lag-delta with reset handling (negative delta => the post-restart "
    "value is the increase), exact decimal sums, rate per second. One "
    "window shuffle on the series key + one map-side-combined hash agg. "
    "operators/timeseries.py:counter_rate.",
)
def events_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.timeseries import counter_rate

    return counter_rate(table(spark, sf_dir, "events"))


@register(
    "events_ewma_hourly",
    oracle="""
    WITH agg AS (
      SELECT event_type AS key, DATE_TRUNC('hour', ts) AS bucket,
             SUM(CAST(value AS DECIMAL(27,12))) AS s
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT key, bucket, CAST(s AS DOUBLE) AS x,
             LAG(CAST(s AS DOUBLE), 1) OVER w AS l1,
             LAG(CAST(s AS DOUBLE), 2) OVER w AS l2,
             LAG(CAST(s AS DOUBLE), 3) OVER w AS l3,
             LAG(CAST(s AS DOUBLE), 4) OVER w AS l4,
             LAG(CAST(s AS DOUBLE), 5) OVER w AS l5,
             LAG(CAST(s AS DOUBLE), 6) OVER w AS l6,
             LAG(CAST(s AS DOUBLE), 7) OVER w AS l7
      FROM agg
      WINDOW w AS (PARTITION BY key ORDER BY bucket)
    )
    SELECT key, bucket, ROUND(x, 6) AS bucket_sum,
      ROUND(
        (x + COALESCE(l1 * 0.5, 0.0) + COALESCE(l2 * 0.25, 0.0)
           + COALESCE(l3 * 0.125, 0.0) + COALESCE(l4 * 0.0625, 0.0)
           + COALESCE(l5 * 0.03125, 0.0) + COALESCE(l6 * 0.015625, 0.0)
           + COALESCE(l7 * 0.0078125, 0.0))
        / (1.0 + CASE WHEN l1 IS NOT NULL THEN 0.5 ELSE 0.0 END
               + CASE WHEN l2 IS NOT NULL THEN 0.25 ELSE 0.0 END
               + CASE WHEN l3 IS NOT NULL THEN 0.125 ELSE 0.0 END
               + CASE WHEN l4 IS NOT NULL THEN 0.0625 ELSE 0.0 END
               + CASE WHEN l5 IS NOT NULL THEN 0.03125 ELSE 0.0 END
               + CASE WHEN l6 IS NOT NULL THEN 0.015625 ELSE 0.0 END
               + CASE WHEN l7 IS NOT NULL THEN 0.0078125 ELSE 0.0 END),
        6) AS ewma
    FROM lagged
    """,
    doc="Adjusted EWMA (alpha = 1/2, 8-bucket lookback) over the hourly "
    "per-series totals. Weights 2^-j are exact binary64 values and the "
    "weighted sum is one fixed left-to-right chain replicated in the "
    "oracle, so both engines round identically at every IEEE step — "
    "float determinism by construction, not by luck. One agg shuffle + "
    "one window pass. operators/timeseries.py:ewma_smooth.",
)
def events_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.timeseries import ewma_smooth

    return ewma_smooth(table(spark, sf_dir, "events"))


@register(
    "events_rate_anomaly",
    oracle="""
    WITH agg AS (
      SELECT event_type AS key, DATE_TRUNC('hour', ts) AS bucket,
             SUM(CAST(value AS DECIMAL(27,12))) AS sd
      FROM events GROUP BY 1, 2
    ), staged AS (
      SELECT key, bucket, sd,
             CAST(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) AS DECIMAL(38,6)) AS sq
      FROM agg
    ), roll AS (
      SELECT key, bucket, CAST(sd AS DOUBLE) AS x,
             CAST(SUM(CAST(sd AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(sq) OVER w AS DOUBLE) AS s2,
             COUNT(*) OVER w AS n
      FROM staged
      WINDOW w AS (PARTITION BY key ORDER BY bucket
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT key, bucket, ROUND(x, 6) AS bucket_sum,
           CAST(n AS INTEGER) AS n_hist,
           CASE WHEN n >= 12 THEN
             CAST((x * n - s1) * (x * n - s1) > 9.0 * (n * s2 - s1 * s1)
                  AS INTEGER)
           END AS is_anomaly
    FROM roll
    """,
    doc="Rolling z-score anomaly flag per series: bucket total vs the "
    "preceding 24 buckets' mean/variance, flagged when z-squared > 9. "
    "Cross-engine exactness via algebra, not division: (x*n - S1)^2 > "
    "9*(n*S2 - S1^2) with S1/S2 exact decimal sums and the final "
    "products in binary64 with identical expression trees both "
    "engines. operators/timeseries.py:rolling_anomaly.",
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.timeseries import rolling_anomaly

    return rolling_anomaly(table(spark, sf_dir, "events"))


@register(
    "events_reservoir_sample",
    oracle="""
    SELECT key, event_id, sample_rank FROM (
      SELECT event_type AS key, event_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY MD5(CAST(event_id AS VARCHAR)), event_id
             ) AS INTEGER) AS sample_rank
      FROM events) t
    WHERE sample_rank <= 5
    """,
    doc="Deterministic per-key fixed-size sample (the reproducible "
    "stand-in for reservoir sampling): order each key's members by "
    "md5(id) and keep the first 5 — exactly min(k, n) rows per key, "
    "uniform under the hash, stable across engines/runs/partitionings. "
    "One window TopK shuffle. operators/sampling.py:reservoir_per_key.",
)
def events_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.sampling import reservoir_per_key

    ev = table(spark, sf_dir, "events")
    return reservoir_per_key(ev, "event_type", 5, id_col="event_id").select(
        F.col("event_type").alias("key"), "event_id", "sample_rank"
    )


@register(
    "events_period_over_period",
    oracle="""
    WITH daily AS (
      SELECT event_type AS key, DATE_TRUNC('day', ts) AS bucket,
             COUNT(*) AS n_events,
             SUM(CAST(value AS DECIMAL(27,12))) AS sd
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT key, bucket, n_events, CAST(sd AS DOUBLE) AS total,
             LAG(CAST(sd AS DOUBLE)) OVER (PARTITION BY key ORDER BY bucket)
               AS prev_total,
             LAG(n_events) OVER (PARTITION BY key ORDER BY bucket) AS prev_n
      FROM daily
    )
    SELECT key, bucket, CAST(n_events AS BIGINT) AS n_events,
           ROUND(total, 6) AS total,
           ROUND(CASE WHEN prev_total <> 0.0
                      THEN (total - prev_total) / prev_total END, 6)
             AS pct_change_total,
           ROUND(CASE WHEN prev_n <> 0
                      THEN (n_events - prev_n)::DOUBLE / prev_n END, 6)
             AS pct_change_n
    FROM lagged
    """,
    doc="Period-over-period comparison (the DoD/WoW/MoM dashboard "
    "primitive): daily per-series decimal-exact totals, lag-1 window, "
    "percent change as one guarded IEEE division on both engines — "
    "zero-denominator periods yield null, series heads yield null. "
    "One agg shuffle (map-side partial) + one window pass on the key.",
)
def events_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("key"), F.date_trunc("day", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,12)")).alias("_sd"),
    )
    w = Window.partitionBy("key").orderBy("bucket")
    total = F.col("_sd").cast("double")
    prev_total = F.lag(total).over(w)
    prev_n = F.lag("n_events").over(w)
    return daily.select(
        "key",
        "bucket",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(total, 6).alias("total"),
        F.round(
            F.when(prev_total != 0.0, (total - prev_total) / prev_total), 6
        ).alias("pct_change_total"),
        F.round(
            F.when(prev_n != 0, (F.col("n_events") - prev_n).cast("double") / prev_n),
            6,
        ).alias("pct_change_n"),
    )


@register(
    "asof_tolerance_bounded",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts,
           CASE WHEN EPOCH_US(c.ts) - EPOCH_US(
                  (SELECT MAX(e.ts) FROM events e
                   WHERE e.user_id = c.user_id AND e.event_type = 'error'
                     AND e.ts <= c.ts)) <= 600000000
                THEN (SELECT MAX(e.ts) FROM events e
                      WHERE e.user_id = c.user_id AND e.event_type = 'error'
                        AND e.ts <= c.ts)
           END AS last_error_ts
    FROM events c
    WHERE c.event_type = 'click'
    """,
    doc="As-of join with tolerance (pandas merge_asof tolerance "
    "semantics): the most recent error per user, but only when it "
    "falls within 10 minutes of the click — staler matches null out. "
    "A pure post-projection on the matched struct; the single-shuffle "
    "union+window plan is unchanged. operators/asof.py.",
)
def asof_tolerance_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select("user_id", "ts")
    return asof_join(
        clicks,
        errors,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        value_alias="last_error_ts",
        tolerance_seconds=600,
    )


@register(
    "events_error_rate_wilson",
    oracle="""
    WITH agg AS (
      SELECT user_id % 10 AS segment,
             COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS k
      FROM events GROUP BY 1
    )
    SELECT segment, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS n_errors,
           ROUND(k::DOUBLE / n, 6) AS error_rate,
           ROUND((k::DOUBLE / n + 1.9208 / n
                  - 1.96 * SQRT((k::DOUBLE / n) * (1.0 - k::DOUBLE / n) / n
                                + 0.9604 / (n * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_lo,
           ROUND((k::DOUBLE / n + 1.9208 / n
                  + 1.96 * SQRT((k::DOUBLE / n) * (1.0 - k::DOUBLE / n) / n
                                + 0.9604 / (n * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_hi
    FROM agg
    """,
    doc="Per-segment error rate with a 95% Wilson score interval — the "
    "monitoring primitive for proportions at small-to-medium n (the "
    "normal approximation misbehaves near 0/1; Wilson does not). One "
    "map-side-combined aggregation; the interval is a fixed IEEE "
    "expression chain written identically in the oracle, so bounds "
    "match bit-for-bit. z = 1.96 constants pre-squared (1.9208 = z^2/2, "
    "3.8416 = z^2, 0.9604 = z^2/4).",
)
def events_error_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy((F.col("user_id") % 10).alias("segment")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("k"),
    )
    n = F.col("n").cast("double")
    p = F.col("k").cast("double") / n
    half = F.lit(1.96) * F.sqrt(p * (F.lit(1.0) - p) / n + F.lit(0.9604) / (n * n))
    center = p + F.lit(1.9208) / n
    denom = F.lit(1.0) + F.lit(3.8416) / n
    return agg.select(
        "segment",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("n_errors"),
        F.round(p, 6).alias("error_rate"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE) AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="Skew-proof two-phase aggregation (operators/skew.py:"
    "salted_aggregate): events.event_type has ~5 distinct values over "
    "the whole corpus — every key is a heavy hitter, the worst case "
    "for a naive groupBy where 5 reducers own 100% of the data. The "
    "operator partial-aggregates on (key, xxhash64-salt) so each hot "
    "key spreads over 32 reducers, then final-aggregates the 5x32 "
    "partials on the key alone. Only algebraic aggregates are "
    "accepted (merge must reassociate); the double sum rides as "
    "decimal(27,12) so the extra merge level cannot change the "
    "result — which is exactly what the plain-GROUP-BY oracle "
    "verifies (salting is invisible in the output or it is wrong).",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.skew import salted_aggregate

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "value",
        F.col("value").cast("decimal(27,12)").alias("value_dec"),
    )
    out = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs={
            "n": ("count", "event_id"),
            "total_value": ("sum", "value_dec"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        salt=32,
        dist_cols=["event_id"],
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("total_value").cast("double").alias("total_value"),
        "min_value",
        "max_value",
    )


@register(
    "cdc_apply_changes",
    oracle="""
    WITH base AS (
      SELECT user_id, value, ts FROM (
        SELECT user_id, value, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_id % 10 < 3
      ) WHERE rn = 1
    ),
    feed AS (
      SELECT user_id, value, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events WHERE event_id % 10 >= 3
    ),
    latest AS (
      SELECT * FROM (
        SELECT feed.*,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM feed
      ) WHERE rn = 1
    )
    SELECT user_id, ROUND(value, 6) AS value, ts, 'cdc' AS src
    FROM latest WHERE op <> 'D'
    UNION ALL
    SELECT b.user_id, ROUND(b.value, 6) AS value, b.ts, 'base' AS src
    FROM base b ANTI JOIN latest l ON l.user_id = b.user_id
    """,
    doc="Batch CDC apply / MERGE compaction (operators/scd.py:"
    "cdc_apply): yesterday's per-user snapshot (latest event among "
    "event_id%10<3) merged with today's change feed (the rest, "
    "'error' events as delete tombstones, everything else as "
    "upserts). Within the batch the LATEST change per key by "
    "(ts, event_id) wins — superseded changes are never applied — a "
    "trailing tombstone removes the key outright, and untouched keys "
    "keep their base row. Two shuffles total, both keyed by user_id "
    "(feed-compaction window + left-anti join), nothing broadcast: "
    "the same plan applies a day's Debezium feed to a 100 TB "
    "snapshot. The oracle replays the identical semantics with "
    "ROW_NUMBER + ANTI JOIN.",
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.scd import cdc_apply

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    base = (
        ev.where(F.col("event_id") % 10 < 3)
        .withColumn("__rn", F.row_number().over(w))
        .where("__rn = 1")
        .select("user_id", "value", "ts")
    )
    feed = ev.where(F.col("event_id") % 10 >= 3).select(
        "user_id",
        "value",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    out = cdc_apply(
        base,
        feed,
        key_col="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
        op_col="op",
        payload_cols=["value"],
    )
    return out.select("user_id", F.round("value", 6).alias("value"), "ts", "src")


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
    FROM pairs
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lead(event_type) over the (ts, event_id)-total order "
    "gives consecutive pairs, one groupBy counts them, and a window "
    "over from_type row-normalizes to transition probabilities — the "
    "behavioral-model estimation behind next-event prediction and "
    "anomalous-session scoring. Two shuffles (user window + pair "
    "count; the normalizing window runs on the ~|types|² aggregate, "
    "which is model- not corpus-sized). Integer counts divide as "
    "doubles rounded at 6 dp — exact in both engines.",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.sum("n").over(wn), 6).alias("p"),
    )


@register(
    "events_rolling_7d_actives",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS d FROM events
    ),
    contrib AS (
      SELECT DISTINCT user_id, d + TO_DAYS(CAST(o.o AS INTEGER)) AS target_d
      FROM ud CROSS JOIN (SELECT UNNEST(RANGE(7)) AS o) o
    ),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT CAST(c.target_d AS TIMESTAMP) AS day,
           CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS active_7d
    FROM contrib c JOIN days ON days.d = c.target_d
    GROUP BY 1
    """,
    doc="Rolling 7-day distinct active users — the canonical "
    "count-distinct-over-sliding-window dashboard metric, in the shape "
    "that scales: (user, day) dedup first, then each user-day is "
    "exploded map-side to the ≤7 future days it makes the user active "
    "for, deduped again, and counted per day. A bounded ×7 replicate + "
    "two hash aggregates — NO distinct-inside-range-window (which "
    "Spark cannot express) and NO per-day rescans of a 7-day slice of "
    "a 100 TB log. Emitted days are restricted to days with actual "
    "activity so both engines agree on the grid; day rides as "
    "TIMESTAMP (no DATE output per the registry dtype rules).",
)
def events_rolling_7d_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(6))
            ).alias("o"),
            "d",
        )
        .select(
            "user_id",
            (F.col("d") + F.make_dt_interval(days=F.col("o"))).alias("target_d"),
        )
        .distinct()
    )
    days = ud.select(F.col("d").alias("target_d")).distinct()
    return (
        contrib.join(days, "target_d")
        .groupBy("target_d")
        .agg(F.count(F.lit(1)).alias("active_7d"))
        .select(
            F.col("target_d").alias("day"),
            F.col("active_7d").cast("bigint").alias("active_7d"),
        )
    )


@register(
    "agg_quantile_sketch",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(LEAST(GREATEST(FLOOR(value / 10.0), 0), 99) AS INTEGER)
                 AS bucket,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT event_type, bucket, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM b
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           ROUND(MIN(CASE WHEN cum >= CEIL(0.5 * n)
                          THEN (bucket + 0.5) * 10.0 END), 6) AS p5,
           ROUND(MIN(CASE WHEN cum >= CEIL(0.95 * n)
                          THEN (bucket + 0.5) * 10.0 END), 6) AS p95,
           ROUND(MIN(CASE WHEN cum >= CEIL(0.99 * n)
                          THEN (bucket + 0.5) * 10.0 END), 6) AS p99
    FROM c GROUP BY event_type
    """,
    doc="Mergeable histogram quantile sketch (operators/sketches.py) — "
    "the quantile member of the sketch family (HLL=cardinality, "
    "CMS=point frequency, MG=heavy hitters): per-event_type equi-width "
    "histograms ([0,1000), 100 bins) built from two disjoint shards "
    "(event_id parity) and MERGED by counter addition inside the "
    "query, then p50/p95/p99 estimated from the bounded sketch "
    "(bucket midpoints, error ≤ half a bin). At 100 TB the exact "
    "per-group percentile needs a sort or a per-group value list; the "
    "sketch is ≤100 rows per group after map-side partial agg, shards "
    "stored per-day merge into any rollup without rescanning, and — "
    "because the bucketing is FLOOR arithmetic, not probabilistic "
    "hashing — the whole estimate is deterministic and hash-checked "
    "against a direct-build DuckDB oracle (merge≡direct is the "
    "exactness the query itself proves).",
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import sketches as SK

    ev = table(spark, sf_dir, "events")
    even = SK.histogram_sketch(
        ev.where(F.col("event_id") % 2 == 0), "value", 0.0, 1000.0, 100,
        group_cols=["event_type"],
    )
    odd = SK.histogram_sketch(
        ev.where(F.col("event_id") % 2 == 1), "value", 0.0, 1000.0, 100,
        group_cols=["event_type"],
    )
    merged = SK.histogram_merge(even, odd)
    return SK.histogram_quantiles(
        merged, [0.5, 0.95, 0.99], 0.0, 1000.0, 100, group_cols=["event_type"]
    )


@register(
    "incremental_rollup_maintenance",
    oracle="""
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE), 6)
               AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Incremental materialized-rollup maintenance: yesterday's "
    "(event_type, day) rollup (built from event_id % 10 < 8) is "
    "updated with ONLY the delta batch's partial aggregate (the "
    "remaining 20%), merged by a full-outer join + counter/sum "
    "addition — never rescanning the base data. The algebraic-"
    "aggregate property that makes this sound is the same one behind "
    "the engine's salted aggregation and sketch merges (count and "
    "decimal-sum reassociate; avg would be maintained as sum/count "
    "pairs). The oracle recomputes the rollup from ALL events "
    "directly, so the hash check proves incremental ≡ full recompute "
    "— the correctness contract every incremental view engine "
    "(dbt incremental models, Materialize, Delta MERGE rollups) "
    "rests on. Scale: the update touches O(|delta| + |changed keys|) "
    "rows, not O(base).",
)
def incremental_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("value").cast("decimal(27,12)").alias("v"),
    )

    def rollup(df):
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    base = rollup(ev.where(F.col("event_id") % 10 < 8))
    delta = rollup(ev.where(F.col("event_id") % 10 >= 8))
    b = base.select(
        "event_type", "day", F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    d = delta.select(
        "event_type", "day", F.col("n").alias("n_d"), F.col("s").alias("s_d")
    )
    zero = F.lit(0).cast("decimal(27,12)")
    merged = b.join(d, ["event_type", "day"], "full_outer").select(
        "event_type",
        "day",
        (
            F.coalesce(F.col("n_b"), F.lit(0)) + F.coalesce(F.col("n_d"), F.lit(0))
        )
        .cast("bigint")
        .alias("n"),
        (
            F.coalesce(F.col("s_b"), zero) + F.coalesce(F.col("s_d"), zero)
        ).alias("s"),
    )
    return merged.select(
        "event_type",
        "day",
        "n",
        F.round(F.col("s").cast("double"), 6).alias("total_value"),
    )


@register(
    "events_equidepth_histogram",
    oracle="""
    WITH t AS (
      SELECT event_type, value, NTILE(10) OVER (PARTITION BY event_type
                                                ORDER BY value, event_id) AS dec
      FROM events
    )
    SELECT event_type, CAST(dec AS INTEGER) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo, MAX(value) AS hi
    FROM t GROUP BY 1, 2
    """,
    doc="Equi-DEPTH histogram (deciles) per event_type — the "
    "complement of the equi-width histogram sketch: fixed population "
    "per bucket, data-driven edges, the shape optimizers use for "
    "selectivity and dashboards use for robust distribution views. "
    "NTILE over the (value, event_id) total order makes bucket "
    "boundaries deterministic through ties; one window + one "
    "aggregate sharing the same event_type partitioning (single "
    "exchange). At 100 TB the same output comes from the histogram "
    "sketch at 1/∞ the cost when half-a-bin error is tolerable — "
    "this is the exact tier.",
)
def events_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(10).over(w).alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .select(
            "event_type", F.col("decile").cast("int").alias("decile"), "n", "lo", "hi"
        )
    )


@register(
    "events_mad_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type,
             (LIST_SORT(LIST(value)))[CAST(CEIL(0.5 * COUNT(*)) AS INTEGER)]
                 AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.event_id, e.value, m.med,
             ABS(e.value - m.med) AS adev
      FROM events e JOIN m USING (event_type)
    ),
    mad AS (
      SELECT event_type,
             (LIST_SORT(LIST(adev)))[CAST(CEIL(0.5 * COUNT(*)) AS INTEGER)]
                 AS mad
      FROM dev GROUP BY event_type
    )
    SELECT dev.event_type, dev.event_id, ROUND(dev.value, 6) AS value,
           ROUND(dev.med, 6) AS med,
           ROUND((dev.value - dev.med) / (1.4826 * mad.mad), 6) AS robust_z
    FROM dev JOIN mad USING (event_type)
    WHERE ABS((dev.value - dev.med) / (1.4826 * mad.mad)) > 3.5
    """,
    doc="Robust outlier detection by MAD z-score (the "
    "median/median-absolute-deviation estimator — immune to the "
    "outliers it hunts, unlike mean/stddev): per-segment exact "
    "discrete median (type-1, rank-based two-pass — no per-group "
    "list materialization on the Spark side, group size unbounded), "
    "absolute deviations, exact MAD the same way, then the 1.4826-"
    "normalized z flags |z| > 3.5 (Iglewicz-Hoaglin). Three window/"
    "aggregate passes all partitioned by event_type — Catalyst reuses "
    "one exchange; the 5-row median/MAD relations broadcast back.",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "event_id", "value")

    def discrete_median(df, col, out):
        wo = Window.partitionBy("event_type").orderBy(col, "event_id")
        wc = Window.partitionBy("event_type")
        ranked = df.withColumn("__rn", F.row_number().over(wo)).withColumn(
            "__nn", F.count(F.lit(1)).over(wc)
        )
        tgt = F.ceil(F.lit(0.5) * F.col("__nn")).cast("int")
        return (
            ranked.where(F.col("__rn") == tgt)
            .groupBy("event_type")
            .agg(F.min(col).alias(out))
        )

    med = discrete_median(ev, "value", "med")
    dev = ev.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = discrete_median(
        dev.select("event_type", F.col("event_id"), F.col("adev").alias("value")),
        "value",
        "mad",
    )
    z = (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        dev.join(mad, "event_type")
        .where(F.abs(z) > 3.5)
        .select(
            "event_type",
            "event_id",
            F.round("value", 6).alias("value"),
            F.round("med", 6).alias("med"),
            F.round(z, 6).alias("robust_z"),
        )
    )


@register(
    "events_hopping_rollup",
    oracle="""
    SELECT event_type,
           TIMESTAMP '1970-01-01'
             + TO_SECONDS(CAST((FLOOR(EPOCH(ts) / 900) - j.j) * 900 AS BIGINT))
                 AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(27,12))) AS DOUBLE), 6)
               AS total_value
    FROM events CROSS JOIN (SELECT UNNEST(RANGE(4)) AS j) j
    GROUP BY 1, 2
    """,
    doc="Hopping (sliding) window rollup — 1-hour windows every 15 "
    "minutes via Spark's native F.window(ts, '1 hour', '15 minutes'): "
    "each event lands in exactly width/slide = 4 windows, which Spark "
    "expands MAP-SIDE before one grouped aggregate (same bounded-"
    "replicate shape as the rolling-actives query — never a per-"
    "window rescan). The overlap factor is the fixed cost knob: 4× "
    "rows into a map-side-combined agg, zero extra shuffles vs the "
    "tumbling rollup. The oracle enumerates the same epoch-aligned "
    "window starts arithmetically; decimal-exact sums make the "
    "overlap aggregation order-independent.",
)
def events_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.window("ts", "1 hour", "15 minutes").alias("w"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(27,12)")).cast("double"), 6
            ).alias("total_value"),
        )
        .select(F.col("event_type"), F.col("w.start").alias("win_start"), "n", "total_value")
    )


@register(
    "skew_salted_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type,
             UPPER(SUBSTR(event_type, 1, 1)) || SUBSTR(event_type, 2)
                 AS type_label
      FROM events
    )
    SELECT e.event_id, e.event_type, d.type_label, ROUND(e.value, 6) AS value
    FROM events e JOIN dim d USING (event_type)
    """,
    doc="Skew-proof replicated join (operators/skew.py:"
    "salted_broadcast_replicate_join): every events row carries one "
    "of ~5 event_type keys — each key a heavy hitter, the case where "
    "a plain shuffled equi-join sends 20% of a 100 TB fact table to "
    "one reducer. The operator explodes the 5-row dimension ×32 salt "
    "buckets and salts the fact side deterministically (xxhash64 of "
    "event_id), so each hot key spreads over 32 partitions; when the "
    "replicated dim still fits a broadcast (it does here) Catalyst "
    "broadcasts it and the fact side never shuffles at all. The "
    "plain-join oracle proves salting is invisible in the output — "
    "the same contract as skew_salted_agg.",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.skew import (
        salted_broadcast_replicate_join,
    )

    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    dim = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.concat(
                F.upper(F.substring("event_type", 1, 1)),
                F.expr("substring(event_type, 2)"),
            ).alias("type_label"),
        )
    )
    out = salted_broadcast_replicate_join(
        ev, dim, key="event_type", salt=32, dist_cols=["event_id"]
    )
    return out.select(
        "event_id", "event_type", "type_label", F.round("value", 6).alias("value")
    )


@register(
    "events_interval_merge",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, ts,
             ts + TO_SECONDS(CAST(FLOOR(LEAST(3600, GREATEST(60, value * 100)))
                                  AS BIGINT)) AS te
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts, te,
             CASE WHEN MAX(te) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) >= ts
                  THEN 0 ELSE 1 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, ts, te,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS island_id
      FROM flagged
    )
    SELECT user_id, CAST(island_id AS BIGINT) AS island_id,
           MIN(ts) AS island_start, MAX(te) AS island_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM islands GROUP BY 1, 2
    """,
    doc="Overlapping-interval merge (gaps-and-islands): each event "
    "opens a value-scaled activity interval [ts, ts + 60..3600 s]; "
    "per-user intervals that overlap a running MAX(end) over the "
    "(ts, event_id) total order are coalesced into islands, and one "
    "hash aggregate emits each island's span and event count — the "
    "availability/uptime-coverage primitive behind SLA and session-"
    "coverage reporting. ONE shuffle total: the cummax window, the "
    "island-id running sum, and the per-(user, island) aggregate all "
    "share the user_id hash partitioning, so Spark reuses the single "
    "exchange. Interval ends are integer-second offsets (exact in "
    "both engines); timestamps and counts emit raw.",
)
def events_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        "ts",
        (
            F.col("ts")
            + F.make_dt_interval(
                secs=F.floor(
                    F.least(
                        F.lit(3600.0), F.greatest(F.lit(60.0), F.col("value") * 100)
                    )
                ).cast("bigint")
            )
        ).alias("te"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = iv.select(
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
        "island_id",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("user_id", F.col("island_id").cast("bigint").alias("island_id")).agg(
        F.min("ts").alias("island_start"),
        F.max("te").alias("island_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


@register(
    "events_sequence_pattern",
    oracle="""
    WITH paths AS (
      SELECT user_id, DATE_TRUNC('day', ts) AS day,
             STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
           CAST(LEN(REGEXP_EXTRACT_ALL(path, 'view>(error>)*purchase'))
                AS BIGINT) AS n_quick_buys,
           CAST(CASE WHEN REGEXP_MATCHES(path, 'signup(>.*)?>purchase')
                THEN 1 ELSE 0 END AS INTEGER) AS converted
    FROM paths
    """,
    doc="MATCH_RECOGNIZE-style sequence pattern matching: per "
    "(user, day) the event types are folded into an ordered path "
    "string ((ts, event_id) total order) and scanned with regexes — "
    "n_quick_buys counts non-overlapping view→purchase runs with only "
    "errors between (leftmost-greedy semantics agree between Java "
    "regex and DuckDB's RE2 for this backreference-free pattern), "
    "converted flags a signup..purchase subsequence. The day key "
    "bounds the collected path (≤ one day of one user's events), so "
    "state per group is O(events/user/day) — no unbounded per-user "
    "collect at 100 TB. One shuffle (user, day); Spark side builds "
    "the path with array_sort(collect_list(struct)) + transform + "
    "concat_ws, all JVM expressions.",
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    paths = (
        ev.groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return paths.select(
        "user_id",
        "day",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.size(F.expr("regexp_extract_all(path, 'view>(error>)*purchase', 0)"))
        .cast("bigint")
        .alias("n_quick_buys"),
        F.when(F.col("path").rlike("signup(>.*)?>purchase"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("converted"),
    )


@register(
    "events_changepoint_cusum",
    oracle="""
    WITH v AS (
      SELECT event_type, DATE_TRUNC('week', ts) AS wk, ts, event_id,
             CAST(value AS DECIMAL(18, 6)) AS dv,
             ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('week', ts)
                                ORDER BY ts, event_id) AS k
      FROM events
    ),
    tot AS (
      SELECT event_type, wk,
             CAST(SUM(dv) AS DOUBLE) AS s_n,
             COUNT(*) AS n
      FROM v GROUP BY 1, 2
    ),
    cusum AS (
      SELECT v.event_type, v.wk, v.k, v.ts,
             ABS(CAST(SUM(v.dv) OVER (PARTITION BY v.event_type, v.wk
                                      ORDER BY v.ts, v.event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS DOUBLE)
                 - CAST(v.k AS DOUBLE) * (tot.s_n / CAST(tot.n AS DOUBLE)))
               AS dev
      FROM v JOIN tot USING (event_type, wk)
    )
    SELECT event_type, wk AS week, CAST(k AS BIGINT) AS change_k,
           ts AS change_ts, ROUND(dev, 6) AS max_dev
    FROM (SELECT cusum.*,
                 ROW_NUMBER() OVER (PARTITION BY event_type, wk
                                    ORDER BY dev DESC, k) AS rnk
          FROM cusum)
    WHERE rnk = 1
    """,
    doc="CUSUM changepoint detection per (event_type, week): the "
    "cumulative sum of values minus the expected k·mean line peaks "
    "at the most likely mean-shift point (classic offline CUSUM "
    "statistic argmax_k |S_k − k·S_n/n|). The WEEK in the series key "
    "is the scale design: a per-type-only series is one unbounded "
    "sorted run on one core, while (type, week) bounds every "
    "window partition to a week of one type — the standard "
    "detect-within-rolling-window deployment shape. Running sums "
    "aggregate in DECIMAL(18,6) — exact, order-free — and only the "
    "final deviation arithmetic runs in double with an identical "
    "expression tree in both engines, rounded at 6 dp. The per-key "
    "totals broadcast-join back; the argmax is a rank-1 filter with "
    "a deterministic k tiebreak.",
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "wk").orderBy("ts", "event_id")
    v = ev.select(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("wk"),
        "ts",
        "event_id",
        F.col("value").cast("decimal(18,6)").alias("dv"),
    ).withColumn("k", F.row_number().over(w))
    tot = v.groupBy("event_type", "wk").agg(
        F.sum("dv").cast("double").alias("s_n"),
        F.count(F.lit(1)).alias("n"),
    )
    cusum = v.join(F.broadcast(tot), ["event_type", "wk"]).select(
        "event_type",
        "wk",
        "k",
        "ts",
        F.abs(
            F.sum("dv").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
            - F.col("k").cast("double") * (F.col("s_n") / F.col("n").cast("double"))
        ).alias("dev"),
    )
    wr = Window.partitionBy("event_type", "wk").orderBy(F.col("dev").desc(), "k")
    return (
        cusum.withColumn("rnk", F.row_number().over(wr))
        .where("rnk = 1")
        .select(
            "event_type",
            F.col("wk").alias("week"),
            F.col("k").cast("bigint").alias("change_k"),
            F.col("ts").alias("change_ts"),
            F.round("dev", 6).alias("max_dev"),
        )
    )


@register(
    "regr_linear_by_group",
    oracle="""
    WITH m AS (
      SELECT event_type,
             CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) AS x,
             CAST(value AS DECIMAL(18, 6)) AS y
      FROM events
    ),
    sums AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM m GROUP BY 1
    ),
    parts AS (
      SELECT event_type, n,
             n * sxy - sx * sy AS cxy,
             n * sxx - sx * sx AS cxx,
             n * syy - sy * sy AS cyy,
             sx, sy
      FROM sums
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(cxy / cxx, 6) AS slope,
           ROUND((sy - (cxy / cxx) * sx) / n, 6) AS intercept,
           ROUND((cxy * cxy) / (cxx * cyy), 6) AS r2
    FROM parts
    """,
    doc="Closed-form per-group OLS (value ~ epoch-day): one hash "
    "aggregate computes the six sufficient statistics (n, Σx, Σx², "
    "Σy, Σxy, Σy²) — the map-side-combinable shape that makes "
    "regression a single shuffle of |groups| rows at any corpus "
    "size — then slope/intercept/R² come from the normal equations "
    "on the driver-free aggregate row. Determinism: x is an exact "
    "integer day index, y aggregates in DECIMAL(18,6) (and x·y, y² "
    "as exact decimal products), so every sum is order-free exact; "
    "the covariance arithmetic runs in double with the identical "
    "expression tree in both engines (shared cxy/cxx/cyy columns), "
    "rounded at 6 dp.",
)
def regr_linear_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    m = ev.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("x"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    sums = m.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    parts = sums.select(
        "event_type",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cxy"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("cxx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).alias("cyy"),
        "sx",
        "sy",
    )
    return parts.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("cxy") / F.col("cxx"), 6).alias("slope"),
        F.round(
            (F.col("sy") - (F.col("cxy") / F.col("cxx")) * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
        F.round((F.col("cxy") * F.col("cxy")) / (F.col("cxx") * F.col("cyy")), 6).alias(
            "r2"
        ),
    )


@register(
    "agg_kmv_sketch",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || SUBSTR(MD5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT AS hv
      FROM events
    ),
    nd AS (SELECT event_type, COUNT(*) AS n_d FROM h GROUP BY 1),
    hf AS (
      SELECT h.event_type, h.hv
      FROM h JOIN nd USING (event_type)
      WHERE CAST(h.hv AS DOUBLE)
            <= 256.0::DOUBLE / CAST(nd.n_d AS DOUBLE)
               * 1152921504606846976.0::DOUBLE
    ),
    kmins AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM hf
    ),
    per_type AS (
      SELECT event_type AS scope,
             COUNT(*) AS n_mins,
             MAX(CASE WHEN rn = 64 THEN hv END) AS m_k
      FROM kmins WHERE rn <= 64 GROUP BY 1
    ),
    merged AS (
      SELECT '__all__' AS scope, COUNT(*) AS n_mins,
             MAX(CASE WHEN rn = 64 THEN hv END) AS m_k
      FROM (SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rn
            FROM (SELECT DISTINCT hv FROM kmins WHERE rn <= 64))
      WHERE rn <= 64
    ),
    exact_t AS (
      SELECT event_type AS scope, COUNT(DISTINCT user_id) AS exact_d
      FROM events GROUP BY 1
    ),
    exact_all AS (
      SELECT '__all__' AS scope, COUNT(DISTINCT user_id) AS exact_d FROM events
    ),
    sk AS (SELECT * FROM per_type UNION ALL SELECT * FROM merged),
    ex AS (SELECT * FROM exact_t UNION ALL SELECT * FROM exact_all)
    SELECT sk.scope,
           ROUND(CASE WHEN sk.n_mins < 64 THEN CAST(sk.n_mins AS DOUBLE)
                 ELSE 63.0::DOUBLE * 1152921504606846976.0::DOUBLE
                      / CAST(sk.m_k AS DOUBLE) END, 4) AS est_distinct,
           CAST(ex.exact_d AS BIGINT) AS exact_distinct
    FROM sk JOIN ex USING (scope)
    """,
    doc="KMV (k-minimum-values / bottom-k) distinct sketch, the "
    "mergeable theta-sketch family member: per event_type keep the "
    "64 smallest 60-bit md5 hashes of user_id; the k-th minimum "
    "m_k estimates distincts as (k−1)·2⁶⁰/m_k. The '__all__' row is "
    "computed by MERGING the per-type sketches (k smallest of the "
    "union of k-min sets) — the property that lets 100 TB of "
    "per-partition sketches combine into one 64-value state without "
    "re-scanning. Small-set exactness: groups with < k distinct "
    "hashes report their exact count. Scale: a τ = (4k/n)·2⁶⁰ "
    "pre-filter (n from one exact distinct count) caps the rank "
    "window's sorted partition at ~4k rows per group instead of ALL "
    "distinct member hashes — exact up to a < e⁻¹⁰⁰ Chernoff tail. "
    "Hashes are integer md5 arithmetic (cross-engine exact); the "
    "estimate is one double division rounded at 4 dp.",
)
def agg_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = 64
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    h = ev.select("event_type", hv.alias("hv")).distinct()
    # τ pre-filter (the classic KMV scale trick): the rank window below
    # would otherwise sort EVERY distinct hash per group; keeping only
    # hv ≤ (4k/n_distinct)·2⁶⁰ leaves ~4k candidates per group (exact
    # n_distinct from one agg — mirrored in the oracle), so the sorted
    # window partition is O(k), not O(members). Exactness: losing one
    # of the true k minima needs < k of n uniform hashes below a
    # threshold with expectation 4k — P < e⁻¹⁰⁰ by Chernoff, the same
    # negligible-collision class as the 64-bit shingle-hash argument;
    # groups with n_distinct ≤ 4k keep every hash (τ ≥ 2⁶⁰).
    nd = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_d"))
    hf = h.join(F.broadcast(nd), "event_type").where(
        F.col("hv").cast("double")
        <= F.lit(float(4 * k)) / F.col("n_d").cast("double")
        * F.lit(1152921504606846976.0)
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    kmins = hf.select("event_type", "hv").withColumn(
        "rn", F.row_number().over(w)
    ).where(F.col("rn") <= k)
    per_type = kmins.groupBy(F.col("event_type").alias("scope")).agg(
        F.count(F.lit(1)).alias("n_mins"),
        F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("m_k"),
    )
    wm = Window.orderBy("hv")
    merged = (
        kmins.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(wm))
        .where(F.col("rn") <= k)
        .groupBy(F.lit("__all__").alias("scope"))
        .agg(
            F.count(F.lit(1)).alias("n_mins"),
            F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("m_k"),
        )
    )
    exact_t = ev.groupBy(F.col("event_type").alias("scope")).agg(
        F.countDistinct("user_id").alias("exact_d")
    )
    exact_all = ev.groupBy(F.lit("__all__").alias("scope")).agg(
        F.countDistinct("user_id").alias("exact_d")
    )
    sk = per_type.unionAll(merged)
    ex = exact_t.unionAll(exact_all)
    est = (
        F.when(F.col("n_mins") < k, F.col("n_mins").cast("double"))
        .otherwise(
            F.lit(float(k - 1))
            * F.lit(1152921504606846976.0)
            / F.col("m_k").cast("double")
        )
    )
    return sk.join(ex, "scope").select(
        "scope",
        F.round(est, 4).alias("est_distinct"),
        F.col("exact_d").cast("bigint").alias("exact_distinct"),
    )


@register(
    "events_seasonal_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
             SUM(CAST(value AS DECIMAL(18, 6))) AS total
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT event_type, hod,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(total) AS DOUBLE) AS s1,
             CAST(SUM(total * total) AS DOUBLE) AS s2
      FROM hourly GROUP BY 1, 2
    )
    SELECT h.event_type, h.hour, h.hod,
           ROUND(CAST(h.total AS DOUBLE), 6) AS hourly_total,
           ROUND(CASE WHEN b.n * b.s2 - b.s1 * b.s1 > 0.0::DOUBLE
                 THEN (CAST(h.total AS DOUBLE) * b.n - b.s1)
                      / SQRT(b.n * b.s2 - b.s1 * b.s1)
                 END, 6) AS zscore,
           CAST(CASE WHEN b.n * b.s2 - b.s1 * b.s1 > 0.0::DOUBLE
                      AND ABS(CAST(h.total AS DOUBLE) * b.n - b.s1)
                          > 2.0::DOUBLE * SQRT(b.n * b.s2 - b.s1 * b.s1)
                 THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
    FROM hourly h JOIN base b USING (event_type, hod)
    """,
    doc="Seasonal-baseline anomaly detection: each (type, hour) bucket "
    "is z-scored against the distribution of OTHER hours sharing its "
    "hour-of-day — the daily-seasonality-aware version of the rolling "
    "z-score (X41), catching 'low for 3 AM' that a global threshold "
    "misses. Two hash aggregates (hourly totals; per-(type, hod) "
    "sufficient statistics — a 24·|types|-row model relation that "
    "broadcast-joins back), no windows, no per-row state. Decimal-"
    "exact sums; z = (x·n − S1)/√(n·(n·S2 − S1²)) — the same "
    "algebraically-expanded, division-late form as X41, one identical "
    "double tree in both engines, NULL-guarded for zero variance, "
    "rounded at 6 dp (population σ, the profile being the whole month).",
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("total"))
    base = hourly.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("total").cast("double").alias("s1"),
        F.sum(F.col("total") * F.col("total")).cast("double").alias("s2"),
    )
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    dev = F.col("total").cast("double") * F.col("n") - F.col("s1")
    return hourly.join(F.broadcast(base), ["event_type", "hod"]).select(
        "event_type",
        "hour",
        "hod",
        F.round(F.col("total").cast("double"), 6).alias("hourly_total"),
        F.round(
            F.when(var_n2 > F.lit(0.0), dev / F.sqrt(var_n2)),
            6,
        ).alias("zscore"),
        F.when(
            (var_n2 > F.lit(0.0))
            & (F.abs(dev) > F.lit(2.0) * F.sqrt(var_n2)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int")
        .alias("is_anomaly"),
    )


@register(
    "scalar_variant_props",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS max_k,
           CAST(COUNT(*) FILTER (WHERE props ->> '$.missing' IS NULL)
                AS BIGINT) AS n_missing_path
    FROM events GROUP BY 1
    """,
    doc="Semi-structured ingestion through Spark 4's VARIANT type: "
    "props parses once via parse_json into the binary variant "
    "encoding and fields extract with try_variant_get — the "
    "shred-on-read path that replaces per-access get_json_object "
    "re-parsing (one parse feeding N extractions instead of N "
    "parses) and is the engine-native answer for open-schema event "
    "payloads at scale. Missing paths yield NULL under try_ "
    "semantics (counted per group to pin that contract). The DuckDB "
    "oracle uses its native JSON ->> extraction; all outputs are "
    "exact integers.",
)
def scalar_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.parse_json("props").alias("pv"),
    ).select(
        "event_type",
        F.try_variant_get(F.col("pv"), "$.k", "long").alias("k"),
        F.try_variant_get(F.col("pv"), "$.missing", "long").alias("miss"),
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
        F.count(F.when(F.col("miss").isNull(), F.lit(1))).cast("bigint").alias(
            "n_missing_path"
        ),
    )


@register(
    "anomaly_top_contributors",
    oracle="""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
             SUM(CAST(value AS DECIMAL(18, 6))) AS total
      FROM events GROUP BY 1, 2, 3
    ),
    base AS (
      SELECT event_type, hod,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(total) AS DOUBLE) AS s1,
             CAST(SUM(total * total) AS DOUBLE) AS s2
      FROM hourly GROUP BY 1, 2
    ),
    anom AS (
      SELECT h.event_type, h.hour
      FROM hourly h JOIN base b USING (event_type, hod)
      WHERE b.n * b.s2 - b.s1 * b.s1 > 0.0::DOUBLE
        AND ABS(CAST(h.total AS DOUBLE) * b.n - b.s1)
            > 2.0::DOUBLE * SQRT(b.n * b.s2 - b.s1 * b.s1)
    ),
    contrib AS (
      SELECT e.event_type, DATE_TRUNC('hour', e.ts) AS hour, e.user_id,
             SUM(CAST(e.value AS DECIMAL(18, 6))) AS user_total,
             COUNT(*) AS n_events
      FROM events e JOIN anom
        ON anom.event_type = e.event_type
       AND anom.hour = DATE_TRUNC('hour', e.ts)
      GROUP BY 1, 2, 3
    )
    SELECT event_type, hour, user_id,
           ROUND(CAST(user_total AS DOUBLE), 6) AS user_total,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT contrib.*,
                 ROW_NUMBER() OVER (PARTITION BY event_type, hour
                                    ORDER BY user_total DESC, user_id) AS rnk
          FROM contrib)
    WHERE rnk <= 3
    """,
    doc="Anomaly root-cause drill-down: the seasonal (hour-of-day) "
    "z-score detector from events_seasonal_anomaly selects anomalous "
    "(type, hour) cells, which semi-join back against the raw events "
    "to rank each cell's top-3 contributing users — the "
    "detect-then-explain composition an on-call dashboard runs as "
    "one job. The anomaly set is output-sized (it broadcast-prunes "
    "the second events pass), per-user totals aggregate in exact "
    "decimal, and the top-3 window partitions by the anomalous cell. "
    "Ordering ties (equal decimal totals) break on user_id.",
)
def anomaly_top_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("total"))
    base = hourly.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("total").cast("double").alias("s1"),
        F.sum(F.col("total") * F.col("total")).cast("double").alias("s2"),
    )
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    dev = F.col("total").cast("double") * F.col("n") - F.col("s1")
    anom = (
        hourly.join(F.broadcast(base), ["event_type", "hod"])
        .where(
            (var_n2 > F.lit(0.0))
            & (F.abs(dev) > F.lit(2.0) * F.sqrt(var_n2))
        )
        .select("event_type", "hour")
    )
    contrib = (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "user_id",
            F.col("value").cast("decimal(18,6)").alias("dv"),
        )
        .join(F.broadcast(anom), ["event_type", "hour"])
        .groupBy("event_type", "hour", "user_id")
        .agg(
            F.sum("dv").alias("user_total"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    w = Window.partitionBy("event_type", "hour").orderBy(
        F.col("user_total").desc(), "user_id"
    )
    return (
        contrib.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "event_type",
            "hour",
            "user_id",
            F.round(F.col("user_total").cast("double"), 6).alias("user_total"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@register(
    "events_behavior_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT user_id, SUM(n) AS nt FROM c GROUP BY 1)
    SELECT c.user_id,
           CAST(tot.nt AS BIGINT) AS n_events,
           CAST(COUNT(*) AS INTEGER) AS n_types,
           ROUND(CAST(SUM(CAST(
             -(CAST(c.n AS DOUBLE) / CAST(tot.nt AS DOUBLE))
              * LN(CAST(c.n AS DOUBLE) / CAST(tot.nt AS DOUBLE))
           AS DECIMAL(27, 12))) AS DOUBLE) / LN(2.0::DOUBLE), 6) AS entropy_bits
    FROM c JOIN tot USING (user_id)
    GROUP BY c.user_id, tot.nt
    """,
    doc="Behavioral entropy per user: Shannon entropy (bits) of each "
    "user's event-type distribution — low entropy = single-behavior "
    "accounts (bots, scrapers), high = diverse organic use; the "
    "user-level twin of the character-entropy text signal (X49). Two "
    "hash aggregates sharing the user_id partitioning; per-term "
    "−p·ln p values are cast to exact DECIMAL before the sum (float "
    "SUM is not associative; decimal addition is — the BM25 "
    "discipline), and the single final /ln 2 + round runs the same "
    "IEEE tree in both engines.",
)
def events_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("user_id").agg(F.sum("n").alias("nt"))
    p = F.col("n").cast("double") / F.col("nt").cast("double")
    term = (-p * F.log(p)).cast("decimal(27,12)")
    return (
        c.join(tot, "user_id")
        .groupBy("user_id", "nt")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_types"),
            F.round(
                F.sum(term).cast("double") / F.log(F.lit(2.0)), 6
            ).alias("entropy_bits"),
        )
        .select(
            "user_id",
            F.col("nt").cast("bigint").alias("n_events"),
            "n_types",
            "entropy_bits",
        )
    )


@register(
    "join_point_in_time_scd2",
    oracle="""
    WITH changes AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    scd AS (
      SELECT user_id, ts AS valid_from, event_type AS status
      FROM changes
      WHERE prev_type IS NULL OR prev_type != event_type
    ),
    purchases AS (
      SELECT event_id, user_id, ts,
             ts - INTERVAL 1 HOUR AS lookup_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT MAX(s.valid_from) FROM scd s
            WHERE s.user_id = p.user_id
              AND s.valid_from <= p.lookup_ts) AS status_since,
           (SELECT s2.status FROM scd s2
            WHERE s2.user_id = p.user_id AND s2.valid_from <= p.lookup_ts
            ORDER BY s2.valid_from DESC LIMIT 1) AS status_1h_before
    FROM purchases p
    """,
    doc="Point-in-time (temporal) join against an SCD2 dimension: what "
    "STATUS EPISODE was each user in one hour before purchasing? The "
    "dimension is the scd2_build change log (X62 family) and the "
    "lookup is the classic warehouse time-travel join — implemented "
    "NOT as an interval-overlap join (episodes × facts explodes per "
    "key) but as an as-of join on valid_from (union + one keyed "
    "window, the operator's single-shuffle strategy): an episode "
    "valid at t is exactly the latest valid_from ≤ t. NULL when the "
    "user had no episode yet. The oracle brute-forces both the "
    "episode log and the correlated lookup.",
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.scd import scd2_build

    ev = table(spark, sf_dir, "events")
    scd = scd2_build(
        ev, key_col="user_id", attr_col="event_type", ts_col="ts",
        tiebreak_col="event_id",
    ).select("user_id", "valid_from", F.col("state").alias("status"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("lookup_ts"),
    )
    out = asof_join(
        purchases,
        scd,
        on="user_id",
        left_ts="lookup_ts",
        right_ts="valid_from",
        value_alias="status_since",
        right_values=["status"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "status_since",
        F.col("status").alias("status_1h_before"),
    )


@register(
    "events_survival_curve",
    oracle="""
    WITH span AS (SELECT MAX(ts) AS tmax FROM events),
    t0 AS (
      SELECT user_id, MIN(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    conv AS (
      SELECT t0.user_id,
             MIN(e.ts) AS purchase_ts
      FROM t0 JOIN events e
        ON e.user_id = t0.user_id AND e.event_type = 'purchase'
       AND e.ts >= t0.signup_ts
      GROUP BY 1
    ),
    dur AS (
      SELECT t0.user_id,
             CASE WHEN conv.purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CAST(FLOOR(EPOCH(COALESCE(conv.purchase_ts, span.tmax)
                              - t0.signup_ts) / 86400.0) AS BIGINT) AS d_days
      FROM t0 LEFT JOIN conv ON conv.user_id = t0.user_id CROSS JOIN span
    ),
    daily AS (
      SELECT d_days,
             SUM(ev) AS d,
             SUM(1 - ev) AS c
      FROM dur GROUP BY 1
    ),
    risk AS (
      SELECT d_days, d, c,
             (SELECT COUNT(*) FROM dur) -
             COALESCE(SUM(d + c) OVER (ORDER BY d_days
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n_risk
      FROM daily
    )
    SELECT CAST(d_days AS BIGINT) AS day,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           CAST(c AS BIGINT) AS n_censored,
           CASE WHEN MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY d_days ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) = 1
           THEN 0.0::DOUBLE
           ELSE ROUND(EXP(CAST(SUM(CASE WHEN d < n_risk THEN CAST(
                 LN(1.0::DOUBLE - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
               AS DECIMAL(27, 12)) ELSE CAST(0 AS DECIMAL(27, 12)) END)
               OVER (ORDER BY d_days ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS DOUBLE)), 6)
           END AS survival
    FROM risk
    """,
    doc="Kaplan–Meier survival curve for signup→purchase conversion "
    "latency, right-censored at the corpus horizon — the "
    "time-to-event estimator behind activation and retention "
    "analyses. Per-user durations from two aggregates + an as-of-"
    "style first-purchase lookup; the risk set n_t and the product-"
    "limit Π(1 − d/n) come from windows over the per-DAY relation "
    "(day-domain-bounded — ≤ horizon days — the skyline/X77 "
    "domain-window argument, not a corpus-sized sort). The product "
    "is computed as exp(Σ ln(1−d/n)) with the ln terms cast to "
    "exact decimal before the running sum (the BM25 discipline "
    "applied to a cumulative product), rounded at 6 dp.",
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    span = ev.agg(F.max("ts").alias("tmax"))
    t0 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    conv = (
        t0.join(
            ev.where(F.col("event_type") == "purchase").select(
                F.col("user_id").alias("_cu"), F.col("ts").alias("_pts")
            ),
            (F.col("user_id") == F.col("_cu")) & (F.col("_pts") >= F.col("signup_ts")),
        )
        .groupBy("user_id")
        .agg(F.min("_pts").alias("purchase_ts"))
    )
    dur = (
        t0.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(span))
        .select(
            "user_id",
            F.when(F.col("purchase_ts").isNotNull(), 1).otherwise(0).alias("ev"),
            F.floor(
                (
                    F.unix_timestamp(F.coalesce("purchase_ts", "tmax"))
                    - F.unix_timestamp("signup_ts")
                )
                / 86400.0
            )
            .cast("bigint")
            .alias("d_days"),
        )
    )
    total = dur.agg(F.count(F.lit(1)).alias("n_total"))
    daily = dur.groupBy("d_days").agg(
        F.sum("ev").alias("d"), F.sum(F.lit(1) - F.col("ev")).alias("c")
    )
    w_prev = Window.orderBy("d_days").rowsBetween(Window.unboundedPreceding, -1)
    w_cur = Window.orderBy("d_days").rowsBetween(Window.unboundedPreceding, 0)
    risk = daily.crossJoin(F.broadcast(total)).select(
        "d_days",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    # S(t) hits exactly 0 the first day the whole risk set events
    # (1 − d/n = 0 — ln undefined); the running hit-zero flag pins it.
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(
            F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double")
        ).cast("decimal(27,12)"),
    ).otherwise(F.lit(0).cast("decimal(27,12)"))
    hit0 = F.max(
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    ).over(w_cur)
    return risk.select(
        F.col("d_days").cast("bigint").alias("day"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_events"),
        F.col("c").cast("bigint").alias("n_censored"),
        F.when(hit0 == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.sum(term).over(w_cur).cast("double")), 6))
        .alias("survival"),
    )


@register(
    "events_holt_forecast",
    oracle="""
    WITH daily AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type,
             LIST(y ORDER BY day) AS ys,
             COUNT(*) AS n_days
      FROM daily GROUP BY 1
    ),
    fitted AS (
      SELECT event_type, n_days,
             LIST_REDUCE(
               LIST_PREPEND([ys[1], ys[2] - ys[1]],
                 LIST_TRANSFORM(ys[3:], y -> [y, 0.0::DOUBLE])),
               (acc, x) -> [
                 0.5::DOUBLE * x[1]
                   + 0.5::DOUBLE * (acc[1] + acc[2]),
                 0.3::DOUBLE * ((0.5::DOUBLE * x[1]
                   + 0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
                   + 0.7::DOUBLE * acc[2]
               ]) AS st
      FROM series WHERE n_days >= 2
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           ROUND(st[1], 6) AS level,
           ROUND(st[2], 6) AS trend,
           ROUND(st[1] + 7.0::DOUBLE * st[2], 6) AS forecast_7d
    FROM fitted
    """,
    doc="Holt's linear-trend exponential smoothing (double ES) per "
    "event_type, fit by a HIGHER-ORDER-FUNCTION FOLD: the recursive "
    "(level, trend) recurrence — unstreamable as window functions — "
    "runs as one aggregate() left fold over the per-type daily "
    "series with a 2-element array as carried state (α=0.5, β=0.3), "
    "then forecasts 7 days ahead. Scale: series arrays are DAY-"
    "DOMAIN-bounded per type (the CUSUM/X90 bounding argument); the "
    "corpus-sized work is the one daily hash aggregate; daily totals "
    "enter the fold as exact-decimal-cast doubles. Both engines "
    "execute the IDENTICAL left-to-right IEEE chain (Spark "
    "aggregate() ≡ DuckDB LIST_REDUCE with the same expression "
    "tree), so the fitted state hash-matches at 6 dp.",
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
        ).alias("ys"),
        F.count(F.lit(1)).alias("n_days"),
    ).where(F.col("n_days") >= 2)
    a, b = F.lit(0.5), F.lit(0.3)
    init = F.array(
        F.element_at("ys", 1), F.element_at("ys", 2) - F.element_at("ys", 1)
    )
    rest = F.slice(F.col("ys"), 3, 1000000)
    lvl = lambda acc, y: a * y + (F.lit(1.0) - a) * (
        F.element_at(acc, 1) + F.element_at(acc, 2)
    )
    st = F.aggregate(
        rest,
        init,
        lambda acc, y: F.array(
            lvl(acc, y),
            b * (lvl(acc, y) - F.element_at(acc, 1))
            + (F.lit(1.0) - b) * F.element_at(acc, 2),
        ),
    )
    fitted = series.select(
        "event_type", F.col("n_days").cast("bigint").alias("n_days"), st.alias("st")
    )
    return fitted.select(
        "event_type",
        "n_days",
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("trend"),
        F.round(
            F.element_at("st", 1) + F.lit(7.0) * F.element_at("st", 2), 6
        ).alias("forecast_7d"),
    )


@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, DATE_TRUNC('day', ts) AS d FROM events
    ),
    dau AS (
      SELECT d AS day, COUNT(*) AS dau FROM ud GROUP BY 1
    ),
    contrib AS (
      SELECT DISTINCT user_id, d + TO_DAYS(CAST(o.o AS INTEGER)) AS target_d
      FROM ud CROSS JOIN (SELECT UNNEST(RANGE(28)) AS o) o
    ),
    mau AS (
      SELECT c.target_d AS day, COUNT(DISTINCT c.user_id) AS mau
      FROM contrib c JOIN (SELECT DISTINCT d FROM ud) days
        ON days.d = c.target_d
      GROUP BY 1
    )
    SELECT CAST(dau.day AS TIMESTAMP) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(mau.mau AS BIGINT) AS mau,
           ROUND(CAST(dau.dau AS DOUBLE) / CAST(mau.mau AS DOUBLE), 6)
             AS stickiness
    FROM dau JOIN mau USING (day)
    """,
    doc="DAU / trailing-28-day MAU / stickiness (the DAU:MAU product "
    "health ratio): same scale shape as the rolling-7-day actives "
    "(X66) — (user, day) dedup once, each user-day exploded map-side "
    "to the ≤28 future days it keeps the user 'monthly active' for, "
    "deduped, counted — never a distinct-inside-range-window, never "
    "a per-day rescan. Emitted days restricted to days with "
    "activity; one integer division rounded at 6 dp.",
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("d")).distinct()
    dau = ud.groupBy(F.col("d").alias("day")).agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(27))).alias("o"),
            "d",
        )
        .select(
            "user_id",
            (F.col("d") + F.make_dt_interval(days=F.col("o"))).alias("target_d"),
        )
        .distinct()
    )
    days = ud.select("d").distinct()
    mau = (
        contrib.join(days, contrib["target_d"] == days["d"])
        .groupBy(F.col("target_d").alias("day"))
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return dau.join(mau, "day").select(
        "day",
        F.col("dau").cast("bigint").alias("dau"),
        F.col("mau").cast("bigint").alias("mau"),
        F.round(F.col("dau").cast("double") / F.col("mau").cast("double"), 6).alias(
            "stickiness"
        ),
    )


@register(
    "events_gini_concentration",
    oracle="""
    WITH ut AS (
      SELECT event_type, user_id,
             SUM(CAST(value AS DECIMAL(18, 6))) AS x
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, user_id, x,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY x, user_id) AS i,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(x) OVER (PARTITION BY event_type) AS sx
      FROM ut
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_users,
           ROUND(CAST(SUM((2 * i - n - 1) * x) AS DOUBLE)
                 / (CAST(MAX(n) AS DOUBLE) * CAST(MAX(sx) AS DOUBLE)), 6)
             AS gini
    FROM ranked GROUP BY event_type
    """,
    doc="Gini coefficient of per-user activity concentration, per "
    "event_type — the inequality measure behind 'do 1% of users "
    "produce 90% of the traffic?'. Computed by the sorted-rank "
    "formula G = Σ(2i−n−1)xᵢ / (n·Σx): one window rank over the "
    "per-(type, user) totals — a USER-DOMAIN-sized relation (the "
    "corpus-sized work is the first hash aggregate), ties broken on "
    "user_id. (2i−n−1)·x is an exact integer×decimal product, so "
    "the numerator sums exactly; one double division rounded at "
    "6 dp.",
)
def events_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    ut = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    wp = Window.partitionBy("event_type")
    ranked = ut.select(
        "event_type",
        "user_id",
        "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("x").over(wp).alias("sx"),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_users"),
        F.round(
            F.sum(
                (F.lit(2) * F.col("i") - F.col("n") - F.lit(1)) * F.col("x")
            ).cast("double")
            / (F.max("n").cast("double") * F.max("sx").cast("double")),
            6,
        ).alias("gini"),
    )


@register(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    split AS (SELECT MAX(day) - INTERVAL 7 DAY AS cutoff FROM daily),
    train AS (
      SELECT d.event_type, LIST(d.y ORDER BY d.day) AS ys, COUNT(*) AS n_train
      FROM daily d CROSS JOIN split s WHERE d.day <= s.cutoff
      GROUP BY 1
    ),
    fitted AS (
      SELECT event_type, n_train,
             LIST_REDUCE(
               LIST_PREPEND([ys[1], ys[2] - ys[1]],
                 LIST_TRANSFORM(ys[3:], y -> [y, 0.0::DOUBLE])),
               (acc, x) -> [
                 0.5::DOUBLE * x[1] + 0.5::DOUBLE * (acc[1] + acc[2]),
                 0.3::DOUBLE * ((0.5::DOUBLE * x[1]
                   + 0.5::DOUBLE * (acc[1] + acc[2])) - acc[1])
                   + 0.7::DOUBLE * acc[2]
               ]) AS st
      FROM train WHERE n_train >= 2
    ),
    holdout AS (
      SELECT d.event_type, d.day, d.y,
             CAST(DATE_DIFF('day', s.cutoff, d.day) AS BIGINT) AS h
      FROM daily d CROSS JOIN split s WHERE d.day > s.cutoff
    ),
    scored AS (
      SELECT h.event_type,
             CAST(ABS(h.y - (f.st[1] + CAST(h.h AS DOUBLE) * f.st[2]))
                  AS DECIMAL(27, 12)) AS abs_err,
             CAST(ABS(h.y) AS DECIMAL(27, 12)) AS abs_y,
             f.n_train
      FROM holdout h JOIN fitted f USING (event_type)
    )
    SELECT event_type,
           CAST(MAX(n_train) AS BIGINT) AS n_train,
           CAST(COUNT(*) AS BIGINT) AS n_holdout,
           ROUND(CAST(SUM(abs_err) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mae,
           ROUND(CAST(SUM(abs_err) AS DOUBLE) / CAST(SUM(abs_y) AS DOUBLE), 6)
             AS wape
    FROM scored GROUP BY event_type
    """,
    doc="Forecast BACKTEST: Holt double-ES (X118's exact HOF fold) fit "
    "on all but the last 7 days, h-step forecasts scored against the "
    "held-out week — MAE and WAPE (weighted MAPE: Σ|err|/Σ|y|, the "
    "zero-actual-safe form) per series. The evaluation half every "
    "forecasting deployment needs next to the fit (the "
    "dedup_minhash_recall_eval philosophy applied to time series). "
    "Same bounding as X118 (day-domain series arrays); absolute "
    "errors cast to exact decimal before summing, final divisions "
    "rounded at 6 dp.",
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
    split = daily.agg(
        (F.max("day") - F.expr("INTERVAL 7 DAY")).alias("cutoff")
    )
    train = (
        daily.crossJoin(F.broadcast(split))
        .where(F.col("day") <= F.col("cutoff"))
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
            ).alias("ys"),
            F.count(F.lit(1)).alias("n_train"),
        )
        .where(F.col("n_train") >= 2)
    )
    a, b = F.lit(0.5), F.lit(0.3)
    init = F.array(
        F.element_at("ys", 1), F.element_at("ys", 2) - F.element_at("ys", 1)
    )
    lvl = lambda acc, y: a * y + (F.lit(1.0) - a) * (
        F.element_at(acc, 1) + F.element_at(acc, 2)
    )
    st = F.aggregate(
        F.slice(F.col("ys"), 3, 1000000),
        init,
        lambda acc, y: F.array(
            lvl(acc, y),
            b * (lvl(acc, y) - F.element_at(acc, 1))
            + (F.lit(1.0) - b) * F.element_at(acc, 2),
        ),
    )
    fitted = train.select("event_type", "n_train", st.alias("st"))
    holdout = (
        daily.crossJoin(F.broadcast(split))
        .where(F.col("day") > F.col("cutoff"))
        .select(
            "event_type",
            "y",
            F.datediff("day", "cutoff").cast("bigint").alias("h"),
        )
    )
    scored = holdout.join(fitted, "event_type").select(
        "event_type",
        "n_train",
        F.abs(
            F.col("y")
            - (
                F.element_at("st", 1)
                + F.col("h").cast("double") * F.element_at("st", 2)
            )
        )
        .cast("decimal(27,12)")
        .alias("abs_err"),
        F.abs("y").cast("decimal(27,12)").alias("abs_y"),
    )
    return scored.groupBy("event_type").agg(
        F.max("n_train").cast("bigint").alias("n_train"),
        F.count(F.lit(1)).cast("bigint").alias("n_holdout"),
        F.round(
            F.sum("abs_err").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mae"),
        F.round(F.sum("abs_err").cast("double") / F.sum("abs_y").cast("double"), 6).alias(
            "wape"
        ),
    )


@register(
    "events_error_budget_burn",
    oracle="""
    WITH hourly AS (
      SELECT DATE_TRUNC('hour', ts) AS hour,
             COUNT(*) AS n_total,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
      FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(n_total) AS grand_total FROM hourly)
    SELECT hour, CAST(n_total AS BIGINT) AS n_total,
           CAST(n_err AS BIGINT) AS n_err,
           ROUND(CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
             AS error_rate,
           CAST(SUM(n_err) OVER (ORDER BY hour
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_errors,
           ROUND(CAST(SUM(n_err) OVER (ORDER BY hour
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS DOUBLE)
                 / (0.05::DOUBLE * CAST(tot.grand_total AS DOUBLE)), 6)
             AS budget_consumed,
           CAST(CASE WHEN CAST(n_err AS DOUBLE) / CAST(n_total AS DOUBLE)
                          > 0.05::DOUBLE * 14.4::DOUBLE
                THEN 1 ELSE 0 END AS INTEGER) AS fast_burn_alert
    FROM hourly CROSS JOIN tot
    """,
    doc="SRE error-budget burn-down against a 5% SLO: hourly error "
    "rates, the cumulative share of the period's total error budget "
    "consumed (SUM over the HOUR-DOMAIN-bounded hourly relation — "
    "the X116 window argument), and the Google-SRE fast-burn alert "
    "(rate > 14.4× budget ⇒ the monthly budget would die in 2 "
    "days). The 1-row grand total broadcast-joins back; counts are "
    "exact, two rounded divisions.",
)
def events_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("n_err"),
    )
    tot = hourly.agg(F.sum("n_total").alias("grand_total"))
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    rate = F.col("n_err").cast("double") / F.col("n_total").cast("double")
    return hourly.crossJoin(F.broadcast(tot)).select(
        "hour",
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n_err").cast("bigint").alias("n_err"),
        F.round(rate, 6).alias("error_rate"),
        F.sum("n_err").over(w).cast("bigint").alias("cum_errors"),
        F.round(
            F.sum("n_err").over(w).cast("double")
            / (F.lit(0.05) * F.col("grand_total").cast("double")),
            6,
        ).alias("budget_consumed"),
        F.when(rate > F.lit(0.05) * F.lit(14.4), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("fast_burn_alert"),
    )


@register(
    "fuzzy_dedup_part_names",
    oracle="""
    WITH g AS (
      SELECT p_name, CAST(MIN(p_partkey) AS BIGINT) AS rep,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM part GROUP BY p_name
    ),
    blocked AS (
      SELECT a.rep AS rep_a, b.rep AS rep_b,
             a.p_name AS name_a, b.p_name AS name_b,
             a.n AS n_a, b.n AS n_b,
             CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
      FROM g a JOIN g b
        ON SPLIT_PART(a.p_name, ' ', 1) = SPLIT_PART(b.p_name, ' ', 1)
       AND a.rep < b.rep
       AND ABS(LEN(a.p_name) - LEN(b.p_name)) <= 4
    )
    SELECT rep_a, rep_b, name_a, name_b, dist, n_a, n_b,
           CAST(n_a * n_b AS BIGINT) AS pair_count
    FROM blocked WHERE dist > 0 AND dist <= 4
    """,
    doc="Record-linkage fuzzy dedup on part names: typo-level "
    "near-duplicates (edit distance ≤ 4) that shingle Jaccard "
    "structurally misses. Exact-first contraction (standing rule): "
    "the corpus collapses to its ~10² distinct names BEFORE the pair "
    "stage — the raw blocked join would carry 250 k pairs at sf0.01 "
    "(measured), the contracted one ~10² — then blocked "
    "first-token + length-band equi-join (banded 3× bucket explode, "
    "no inequality join), JVM-codegen levenshtein, and cluster "
    "multiplicities (n_a·n_b raw pairs per surviving cluster pair) "
    "instead of re-expansion. The operator tier "
    "(operators/dedup.fuzzy_levenshtein_pairs) fans back out to "
    "id-level pairs when a consumer needs them; raw ≡ contracted is "
    "pinned in pytest.",
)
def fuzzy_dedup_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.dedup import (
        fuzzy_levenshtein_pairs_reps,
    )

    p = table(spark, sf_dir, "part")
    g = (
        p.groupBy("p_name")
        .agg(
            F.min("p_partkey").cast("bigint").alias("rep"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(F.col("rep").alias("doc_id"), F.col("p_name").alias("text"), "n")
    )
    pairs = fuzzy_levenshtein_pairs_reps(g, max_dist=4, len_band=4)
    ga = g.select(
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("name_a"),
        F.col("n").alias("n_a"),
    )
    gb = g.select(
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("name_b"),
        F.col("n").alias("n_b"),
    )
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            F.col("doc_a").alias("rep_a"),
            F.col("doc_b").alias("rep_b"),
            "name_a",
            "name_b",
            F.col("dist").cast("int").alias("dist"),
            "n_a",
            "n_b",
            (F.col("n_a") * F.col("n_b")).cast("bigint").alias("pair_count"),
        )
    )


@register(
    "kmv_audience_overlap",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             ('0x' || SUBSTR(MD5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT AS hv
      FROM events
    ),
    kmins AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ),
    sk AS (SELECT event_type AS t, hv FROM kmins WHERE rn <= 64),
    ty AS (SELECT DISTINCT t FROM sk),
    pr AS (SELECT a.t AS ta, b.t AS tb FROM ty a JOIN ty b ON a.t < b.t),
    mem AS (
      SELECT pr.ta, pr.tb, sk.hv,
             MAX(CASE WHEN sk.t = pr.ta THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN sk.t = pr.tb THEN 1 ELSE 0 END) AS in_b
      FROM pr JOIN sk ON sk.t = pr.ta OR sk.t = pr.tb
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
      FROM mem
    ),
    est AS (
      SELECT ta, tb,
             COUNT(*) AS n_union_mins,
             MAX(CASE WHEN rn = 64 THEN hv END) AS m_k,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
      FROM ranked WHERE rn <= 64 GROUP BY 1, 2
    ),
    eu AS (SELECT DISTINCT event_type AS t, user_id FROM events),
    ex AS (
      SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS exact_inter
      FROM eu a JOIN eu b ON a.user_id = b.user_id AND a.t < b.t
      GROUP BY 1, 2
    ),
    sz AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS nd FROM eu GROUP BY 1)
    SELECT est.ta AS type_a, est.tb AS type_b,
           ROUND(CAST(est.n_both AS DOUBLE)
                 / CAST(LEAST(64, est.n_union_mins) AS DOUBLE), 4)
             AS est_jaccard,
           ROUND(CAST(est.n_both AS DOUBLE)
                 / CAST(LEAST(64, est.n_union_mins) AS DOUBLE)
                 * (CASE WHEN est.n_union_mins < 64
                         THEN CAST(est.n_union_mins AS DOUBLE)
                         ELSE 63.0::DOUBLE * 1152921504606846976.0::DOUBLE
                              / CAST(est.m_k AS DOUBLE) END), 4)
             AS est_intersection,
           COALESCE(ex.exact_inter, 0) AS exact_inter,
           ROUND(CAST(COALESCE(ex.exact_inter, 0) AS DOUBLE)
                 / CAST(sa.nd + sb.nd - COALESCE(ex.exact_inter, 0) AS DOUBLE),
                 4) AS exact_jaccard
    FROM est
    LEFT JOIN ex ON ex.ta = est.ta AND ex.tb = est.tb
    JOIN sz sa ON sa.t = est.ta
    JOIN sz sb ON sb.t = est.tb
    """,
    doc="Theta-sketch-style set algebra over KMV sketches: pairwise "
    "audience overlap between event types WITHOUT rescanning members. "
    "Per pair, the union sketch is the k smallest of the two k-min "
    "sets (the KMV merge); ρ = fraction of those union minima present "
    "in BOTH sketches estimates Jaccard, and ρ · est(|A∪B|) estimates "
    "the intersection (Beyer et al. 2007). Exact intersection/Jaccard "
    "computed alongside as the audit columns. At 100 TB the sketch "
    "relation is |types|·k rows — set algebra over arbitrarily many "
    "segments runs on KB of state, the whole point of the mergeable-"
    "sketch family. Hashes are integer md5 arithmetic; estimates are "
    "single shared double trees rounded at 4 dp — fully oracle-"
    "replayable, including the estimator's error vs the exact columns.",
)
def kmv_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = 64
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    h = ev.select("event_type", hv.alias("hv")).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        h.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(F.col("event_type").alias("t"), "hv")
    )
    ty = sk.select("t").distinct()
    pr = ty.alias("a").join(
        ty.alias("b"), F.col("a.t") < F.col("b.t")
    ).select(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
    mem = (
        F.broadcast(pr)
        .join(sk, (sk["t"] == F.col("ta")) | (sk["t"] == F.col("tb")))
        .groupBy("ta", "tb", "hv")
        .agg(
            F.max(F.when(F.col("t") == F.col("ta"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("t") == F.col("tb"), 1).otherwise(0)).alias("in_b"),
        )
    )
    wu = Window.partitionBy("ta", "tb").orderBy("hv")
    est = (
        mem.withColumn("rn", F.row_number().over(wu))
        .where(F.col("rn") <= k)
        .groupBy("ta", "tb")
        .agg(
            F.count(F.lit(1)).alias("n_union_mins"),
            F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("m_k"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
        )
    )
    eu = ev.select(F.col("event_type").alias("t"), "user_id").distinct()
    ex = (
        eu.alias("a")
        .join(
            eu.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_inter"))
    )
    sz = eu.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    rho = F.col("n_both").cast("double") / F.least(
        F.lit(k), F.col("n_union_mins")
    ).cast("double")
    est_union = F.when(
        F.col("n_union_mins") < k, F.col("n_union_mins").cast("double")
    ).otherwise(
        F.lit(63.0) * F.lit(1152921504606846976.0) / F.col("m_k").cast("double")
    )
    ein = F.coalesce(F.col("exact_inter"), F.lit(0).cast("bigint"))
    return (
        est.join(ex, ["ta", "tb"], "left")
        .join(sz.withColumnsRenamed({"t": "ta", "nd": "nd_a"}), "ta")
        .join(sz.withColumnsRenamed({"t": "tb", "nd": "nd_b"}), "tb")
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.round(rho, 4).alias("est_jaccard"),
            F.round(rho * est_union, 4).alias("est_intersection"),
            ein.alias("exact_inter"),
            F.round(
                ein.cast("double")
                / (F.col("nd_a") + F.col("nd_b") - ein).cast("double"),
                4,
            ).alias("exact_jaccard"),
        )
    )


@register(
    "events_holt_winters_seasonal",
    oracle="""
    WITH daily AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, LIST(y ORDER BY day) AS ys, COUNT(*) AS n_days
      FROM daily GROUP BY 1
    ),
    init AS (
      SELECT event_type, ys, n_days,
             (ys[1] + ys[2] + ys[3] + ys[4] + ys[5] + ys[6] + ys[7])
               / 7.0::DOUBLE AS lvl0
      FROM series WHERE n_days >= 14
    ),
    init2 AS (
      SELECT event_type, ys, n_days, lvl0,
             ((ys[8] + ys[9] + ys[10] + ys[11] + ys[12] + ys[13] + ys[14])
               / 7.0::DOUBLE - lvl0) / 7.0::DOUBLE AS trd0
      FROM init
    ),
    fitted AS (
      SELECT event_type, n_days,
             LIST_REDUCE(
               LIST_PREPEND(
                 LIST_CONCAT(
                   [lvl0, trd0],
                   LIST_TRANSFORM(ys[1:7], v -> v - lvl0)),
                 LIST_TRANSFORM(ys[15:], y -> [y, 0.0::DOUBLE, 0.0::DOUBLE,
                   0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
                   0.0::DOUBLE, 0.0::DOUBLE])),
               (acc, x) -> LIST_CONCAT(LIST_CONCAT(
                 [0.3::DOUBLE * (x[1] - acc[3])
                    + 0.7::DOUBLE * (acc[1] + acc[2]),
                  0.2::DOUBLE * ((0.3::DOUBLE * (x[1] - acc[3])
                    + 0.7::DOUBLE * (acc[1] + acc[2])) - acc[1])
                    + 0.8::DOUBLE * acc[2]],
                 acc[4:9]),
                 [0.4::DOUBLE * (x[1] - (0.3::DOUBLE * (x[1] - acc[3])
                    + 0.7::DOUBLE * (acc[1] + acc[2])))
                    + 0.6::DOUBLE * acc[3]])) AS st
      FROM init2
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           ROUND(st[1], 6) AS level,
           ROUND(st[2], 6) AS trend,
           ROUND(st[3], 6) AS season_next,
           ROUND(st[1] + 7.0::DOUBLE * st[2] + st[9], 6) AS forecast_7d
    FROM fitted
    """,
    doc="Holt-Winters ADDITIVE seasonal smoothing (α=0.3, β=0.2, "
    "γ=0.4, weekly m=7 over the daily series) — the seasonality-aware "
    "upgrade of events_holt_forecast: level, trend AND a rotating "
    "7-slot seasonal state carried through ONE aggregate() fold whose "
    "accumulator is [level, trend, s_head..s_tail]; each step consumes "
    "the head seasonal slot (the t−m component) and appends the "
    "re-estimated one, so no modular indexing enters the expression "
    "tree. Init is the classic two-week recipe (first-week mean "
    "level, week-over-week mean trend, first-week deviations as "
    "seasonals), written as explicit left-associated chains so both "
    "engines share the IEEE tree. Forecast h=7 lands on the same "
    "weekday: level + 7·trend + tail slot. Same bounded-series "
    "contract as Holt (day-domain-bounded arrays per type).",
)
def events_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
    series = (
        daily.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("day", "y"))), lambda s: s["y"]
            ).alias("ys"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .where(F.col("n_days") >= 14)
    )
    e = lambda i: F.element_at("ys", i)  # noqa: E731
    lvl0 = (e(1) + e(2) + e(3) + e(4) + e(5) + e(6) + e(7)) / F.lit(7.0)
    trd0 = (
        (e(8) + e(9) + e(10) + e(11) + e(12) + e(13) + e(14)) / F.lit(7.0) - lvl0
    ) / F.lit(7.0)
    init = F.concat(
        F.array(lvl0, trd0),
        F.transform(F.slice("ys", 1, 7), lambda v: v - lvl0),
    )
    al, be, ga = F.lit(0.3), F.lit(0.2), F.lit(0.4)
    lvl_n = lambda acc, y: al * (y - F.element_at(acc, 3)) + F.lit(0.7) * (  # noqa: E731
        F.element_at(acc, 1) + F.element_at(acc, 2)
    )
    st = F.aggregate(
        F.slice(F.col("ys"), 15, 1000000),
        init,
        lambda acc, y: F.concat(
            F.array(
                lvl_n(acc, y),
                be * (lvl_n(acc, y) - F.element_at(acc, 1))
                + F.lit(0.8) * F.element_at(acc, 2),
            ),
            F.slice(acc, 4, 6),
            F.array(
                ga * (y - lvl_n(acc, y)) + F.lit(0.6) * F.element_at(acc, 3)
            ),
        ),
    )
    fitted = series.select(
        "event_type", F.col("n_days").cast("bigint").alias("n_days"), st.alias("st")
    )
    return fitted.select(
        "event_type",
        "n_days",
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("trend"),
        F.round(F.element_at("st", 3), 6).alias("season_next"),
        F.round(
            F.element_at("st", 1)
            + F.lit(7.0) * F.element_at("st", 2)
            + F.element_at("st", 9),
            6,
        ).alias("forecast_7d"),
    )


@register(
    "incremental_join_maintenance",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="Incremental materialized-JOIN maintenance — the delta-join "
    "algebra every incremental view engine rests on: with base/delta "
    "splits A∪ΔA (orders) and B∪ΔB (customer), the maintained join is "
    "M ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — three DELTA-sized joins unioned onto "
    "the existing materialization, never a rescan-and-rejoin of the "
    "base relations. Extends incremental_rollup_maintenance (algebraic "
    "aggregates) to the join operator; the oracle computes the full "
    "join of the complete tables, so the hash check proves the "
    "incremental algebra ≡ full recompute, including the ΔA⋈ΔB corner "
    "every naive implementation forgets. Scale: maintenance cost is "
    "O(|Δ| · join fan-out), independent of |base|; at 100 TB the delta "
    "joins broadcast (delta-sized) while the base materialization is "
    "never touched.",
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    a = o.where(F.col("o_orderkey") % 10 < 8)
    da = o.where(F.col("o_orderkey") % 10 >= 8)
    b = c.where(F.col("c_custkey") % 10 < 8)
    db = c.where(F.col("c_custkey") % 10 >= 8)

    def j(left, right):
        return left.join(right, left["o_custkey"] == right["c_custkey"]).select(
            "o_orderkey", "o_custkey", "c_name", "o_totalprice"
        )

    m = j(a, b)  # the existing materialization
    return m.unionByName(j(da, b)).unionByName(j(a, db)).unionByName(j(da, db))


@register(
    "events_last_touch_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    attributed AS (
      SELECT p.user_id, p.event_id, p.ts, p.value,
             (SELECT MAX(c.click_ts) FROM clicks c
              WHERE c.user_id = p.user_id AND c.click_ts <= p.ts
                AND c.click_ts >= p.ts - INTERVAL 7 DAY) AS attr_click_ts
      FROM purchases p
    )
    SELECT user_id, event_id,
           ts AS purchase_ts,
           attr_click_ts,
           CAST(attr_click_ts IS NOT NULL AS INTEGER) AS attributed,
           ROUND(CASE WHEN attr_click_ts IS NOT NULL
                      THEN CAST(EPOCH_US(ts) - EPOCH_US(attr_click_ts)
                                AS DOUBLE) / 3600000000.0
                 END, 6) AS hours_to_convert,
           ROUND(value, 6) AS value
    FROM attributed
    """,
    doc="Last-touch marketing attribution: each purchase is attributed "
    "to the user's most recent click within a 7-day lookback — the "
    "as-of join (backward, tolerance-bounded) composed into the "
    "attribution shape analytics teams ship on every events table. "
    "One union+window as-of pass (no range-explosion join); "
    "unattributed purchases survive with NULL. Output carries "
    "time-to-convert hours (single double division rounded at 6 dp).",
)
def events_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    out = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        value_alias="attr_click_ts",
        direction="backward",
        tolerance_seconds=7 * 86400,
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("ts").alias("purchase_ts"),
        "attr_click_ts",
        F.col("attr_click_ts").isNotNull().cast("int").alias("attributed"),
        F.round(
            F.when(
                F.col("attr_click_ts").isNotNull(),
                (
                    F.unix_micros("ts") - F.unix_micros("attr_click_ts")
                ).cast("double")
                / F.lit(3600000000.0),
            ),
            6,
        ).alias("hours_to_convert"),
        F.round("value", 6).alias("value"),
    )


@register(
    "entity_resolution_parts",
    oracle="""
    WITH RECURSIVE g AS (
      SELECT p_name, CAST(MIN(p_partkey) AS BIGINT) AS rep,
             CAST(COUNT(*) AS BIGINT) AS n_records
      FROM part GROUP BY p_name
    ),
    pairs AS (
      SELECT a.rep AS doc_a, b.rep AS doc_b
      FROM g a JOIN g b
        ON SPLIT_PART(a.p_name, ' ', 1) = SPLIT_PART(b.p_name, ' ', 1)
       AND a.rep < b.rep
       AND ABS(LEN(a.p_name) - LEN(b.p_name)) <= 4
      WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 4
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT u, u FROM (SELECT u FROM edges UNION SELECT v FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    assigned AS (
      SELECT g.rep, g.p_name, g.n_records,
             COALESCE(c.component, g.rep) AS cluster_id
      FROM g LEFT JOIN comp c ON c.node = g.rep
    ),
    canon AS (
      SELECT cluster_id, p_name AS canonical_name
      FROM (SELECT cluster_id, p_name,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                                      ORDER BY n_records DESC, rep) AS rk
            FROM assigned)
      WHERE rk = 1
    )
    SELECT a.rep, a.p_name, a.n_records, a.cluster_id, c.canonical_name,
           CAST(COUNT(*) OVER (PARTITION BY a.cluster_id) AS BIGINT)
               AS cluster_variants
    FROM assigned a JOIN canon c USING (cluster_id)
    """,
    doc="End-to-end ENTITY RESOLUTION: the full record-linkage "
    "pipeline composed from this round's and prior rounds' tiers — "
    "(1) exact contraction to distinct names, (2) blocked "
    "edit-distance candidate pairs (fuzzy_levenshtein_pairs_reps), "
    "(3) connected components over the match graph (large-star/"
    "small-star, O(log n) rounds — matching is not transitive, the "
    "same non-transitivity argument as near-dup dedup), (4) "
    "survivorship: the cluster's canonical record is its most "
    "frequent variant (ties to the smallest id). The oracle replays "
    "every stage (blocked join, recursive-CTE components, ranked "
    "survivorship), so the hash check proves the COMPOSITION, not "
    "just the pieces. Scale: every stage is the bounded shape its "
    "component query already measured; nothing here is all-pairs.",
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.dedup import (
        connected_components,
        fuzzy_levenshtein_pairs_reps,
    )

    p = table(spark, sf_dir, "part")
    g = p.groupBy("p_name").agg(
        F.min("p_partkey").cast("bigint").alias("rep"),
        F.count(F.lit(1)).cast("bigint").alias("n_records"),
    )
    gd = g.select(F.col("rep").alias("doc_id"), F.col("p_name").alias("text"))
    pairs = fuzzy_levenshtein_pairs_reps(gd, max_dist=4, len_band=4)
    cc = connected_components(pairs)
    assigned = g.join(
        cc.withColumnRenamed("node", "rep"), "rep", "left"
    ).select(
        "rep",
        "p_name",
        "n_records",
        F.coalesce("component", "rep").alias("cluster_id"),
    )
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.col("n_records").desc(), "rep"
    )
    canon = (
        assigned.withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") == 1)
        .select("cluster_id", F.col("p_name").alias("canonical_name"))
    )
    w_sz = Window.partitionBy("cluster_id")
    return (
        assigned.join(canon, "cluster_id")
        .select(
            "rep",
            "p_name",
            "n_records",
            "cluster_id",
            "canonical_name",
            F.count(F.lit(1)).over(w_sz).cast("bigint").alias("cluster_variants"),
        )
    )


@register(
    "events_psi_drift",
    oracle="""
    WITH cut AS (
      SELECT MIN(DATE_TRUNC('day', ts)) + INTERVAL 15 DAY AS c FROM events
    ),
    tagged AS (
      SELECT event_type, value,
             CASE WHEN ts < cut.c THEN 0 ELSE 1 END AS period
      FROM events CROSS JOIN cut
    ),
    span AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM tagged WHERE period = 0 GROUP BY 1
    ),
    binned AS (
      SELECT t.event_type, t.period,
             LEAST(GREATEST(CAST(FLOOR((t.value - s.lo)
                 / ((s.hi - s.lo) / 10.0)) AS INTEGER), 0), 9) AS bin
      FROM tagged t JOIN span s USING (event_type)
    ),
    counts AS (
      SELECT event_type, period, bin, CAST(COUNT(*) AS BIGINT) AS n
      FROM binned GROUP BY 1, 2, 3
    ),
    totals AS (
      SELECT event_type, period, SUM(n) AS tot FROM counts GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.event_type, b.bin, p.period
      FROM span s,
           (SELECT UNNEST(range(10)) AS bin) b,
           (SELECT UNNEST(range(2)) AS period) p
    ),
    props AS (
      SELECT g.event_type, g.bin, g.period,
             GREATEST(CAST(COALESCE(c.n, 0) AS DOUBLE)
                      / CAST(t.tot AS DOUBLE), 0.0001::DOUBLE) AS p
      FROM grid g
      LEFT JOIN counts c
        ON c.event_type = g.event_type AND c.bin = g.bin
       AND c.period = g.period
      JOIN totals t ON t.event_type = g.event_type AND t.period = g.period
    ),
    pq AS (
      SELECT b.event_type, b.bin, b.p AS pb, cu.p AS pc
      FROM (SELECT * FROM props WHERE period = 0) b
      JOIN (SELECT * FROM props WHERE period = 1) cu
        ON b.event_type = cu.event_type AND b.bin = cu.bin
    )
    SELECT event_type,
           ROUND(CAST(SUM(CAST((pc - pb) * LN(pc / pb)
                 AS DECIMAL(27, 12))) AS DOUBLE), 6) AS psi,
           CAST(SUM(CASE WHEN (pc - pb) * LN(pc / pb) > 0.025::DOUBLE
                    THEN 1 ELSE 0 END) AS INTEGER) AS n_drifted_bins
    FROM pq GROUP BY event_type
    """,
    doc="Population Stability Index drift monitor — the standard "
    "model-monitoring statistic, per event_type, comparing the value "
    "distribution of the first 15 days (baseline) against the rest: "
    "10 equal-width bins over the BASELINE span (fixed-width so the "
    "binning is a pure per-row expression, the z-order/grid "
    "discipline), proportions clamped at 1e-4 (the standard zero-bin "
    "guard), PSI = Σ (p_cur − p_base)·ln(p_cur/p_base) summed as "
    "12-dp decimals (order-free) and rounded at 6 dp. PSI > 0.2 is "
    "the conventional retrain trigger; n_drifted_bins localizes "
    "which part of the distribution moved. Two scans (tag + bin), "
    "two hash aggs — the shape that runs daily over 100 TB without "
    "drama.",
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cut = ev.agg(
        (F.date_trunc("day", F.min("ts")) + F.expr("interval 15 days")).alias("c")
    )
    tagged = ev.crossJoin(F.broadcast(cut)).select(
        "event_type",
        "value",
        F.when(F.col("ts") < F.col("c"), 0).otherwise(1).alias("period"),
    )
    span = (
        tagged.where(F.col("period") == 0)
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    binned = tagged.join(F.broadcast(span), "event_type").select(
        "event_type",
        "period",
        F.least(
            F.greatest(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / F.lit(10.0))
                ).cast("int"),
                F.lit(0),
            ),
            F.lit(9),
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "period", "bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = counts.groupBy("event_type", "period").agg(F.sum("n").alias("tot"))
    bins = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    periods = spark.range(2).select(F.col("id").cast("int").alias("period"))
    grid = span.select("event_type").crossJoin(bins).crossJoin(periods)
    props = (
        grid.join(counts, ["event_type", "bin", "period"], "left")
        .join(totals, ["event_type", "period"])
        .select(
            "event_type",
            "bin",
            "period",
            F.greatest(
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("tot").cast("double"),
                F.lit(0.0001),
            ).alias("p"),
        )
    )
    base = props.where(F.col("period") == 0).select(
        "event_type", "bin", F.col("p").alias("pb")
    )
    cur = props.where(F.col("period") == 1).select(
        "event_type", "bin", F.col("p").alias("pc")
    )
    term = (F.col("pc") - F.col("pb")) * F.log(F.col("pc") / F.col("pb"))
    return (
        base.join(cur, ["event_type", "bin"])
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(term.cast("decimal(27,12)")).cast("double"), 6
            ).alias("psi"),
            F.sum(F.when(term > 0.025, 1).otherwise(0))
            .cast("int")
            .alias("n_drifted_bins"),
        )
    )


@register(
    "table_profile_lineitem",
    oracle="""
    WITH m AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS n_rows,
        CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS ndv_quantity,
        CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS null_quantity,
        MIN(l_quantity) AS min_quantity, MAX(l_quantity) AS max_quantity,
        CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) AS ndv_price,
        CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS null_price,
        MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        CAST(COUNT(DISTINCT l_discount) AS BIGINT) AS ndv_discount,
        CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS null_discount,
        MIN(l_discount) AS min_discount, MAX(l_discount) AS max_discount
      FROM lineitem
    )
    SELECT col, n_rows, ndv, n_null, min_val, max_val FROM (
      SELECT 'l_quantity' AS col, n_rows, ndv_quantity AS ndv,
             null_quantity AS n_null, min_quantity AS min_val,
             max_quantity AS max_val FROM m
      UNION ALL
      SELECT 'l_extendedprice', n_rows, ndv_price, null_price,
             min_price, max_price FROM m
      UNION ALL
      SELECT 'l_discount', n_rows, ndv_discount, null_discount,
             min_discount, max_discount FROM m
    )
    """,
    doc="ANALYZE-style column profiling — the statistics collection "
    "pass a warehouse runs before trusting CBO estimates or data "
    "contracts: exact row count, per-column NDV / null count / "
    "min / max for the measure columns, computed in ONE multi-"
    "aggregate scan (Spark plans the distinct aggregates with "
    "expand+partial aggregation — one pass over 100 TB, not one "
    "scan per column) and unpivoted to a row per column. Exact "
    "NDV here; the HLL/KMV sketch family provides the approximate "
    "tier when exact distinct state would not fit.",
)
def table_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("l_quantity").cast("bigint").alias("ndv_quantity"),
        F.sum(F.col("l_quantity").isNull().cast("int"))
        .cast("bigint")
        .alias("null_quantity"),
        F.min("l_quantity").alias("min_quantity"),
        F.max("l_quantity").alias("max_quantity"),
        F.countDistinct("l_extendedprice").cast("bigint").alias("ndv_price"),
        F.sum(F.col("l_extendedprice").isNull().cast("int"))
        .cast("bigint")
        .alias("null_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.countDistinct("l_discount").cast("bigint").alias("ndv_discount"),
        F.sum(F.col("l_discount").isNull().cast("int"))
        .cast("bigint")
        .alias("null_discount"),
        F.min("l_discount").alias("min_discount"),
        F.max("l_discount").alias("max_discount"),
    )
    rows = []
    for col, ndv, nnull, mn, mx in [
        ("l_quantity", "ndv_quantity", "null_quantity", "min_quantity", "max_quantity"),
        ("l_extendedprice", "ndv_price", "null_price", "min_price", "max_price"),
        ("l_discount", "ndv_discount", "null_discount", "min_discount", "max_discount"),
    ]:
        rows.append(
            m.select(
                F.lit(col).alias("col"),
                "n_rows",
                F.col(ndv).alias("ndv"),
                F.col(nnull).alias("n_null"),
                F.col(mn).alias("min_val"),
                F.col(mx).alias("max_val"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register(
    "orders_reconciliation_diff",
    oracle="""
    WITH v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
                FROM orders),
    v1 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
    ),
    h1 AS (SELECT o_orderkey,
                  MD5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                      || '|' || CAST(o_totalprice AS VARCHAR)) AS h
           FROM v1),
    h2 AS (SELECT o_orderkey,
                  MD5(CAST(o_custkey AS VARCHAR) || '|' || o_orderstatus
                      || '|' || CAST(o_totalprice AS VARCHAR)) AS h
           FROM v2)
    SELECT COALESCE(h1.o_orderkey, h2.o_orderkey) AS o_orderkey,
           CASE WHEN h1.o_orderkey IS NULL THEN 'added'
                WHEN h2.o_orderkey IS NULL THEN 'removed'
                ELSE 'modified' END AS status
    FROM h1 FULL OUTER JOIN h2 ON h1.o_orderkey = h2.o_orderkey
    WHERE h1.h IS DISTINCT FROM h2.h
    """,
    doc="Content-addressed table reconciliation — the anti-entropy "
    "audit between two versions of a table (replica vs primary, "
    "yesterday's snapshot vs today's): per-row content digests "
    "compared through one full-outer join on the key, emitting only "
    "added / removed / modified rows. The simulated v1 drops every "
    "97th order and perturbs every 89th price, so all three statuses "
    "appear. Scale: the join carries (key, 128-bit digest) — row "
    "WIDTH drops out of the shuffle, which is what makes "
    "reconciliation runnable across a 100 TB table pair; digests are "
    "md5 over a canonical serialization, identical in any engine. "
    "Complements sources/lakehouse.py's snapshot diff (this is the "
    "pure-relational tier that needs no version store).",
)
def orders_reconciliation_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.where(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + F.lit(1.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )

    def digest(df):
        return df.select(
            "o_orderkey",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    F.col("o_totalprice").cast("string"),
                )
            ).alias("h"),
        )

    h1 = digest(v1).withColumnsRenamed({"o_orderkey": "k1", "h": "ha"})
    h2 = digest(o).withColumnsRenamed({"o_orderkey": "k2", "h": "hb"})
    return (
        h1.join(h2, h1["k1"] == h2["k2"], "full_outer")
        .where(~F.col("ha").eqNullSafe(F.col("hb")))
        .select(
            F.coalesce("k1", "k2").alias("o_orderkey"),
            F.when(F.col("k1").isNull(), "added")
            .when(F.col("k2").isNull(), "removed")
            .otherwise("modified")
            .alias("status"),
        )
    )


def _online_cusum_oracle_sql(warm: int = 24) -> str:
    """DuckDB replay of the ONLINE CUSUM fold: warm-up mean/σ as
    explicit left-associated chains (the Holt-Winters init discipline —
    shared IEEE tree, no hidden reassociation), then Page's recurrence
    as a LIST_REDUCE with a 6-slot accumulator
    [g⁺, g⁻, first_alarm_k, n_alarms, k, _] and max(0,·) drift clamps
    (GREATEST is exact selection)."""
    y = lambda i: f"ys[{i}]"
    mu_chain = " + ".join(y(i) for i in range(1, warm + 1))
    var_chain = " + ".join(
        f"({y(i)} - mu) * ({y(i)} - mu)" for i in range(1, warm + 1)
    )
    return f"""
    WITH hourly AS (
      SELECT event_type, DATE_TRUNC('hour', ts) AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(18, 6))) AS DOUBLE) AS y
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type, LIST(y ORDER BY bucket) AS ys, COUNT(*) AS n
      FROM hourly GROUP BY 1
    ),
    init AS (
      SELECT event_type, ys, n,
             ({mu_chain}) / {warm}.0::DOUBLE AS mu
      FROM series WHERE n >= {warm + 1}
    ),
    init2 AS (
      SELECT event_type, ys, n, mu,
             sqrt(({var_chain}) / {warm}.0::DOUBLE) AS sig
      FROM init
    ),
    run AS (
      SELECT event_type, n, mu, sig,
             LIST_REDUCE(
               LIST_PREPEND(
                 [0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
                  0.0::DOUBLE, 0.0::DOUBLE],
                 LIST_TRANSFORM(ys[{warm + 1}:], v -> [v, 0.0::DOUBLE,
                   0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE])),
               (acc, x) -> CASE WHEN
                   GREATEST(0.0::DOUBLE,
                            acc[1] + (x[1] - mu - 0.5::DOUBLE * sig))
                     > 5.0::DOUBLE * sig
                   OR GREATEST(0.0::DOUBLE,
                               acc[2] + (mu - x[1] - 0.5::DOUBLE * sig))
                     > 5.0::DOUBLE * sig
                 THEN [0.0::DOUBLE, 0.0::DOUBLE,
                       CASE WHEN acc[3] = 0.0::DOUBLE THEN acc[5] + 1.0::DOUBLE
                            ELSE acc[3] END,
                       acc[4] + 1.0::DOUBLE, acc[5] + 1.0::DOUBLE, 0.0::DOUBLE]
                 ELSE [GREATEST(0.0::DOUBLE,
                               acc[1] + (x[1] - mu - 0.5::DOUBLE * sig)),
                       GREATEST(0.0::DOUBLE,
                               acc[2] + (mu - x[1] - 0.5::DOUBLE * sig)),
                       acc[3], acc[4], acc[5] + 1.0::DOUBLE, 0.0::DOUBLE]
                 END) AS st
      FROM init2
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_buckets,
           ROUND(mu, 6) AS mu, ROUND(sig, 6) AS sigma,
           CAST(st[3] AS INTEGER) AS first_alarm_k,
           CAST(st[4] AS INTEGER) AS n_alarms,
           ROUND(st[1], 6) AS g_pos, ROUND(st[2], 6) AS g_neg
    FROM run
    """


@register(
    "events_online_cusum",
    oracle=_online_cusum_oracle_sql(24),
    doc="ONLINE CUSUM (Page's test) per event_type over the hourly "
    "series — the streaming-deployable complement of the offline "
    "events_changepoint_cusum (which needs the series total): a "
    "24-bucket warm-up pins the reference mean/σ (explicit left-"
    "associated chains, the Holt-Winters init discipline), then the "
    "classic recurrence g⁺ = max(0, g⁺ + (x − μ − κ)), g⁻ analog, "
    "with κ = 0.5σ drift allowance and h = 5σ alarm threshold, "
    "restart-after-alarm. One aggregate() fold with a 6-slot array "
    "accumulator; every op is +,−,×,max — all exactly rounded or "
    "exact selections, so the fold replays bit-identically in SQL "
    "(the verifiable-recurrence discipline). Reports first alarm "
    "index, alarm count and final statistics; the streaming twin "
    "(streaming/cusum.py) carries the identical recurrence as "
    "per-key state.",
)
def events_online_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    warm = 24
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("y"))
    series = (
        hourly.groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "y"))),
                lambda s: s["y"],
            ).alias("ys"),
            F.count(F.lit(1)).alias("n"),
        )
        .where(F.col("n") >= warm + 1)
    )
    e = lambda i: F.element_at("ys", i)  # noqa: E731
    mu_c = e(1)
    for i in range(2, warm + 1):
        mu_c = mu_c + e(i)
    mu = mu_c / F.lit(float(warm))
    var_c = (e(1) - mu) * (e(1) - mu)
    for i in range(2, warm + 1):
        var_c = var_c + (e(i) - mu) * (e(i) - mu)
    sig = F.sqrt(var_c / F.lit(float(warm)))
    withm = series.select(
        "event_type", "ys", "n", mu.alias("mu"), sig.alias("sig")
    )
    zero = F.lit(0.0)
    gp = lambda acc, x: F.greatest(  # noqa: E731
        zero, F.element_at(acc, 1) + (x - F.col("mu") - F.lit(0.5) * F.col("sig"))
    )
    gn = lambda acc, x: F.greatest(  # noqa: E731
        zero, F.element_at(acc, 2) + (F.col("mu") - x - F.lit(0.5) * F.col("sig"))
    )
    h = F.lit(5.0) * F.col("sig")
    st = F.aggregate(
        F.slice(F.col("ys"), warm + 1, 100000000),
        F.array(zero, zero, zero, zero, zero, zero),
        lambda acc, x: F.when(
            (gp(acc, x) > h) | (gn(acc, x) > h),
            F.array(
                zero,
                zero,
                F.when(
                    F.element_at(acc, 3) == zero,
                    F.element_at(acc, 5) + F.lit(1.0),
                ).otherwise(F.element_at(acc, 3)),
                F.element_at(acc, 4) + F.lit(1.0),
                F.element_at(acc, 5) + F.lit(1.0),
                zero,
            ),
        ).otherwise(
            F.array(
                gp(acc, x),
                gn(acc, x),
                F.element_at(acc, 3),
                F.element_at(acc, 4),
                F.element_at(acc, 5) + F.lit(1.0),
                zero,
            )
        ),
    )
    # st is computed in a select with NO rounding aliases: Spark 4's
    # implicit lateral-column-alias resolution would otherwise bind the
    # fold's F.col("mu") to a sibling `round(mu, 6) AS mu` in the same
    # projection — the fold would silently run on the ROUNDED mean
    # (found by a 1-ulp-amplified hash mismatch; the raw/rounded split
    # across two selects makes the binding unambiguous).
    run = withm.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_buckets"),
        "mu",
        "sig",
        st.alias("st"),
    )
    return run.select(
        "event_type",
        "n_buckets",
        F.round("mu", 6).alias("mu"),
        F.round("sig", 6).alias("sigma"),
        F.element_at("st", 3).cast("int").alias("first_alarm_k"),
        F.element_at("st", 4).cast("int").alias("n_alarms"),
        F.round(F.element_at("st", 1), 6).alias("g_pos"),
        F.round(F.element_at("st", 2), 6).alias("g_neg"),
    )


@register(
    "orders_benford_audit",
    oracle="""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                         1, 1) AS INTEGER) AS d
      FROM orders WHERE o_totalprice >= 1.0
    ),
    obs AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM obs),
    grid AS (SELECT UNNEST(range(1, 10)) AS d),
    merged AS (
      SELECT g.d, COALESCE(o.n, 0) AS n,
             LN(1.0::DOUBLE + 1.0::DOUBLE / CAST(g.d AS DOUBLE))
               / LN(10.0::DOUBLE) AS p_benford,
             CAST(COALESCE(o.n, 0) AS DOUBLE) / tot.t AS p_obs
      FROM grid g LEFT JOIN obs o ON o.d = g.d CROSS JOIN tot
    )
    SELECT CAST(d AS INTEGER) AS first_digit, CAST(n AS BIGINT) AS n,
           ROUND(p_obs, 6) AS p_observed,
           ROUND(p_benford, 6) AS p_benford,
           ROUND((p_obs - p_benford) * (p_obs - p_benford) / p_benford, 9)
               AS chi2_term
    FROM merged
    """,
    doc="Benford first-digit audit on order totals — the classic "
    "forensic-DQ screen (fabricated or systematically generated "
    "amounts deviate from the log-law P(d) = log10(1 + 1/d)): "
    "first digit extracted from the canonical DECIMAL(18,2) "
    "rendering (string-of-decimal, not string-of-double — engines "
    "print doubles differently but decimals identically), observed "
    "vs expected proportions and per-digit χ² terms. One scan, one "
    "9-key aggregate; a dashboard-ready screen at any scale. "
    "(Synthetic uniform-ish prices will FAIL Benford — the query "
    "reports the divergence, it doesn't assert conformance.)",
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1.0)
    digits = o.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = obs.agg(F.sum("n").cast("double").alias("t"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    p_benford = F.log(F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double")) / F.log(
        F.lit(10.0)
    )
    merged = (
        grid.join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            p_benford.alias("p_benford"),
            (F.coalesce("n", F.lit(0)).cast("double") / F.col("t")).alias("p_obs"),
        )
    )
    return merged.select(
        F.col("d").alias("first_digit"),
        "n",
        F.round("p_obs", 6).alias("p_observed"),
        F.round("p_benford", 6).alias("p_benford"),
        F.round(
            (F.col("p_obs") - F.col("p_benford"))
            * (F.col("p_obs") - F.col("p_benford"))
            / F.col("p_benford"),
            9,
        ).alias("chi2_term"),
    )


@register(
    "events_conversion_lag_quantiles",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    ),
    attributed AS (
      SELECT p.user_id, p.event_id,
             CAST(EPOCH_US(p.ts) - (
               SELECT MAX(EPOCH_US(c.click_ts)) FROM clicks c
               WHERE c.user_id = p.user_id AND c.click_ts <= p.ts
                 AND c.click_ts >= p.ts - INTERVAL 7 DAY) AS BIGINT) AS lag_us
      FROM purchases p
    ),
    lags AS (SELECT lag_us FROM attributed WHERE lag_us IS NOT NULL),
    hist AS (
      SELECT lag_us, CAST(COUNT(*) AS BIGINT) AS cnt FROM lags GROUP BY 1
    ),
    cum AS (
      SELECT lag_us, cnt,
             SUM(cnt) OVER (ORDER BY lag_us ROWS UNBOUNDED PRECEDING) AS cum_hi,
             SUM(cnt) OVER (ORDER BY lag_us ROWS UNBOUNDED PRECEDING) - cnt
                 AS cum_lo,
             SUM(cnt) OVER () AS n
      FROM hist
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_attributed,
           ROUND(CAST(MIN(CASE WHEN CEIL(0.5 * n) > cum_lo
                               AND CEIL(0.5 * n) <= cum_hi
                          THEN lag_us END) AS DOUBLE) / 3600000000.0, 6)
               AS p50_hours,
           ROUND(CAST(MIN(CASE WHEN CEIL(0.9 * n) > cum_lo
                               AND CEIL(0.9 * n) <= cum_hi
                          THEN lag_us END) AS DOUBLE) / 3600000000.0, 6)
               AS p90_hours,
           ROUND(CAST(MIN(CASE WHEN CEIL(0.99 * n) > cum_lo
                               AND CEIL(0.99 * n) <= cum_hi
                          THEN lag_us END) AS DOUBLE) / 3600000000.0, 6)
               AS p99_hours
    FROM cum
    """,
    doc="Conversion-lag SLO quantiles: the click→purchase latency "
    "distribution (7-day last-touch window, µs-exact lags) reduced "
    "to p50/p90/p99 via the value-histogram cumulative-count select — "
    "the same scale-safe discrete-quantile plan as "
    "agg_quantile_per_group (no per-group arrays; the histogram is "
    "|distinct lags| ≤ n rows, worst case an external-sorted window). "
    "Composes the as-of attribution tier with the quantile tier; the "
    "marketing-analytics \"how fast do clicks convert\" answer.",
)
def events_conversion_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    att = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts",
        value_alias="attr_click_ts", direction="backward",
        tolerance_seconds=7 * 86400,
    )
    lags = att.where(F.col("attr_click_ts").isNotNull()).select(
        (F.unix_micros("ts") - F.unix_micros("attr_click_ts")).alias("lag_us")
    )
    hist = lags.groupBy("lag_us").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w_o = Window.orderBy("lag_us").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cum = (
        hist.withColumn("cum_hi", F.sum("cnt").over(w_o))
        .withColumn("cum_lo", F.col("cum_hi") - F.col("cnt"))
        .withColumn("n", F.sum("cnt").over(w_all))
    )

    def pick(q):
        i = F.ceil(F.lit(q) * F.col("n"))
        return F.round(
            F.min(
                F.when((i > F.col("cum_lo")) & (i <= F.col("cum_hi")), F.col("lag_us"))
            ).cast("double")
            / F.lit(3600000000.0),
            6,
        )

    return cum.agg(
        F.max("n").cast("bigint").alias("n_attributed"),
        pick(0.5).alias("p50_hours"),
        pick(0.9).alias("p90_hours"),
        pick(0.99).alias("p99_hours"),
    )


@register(
    "dedup_incremental_new_batch",
    oracle="""
    WITH hist AS (
      SELECT MD5(text) AS digest,
             MD5(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'))
                 AS norm_digest
      FROM documents WHERE doc_id % 10 != 0
    ),
    hist_d AS (SELECT DISTINCT digest FROM hist),
    hist_n AS (SELECT DISTINCT norm_digest FROM hist),
    batch AS (
      SELECT doc_id, MD5(text) AS digest,
             MD5(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', '', 'g'))
                 AS norm_digest
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT b.doc_id,
           CASE WHEN d.digest IS NOT NULL THEN 'exact_dup'
                WHEN n.norm_digest IS NOT NULL THEN 'norm_dup'
                ELSE 'novel' END AS status
    FROM batch b
    LEFT JOIN hist_d d ON b.digest = d.digest
    LEFT JOIN hist_n n ON b.norm_digest = n.norm_digest
    """,
    doc="Incremental dedup of a NEW ingest batch against the "
    "historical corpus — the continuously-growing-dataset shape "
    "(daily crawl vs everything already kept): every new doc is "
    "classified exact_dup (byte digest seen before), norm_dup "
    "(casefold+strip canonicalization seen — the "
    "dedup_normalized_docs tier) or novel, via two left joins "
    "against the DISTINCT historical digest sets. At 100 TB the "
    "history side is the persisted digest index (fixed-width md5 "
    "keys, bucketed by digest prefix), so the batch never rescans "
    "historical text — the joins shuffle only 16-byte keys, and the "
    "MinHash candidate tier (minhash_lsh_candidates) composes after "
    "the exact passes exactly as in training_corpus_build.",
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    digest = F.md5(F.col("text")).alias("digest")
    norm = F.md5(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
    ).alias("norm_digest")
    hist = docs.where(F.col("doc_id") % 10 != 0).select(digest, norm)
    hist_d = hist.select("digest").distinct().withColumn("hd", F.lit(1))
    hist_n = (
        hist.select("norm_digest").distinct().withColumn("hn", F.lit(1))
    )
    batch = docs.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", digest, norm
    )
    return (
        batch.join(hist_d, "digest", "left")
        .join(hist_n, "norm_digest", "left")
        .select(
            "doc_id",
            F.when(F.col("hd").isNotNull(), "exact_dup")
            .when(F.col("hn").isNotNull(), "norm_dup")
            .otherwise("novel")
            .alias("status"),
        )
    )


@register(
    "docs_warc_roundtrip",
    oracle="""
    SELECT (doc_id // 50) AS file_id,
           doc_id,
           'https://' || source || '.example.org/docs/'
             || CAST(doc_id AS VARCHAR) AS target_uri,
           lang AS language,
           CAST(STRLEN(text) AS BIGINT) AS content_length,
           MD5(text) AS payload_digest
    FROM documents
    """,
    doc="WARC container round-trip (sources/warc.py — the Common-Crawl "
    "record format of web-scale training corpora, ISO 28500, pure "
    "stdlib): pack every document into multi-record WARC file blobs "
    "(50 records per file, CRLF header blocks, exact Content-Length "
    "framing), then walk the blobs record-by-record and recover "
    "(uri, language header, byte length, payload md5). The oracle "
    "recomputes each field from the source rows, so a single framing "
    "error — wrong length, torn header, mis-advanced record cursor — "
    "breaks the hash match. One bounded applyInPandas group per file "
    "+ one map-only parse pass; blob size bounded by docs_per_file.",
)
def docs_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.sources.warc import (
        documents_to_warc_files,
        warc_records_meta,
    )

    docs = table(spark, sf_dir, "documents")
    files = documents_to_warc_files(docs, docs_per_file=50)
    return warc_records_meta(files)


@register(
    "events_kmv_trailing_distinct",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type, DATE_TRUNC('day', ts) AS day,
             ('0x' || SUBSTR(MD5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
               ::BIGINT AS hv
      FROM events
    ),
    ranked AS (
      SELECT event_type, day, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type, day ORDER BY hv)
                 AS rn
      FROM h
    ),
    daily_kmins AS (SELECT event_type, day, hv FROM ranked WHERE rn <= 64),
    spine AS (SELECT DISTINCT event_type, day FROM h),
    window_union AS (
      SELECT DISTINCT s.event_type, s.day AS anchor_day, k.hv
      FROM spine s
      JOIN daily_kmins k
        ON k.event_type = s.event_type
       AND k.day BETWEEN s.day - INTERVAL 6 DAY AND s.day
    ),
    reranked AS (
      SELECT event_type, anchor_day, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type, anchor_day
                                ORDER BY hv) AS rn
      FROM window_union
    ),
    sk AS (
      SELECT event_type, anchor_day,
             COUNT(*) AS n_mins,
             MAX(CASE WHEN rn = 64 THEN hv END) AS m_k
      FROM reranked WHERE rn <= 64 GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(anchor_day AS TIMESTAMP) AS day,
           CAST(n_mins AS INTEGER) AS n_mins,
           ROUND(CASE WHEN n_mins < 64 THEN CAST(n_mins AS DOUBLE)
                 ELSE 63.0::DOUBLE * 1152921504606846976.0::DOUBLE
                      / CAST(m_k AS DOUBLE) END, 4) AS est_distinct_7d
    FROM sk
    """,
    doc="Trailing-7-day distinct users per event_type from MERGED daily "
    "KMV sketches — the sketch-rollup pattern that makes 100 TB "
    "dashboards cheap: per-day bottom-64 hash sets are computed (and "
    "in production persisted) ONCE; any trailing window is answered "
    "by re-ranking the union of 7 tiny k-min sets (<= 7x64 rows per "
    "key) instead of re-scanning events — the KMV mergeability "
    "property (bottom-k of a union of bottom-k sets = bottom-k of "
    "the union). Same md5 60-bit family and (k-1)*2^60/m_k estimator "
    "as agg_kmv_sketch, small windows exact (< k distincts report "
    "n_mins). Day/type key domain is bounded, so every window step "
    "is O(domain), not O(events).",
)
def events_kmv_trailing_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = 64
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    h = ev.select(
        "event_type", F.date_trunc("day", "ts").alias("day"), hv.alias("hv")
    ).distinct()
    w_d = Window.partitionBy("event_type", "day").orderBy("hv")
    daily = (
        h.withColumn("rn", F.row_number().over(w_d))
        .where(F.col("rn") <= k)
        .select("event_type", "day", "hv")
    )
    spine = h.select("event_type", "day").distinct()
    window_union = (
        spine.alias("s")
        .join(
            daily.alias("k"),
            (F.col("k.event_type") == F.col("s.event_type"))
            & (F.col("k.day") >= F.col("s.day") - F.expr("interval 6 days"))
            & (F.col("k.day") <= F.col("s.day")),
        )
        .select(
            F.col("s.event_type").alias("event_type"),
            F.col("s.day").alias("anchor_day"),
            F.col("k.hv").alias("hv"),
        )
        .distinct()
    )
    w_a = Window.partitionBy("event_type", "anchor_day").orderBy("hv")
    sk = (
        window_union.withColumn("rn", F.row_number().over(w_a))
        .where(F.col("rn") <= k)
        .groupBy("event_type", "anchor_day")
        .agg(
            F.count(F.lit(1)).alias("n_mins"),
            F.max(F.when(F.col("rn") == k, F.col("hv"))).alias("m_k"),
        )
    )
    est = (
        F.when(F.col("n_mins") < k, F.col("n_mins").cast("double"))
        .otherwise(
            F.lit(float(k - 1))
            * F.lit(1152921504606846976.0)
            / F.col("m_k").cast("double")
        )
    )
    return sk.select(
        "event_type",
        F.col("anchor_day").alias("day"),
        F.col("n_mins").cast("int").alias("n_mins"),
        F.round(est, 4).alias("est_distinct_7d"),
    )


@register(
    "events_theilsen_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(DATE_DIFF('day', TIMESTAMP '2024-01-01',
                            DATE_TRUNC('day', ts)) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.event_type,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
    ),
    ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY slope)
                 AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM slopes
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_pairs,
           ROUND(MIN(CASE WHEN rn = (n + 1) // 2 THEN slope END), 6)
               AS theilsen_slope
    FROM ranked GROUP BY event_type
    """,
    doc="Theil-Sen robust trend estimator per event_type: the median "
    "of all pairwise slopes of the daily event-count series — the "
    "outlier-resistant alternative to OLS (regr_linear_by_group) "
    "that one anomalous day cannot drag. The pair space is the "
    "DAY-DOMAIN self-join (~30 days -> <= 435 pairs per type, "
    "corpus-size-independent — the events_survival_curve discipline), "
    "slopes are single IEEE divisions of exact integer deltas "
    "(identical both engines), and the median is an explicit "
    "rank-select at (n+1)//2 (no engine quantile-interpolation "
    "ambiguity). Aggregate once to the day domain, then all further "
    "work is O(domain^2) tiny.",
)
def events_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("2024-01-01").cast("timestamp")
        )
        .cast("bigint")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.d") - F.col("a.d")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("event_type").orderBy("slope")
    wc = Window.partitionBy("event_type")
    ranked = slopes.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_pairs"),
        F.round(
            F.min(
                F.when(
                    F.col("rn") == F.floor((F.col("n") + 1) / 2),
                    F.col("slope"),
                )
            ),
            6,
        ).alias("theilsen_slope"),
    )


@register(
    "dq_label_agreement_kappa",
    oracle="""
    WITH lab AS (
      SELECT (n_chars >= 200) AS a,
             (10 * LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                                   w -> w IN ('the', 'a')))
                >= LEN(STRING_SPLIT(text, ' '))) AS b
      FROM documents
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM lab
    )
    SELECT n, n11, n10, n01, n00,
           ROUND(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
           ROUND((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                 + (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS pe,
           ROUND((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                  - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                     + (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE))))
                 / (CAST(1 AS DOUBLE)
                    - ((CAST(n11 + n10 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(n11 + n01 AS DOUBLE) / CAST(n AS DOUBLE))
                       + (CAST(n01 + n00 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(n10 + n00 AS DOUBLE) / CAST(n AS DOUBLE)))), 6)
             AS kappa
    FROM c
    """,
    doc="Inter-annotator agreement (Cohen's kappa) between two "
    "deterministic labeling rules over documents — the labeling-QA "
    "metric every supervised-data pipeline reports before trusting a "
    "label column (kappa corrects raw agreement for chance, so two "
    "rules that both say 'yes' 90% of the time don't look aligned for "
    "free). Annotator A: length rule (n_chars >= 200); annotator B: "
    "stopword-density rule (10*n_stop >= n_tok — an exact integer "
    "compare, no float ratio). One map-side-combined aggregate to the "
    "2x2 contingency table (4 exact counts of driver state = the "
    "model); po/pe/kappa are single shared double trees rounded at "
    "6 dp. Scales as a pure scan.",
)
def dq_label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    nstop = F.size(F.filter(toks, lambda w: w.isin("the", "a")))
    lab = docs.select(
        (F.col("n_chars") >= 200).alias("a"),
        ((F.lit(10) * nstop) >= F.size(toks)).alias("b"),
    )
    c = lab.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pe = ((F.col("n11") + F.col("n10")).cast("double") / nd) * (
        (F.col("n11") + F.col("n01")).cast("double") / nd
    ) + ((F.col("n01") + F.col("n00")).cast("double") / nd) * (
        (F.col("n10") + F.col("n00")).cast("double") / nd
    )
    return c.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1).cast("double") - pe), 6).alias("kappa"),
    )


@register(
    "events_linear_attribution",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, event_id AS purchase_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT p.purchase_id, p.value, c.click_id
      FROM purchases p LEFT JOIN clicks c
        ON c.user_id = p.user_id
       AND c.click_ts <= p.ts
       AND c.click_ts >= p.ts - INTERVAL 7 DAY
    )
    SELECT purchase_id, click_id,
           CAST(COUNT(click_id) OVER (PARTITION BY purchase_id) AS BIGINT)
             AS n_touches,
           ROUND(value
                 / CAST(GREATEST(COUNT(click_id)
                                 OVER (PARTITION BY purchase_id), 1)
                        AS DOUBLE), 6) AS credit
    FROM pairs
    """,
    doc="Linear multi-touch attribution: every click in the 7-day "
    "lookback before a purchase gets an equal share of its value — the "
    "allocation table next to last-touch (which crowns only the final "
    "click). The lookback window equals the bucket width, so candidate "
    "pairs come from a 2-bucket (user, week) equi-join — never a "
    "time-range theta join — then the exact interval filter; "
    "touch counts attach with one aggregate + shuffle-shared rejoin, "
    "and untouched purchases re-enter via anti-join with full credit "
    "(the 'direct' channel). credit = value / n_touches is one double "
    "division rounded at 6 dp; membership and n_touches are exact "
    "integers. Pairs grow linearly: user count scales with the corpus, "
    "so per-user click density in any fixed window is O(1).",
)
def events_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    week_us = 7 * 86400 * 1000000
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        F.floor(F.unix_micros("ts") / week_us).alias("wk"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts", "value"
    )
    wkp = F.floor(F.unix_micros("ts") / week_us)
    pexp = purchases.withColumn("wk", F.explode(F.array(wkp, wkp - 1)))
    matched = pexp.join(clicks, ["user_id", "wk"]).where(
        (F.col("click_ts") <= F.col("ts"))
        & (F.unix_micros("click_ts") >= F.unix_micros("ts") - F.lit(week_us))
    )
    counts = matched.groupBy("purchase_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches")
    )
    credit = F.round(
        F.col("value")
        / F.greatest(F.col("n_touches"), F.lit(1).cast("bigint")).cast("double"),
        6,
    )
    out_m = matched.join(counts, "purchase_id").select(
        "purchase_id", "click_id", "n_touches", credit.alias("credit")
    )
    out_u = purchases.join(counts, "purchase_id", "left_anti").select(
        "purchase_id",
        F.lit(None).cast("bigint").alias("click_id"),
        F.lit(0).cast("bigint").alias("n_touches"),
        F.round(
            F.col("value") / F.lit(1).cast("double"), 6
        ).alias("credit"),
    )
    return out_m.unionAll(out_u)
