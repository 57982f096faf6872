"""Additional TPC-H-shaped relational coverage: argmax (max_by),
exists-driven aggregation, conditional revenue share, multi-predicate
IN/OR filters, null-ordering and null-safe comparison batteries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.registry import load_views, register, table
from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL


@register(
    "agg_argmax",
    oracle="""
    SELECT c_mktsegment,
           MAX_BY(c_name, c_custkey) AS latest_customer,
           MAX(c_custkey) AS max_custkey
    FROM customer GROUP BY c_mktsegment
    """,
    doc="argmax aggregation (max_by) — deterministic because the "
    "ordering key (c_custkey) is unique.",
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("c_name", "c_custkey").alias("latest_customer"),
            F.max("c_custkey").alias("max_custkey"),
        )
    )


@register(
    "q4_priority_with_late_lines",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape: EXISTS-driven count (left-semi join then agg).",
)
def q4_priority_with_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@register(
    "q10_returned_revenue_topk",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,2)) * CAST(1.0 - l_discount AS DECIMAL(9,6))) AS DECIMAL(27,6)) AS DOUBLE) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, top-20 "
    "(decimal-exact ordering key, tiebreak on custkey).",
)
def q10_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)").cast("decimal(28,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(9,6)")
    return (
        li.join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(revenue).cast("decimal(27,6)").cast("double").alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_share",
    oracle="""
    SELECT ROUND(
             100.0 * CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,2)) * CAST(1.0 - l_discount AS DECIMAL(9,6))
                 ELSE CAST(0 AS DECIMAL(28,2)) * CAST(0 AS DECIMAL(9,6)) END) AS DECIMAL(27,6)) AS DOUBLE)
             / CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,2)) * CAST(1.0 - l_discount AS DECIMAL(9,6))) AS DECIMAL(27,6)) AS DOUBLE),
           6) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
    doc="TPC-H Q14 shape: conditional revenue share — both sums are "
    "decimal-exact, the final ratio is one double division.",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)").cast("decimal(28,2)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(9,6)")
    zero = F.lit(0).cast("decimal(28,2)") * F.lit(0).cast("decimal(9,6)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("decimal(27,6)").cast("double")
                / F.sum(rev).cast("decimal(27,6)").cast("double"),
                6,
            ).alias("promo_share_pct")
        )
    )


@register(
    "filter_in_or_battery",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE (l_returnflag IN ('A', 'R') AND l_quantity BETWEEN 5 AND 15)
       OR (l_linestatus = 'O' AND l_quantity > 45)
    """,
    doc="Multi-predicate IN/OR filter (TPC-H Q19 shape) — Catalyst "
    "pushes the whole disjunction to the parquet scan.",
)
def filter_in_or_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_returnflag").isin("A", "R") & F.col("l_quantity").between(5, 15))
        | ((F.col("l_linestatus") == "O") & (F.col("l_quantity") > 45))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "scalar_null_handling",
    oracle="""
    SELECT event_id,
           NULLIF(event_type, 'error') AS maybe_null,
           (NULLIF(event_type, 'error') IS NOT DISTINCT FROM NULL) AS null_safe_is_null,
           (NULLIF(event_type, 'error') IS NOT DISTINCT FROM 'click') AS null_safe_eq_click,
           COALESCE(NULLIF(event_type, 'error'), 'fallback') AS nvl_style,
           (CASE WHEN NULLIF(event_type, 'error') IS NULL THEN 'was_null'
                 ELSE 'had_value' END) AS nvl2_style
    FROM events
    """,
    doc="NULL-semantics battery: null-safe equality (<=>), nvl/nvl2 "
    "patterns via coalesce/case.",
)
def scalar_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    maybe = F.nullif("event_type", F.lit("error"))
    return ev.select(
        "event_id",
        maybe.alias("maybe_null"),
        maybe.eqNullSafe(F.lit(None).cast("string")).alias("null_safe_is_null"),
        maybe.eqNullSafe("click").alias("null_safe_eq_click"),
        F.coalesce(maybe, F.lit("fallback")).alias("nvl_style"),
        F.when(maybe.isNull(), "was_null").otherwise("had_value").alias("nvl2_style"),
    )


@register(
    "sort_nulls_battery",
    oracle="""
    SELECT event_id, maybe_null FROM (
      SELECT event_id, NULLIF(event_type, 'error') AS maybe_null FROM events) t
    ORDER BY maybe_null ASC NULLS FIRST, event_id LIMIT 200
    """,
    doc="Explicit null ordering (NULLS FIRST) + deterministic top-k — "
    "engines disagree on the DEFAULT null order, so it is pinned.",
)
def sort_nulls_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.select("event_id", F.nullif("event_type", F.lit("error")).alias("maybe_null"))
        .orderBy(F.col("maybe_null").asc_nulls_first(), F.col("event_id"))
        .limit(200)
    )


@register(
    "scalar_bitwise",
    oracle="""
    SELECT event_id,
           CAST(user_id & 255 AS BIGINT) AS low_byte,
           CAST(user_id | 16 AS BIGINT) AS with_flag,
           CAST(XOR(user_id, event_id) AS BIGINT) AS mixed,
           CAST(user_id << 2 AS BIGINT) AS shifted_l,
           CAST(user_id >> 1 AS BIGINT) AS shifted_r,
           CAST(BIT_COUNT(user_id) AS INTEGER) AS popcount
    FROM events
    """,
    doc="Bitwise kernel battery: and/or/xor/shifts/popcount.",
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    u = F.col("user_id")
    return ev.select(
        "event_id",
        u.bitwiseAND(F.lit(255)).alias("low_byte"),
        u.bitwiseOR(F.lit(16)).alias("with_flag"),
        u.bitwiseXOR(F.col("event_id")).alias("mixed"),
        F.shiftleft(u, 2).alias("shifted_l"),
        F.shiftright(u, 1).alias("shifted_r"),
        F.bit_count(u).alias("popcount"),
    )


@register(
    "set_union_schema_evolution",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey AS entity_id, c_name AS name, c_acctbal AS acctbal,
             CAST(NULL AS VARCHAR) AS s_extra
      FROM customer
      UNION ALL BY NAME
      SELECT s_suppkey AS entity_id, s_name AS name, s_acctbal AS acctbal,
             'supplier' AS s_extra
      FROM supplier) t
    """,
    doc="Schema-evolution union: unionByName(allowMissingColumns) — "
    "missing columns null-fill (DuckDB UNION ALL BY NAME ≡).",
)
def set_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("s_extra"),
    )
    return cust.unionByName(supp, allowMissingColumns=True)


@register(
    "agg_stats",
    oracle="""
    SELECT c_mktsegment,
           ROUND(STDDEV_SAMP(c_acctbal), 4) AS sd_bal,
           ROUND(VAR_SAMP(c_acctbal), 3) AS var_bal,
           ROUND(CORR(c_acctbal, c_custkey), 6) AS corr_bal_key,
           ROUND(COVAR_SAMP(c_acctbal, c_custkey), 3) AS covar_bal_key
    FROM customer GROUP BY c_mktsegment
    """,
    doc="Statistical aggregates (stddev/variance/corr/covariance), "
    "rounded to absorb the engines' different merge-formula "
    "reassociation (errors ~1e-9 relative vs 1e-3..1e-6 grids).",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
        F.round(F.var_samp("c_acctbal"), 3).alias("var_bal"),
        F.round(F.corr("c_acctbal", "c_custkey"), 6).alias("corr_bal_key"),
        F.round(F.covar_samp("c_acctbal", "c_custkey"), 3).alias("covar_bal_key"),
    )


@register(
    "agg_approx_distinct",
    oracle=None,  # HLL sketches differ across engines by design →
    # rows-only; the accuracy bound is asserted in tests.
    doc="approx_count_distinct (HyperLogLog++) per order priority — the "
    "sketch path for distinct counting at 100 TB (no expand + two-phase "
    "agg like exact COUNT DISTINCT).",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.approx_count_distinct("o_custkey", 0.01).alias("approx_customers"))
    )


@register(
    "agg_hll_mergeable",
    oracle=None,  # Spark's Datasketches HLL ≠ DuckDB's HLL → rows-only;
    # merge-invariance + accuracy are asserted in tests.
    doc="MERGEABLE HLL sketches (hll_sketch_agg → hll_union_agg → "
    "estimate): per-priority sketches of the customer set, plus the "
    "union-of-sketches overall estimate as a grand-total row. This is "
    "the re-aggregatable distinct path at 100 TB — per-partition/day "
    "sketches stored once, any rollup answered by sketch union instead "
    "of a re-scan (approx_count_distinct can't re-aggregate).",
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    sketches = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    )
    per_group = sketches.select(
        "o_orderpriority",
        F.hll_sketch_estimate("sk").alias("approx_customers"),
    )
    overall = sketches.agg(
        F.lit("ALL").alias("o_orderpriority"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_customers"),
    )
    return per_group.unionByName(overall)


@register(
    "q7_volume_shipping",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
           CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,2))
                         * CAST(1.0 - l_discount AS DECIMAL(9,6))) AS DECIMAL(27,6)) AS DOUBLE)
               AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    WHERE sn.n_name IN ('NATION_1', 'NATION_2')
      AND cn.n_name IN ('NATION_1', 'NATION_2')
      AND sn.n_name <> cn.n_name
    GROUP BY sn.n_name, cn.n_name, EXTRACT(YEAR FROM l_shipdate)
    """,
    doc="TPC-H Q7 shape (adapted to this schema: no partsupp): "
    "fact→orders→customer and fact→supplier, each enriched to a nation "
    "via broadcast dims, cross-nation shipping volume per year. "
    "Exercises the same dim twice under different aliases.",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    nations = ["NATION_1", "NATION_2"]
    cn = nation.filter(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.filter(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    revenue = (
        F.col("l_extendedprice").cast("decimal(18,2)").cast("decimal(28,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(9,6)")
    )
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(cn), F.col("c_nk") == F.col("c_nationkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(sn), F.col("s_nk") == F.col("s_nationkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.sum(revenue).cast("decimal(27,6)").cast("double").alias("revenue")
        )
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c_name, o.o_orderkey, o_orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM orders o
    JOIN lineitem ON l_orderkey = o.o_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 150
    )
    GROUP BY c_name, o.o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape: having-filtered semi join (large-quantity "
    "orders) feeding a customer-enriched re-aggregation with top-k. "
    "The IN-subquery decorrelates to an aggregate + semi join.",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,2))
                  * CAST(1.0 - l_discount AS DECIMAL(9,6))) AS DECIMAL(27,6)) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: revenue 'view' (CTE) consumed twice — once "
    "joined to supplier, once reduced to a scalar max subquery; the "
    "decimal-exact revenue makes the equality predicate safe (a float "
    "sum would make `= MAX(...)` engine-dependent).",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    disc = (
        F.col("l_extendedprice").cast("decimal(18,2)").cast("decimal(28,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(9,6)")
    )
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(disc).cast("decimal(27,6)").cast("double").alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_m"))
    return (
        sup.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("_m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DECIMAL(27,6)) AS DOUBLE)
             AS totacctbal
    FROM customer c CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c.c_mktsegment
    """,
    doc="TPC-H Q22 shape: scalar AVG subquery as a broadcast filter + "
    "NOT EXISTS anti-join (customers above the positive-balance average "
    "with no recent orders), grouped rollup. The anti join build side is the "
    "orders key set; Catalyst plans it as a broadcast/shuffled anti "
    "join, never a per-row subquery.",
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_a")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_a"))
        .join(
            orders.where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(27,6)")
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "dataset_profile",
    oracle="""
    SELECT 'o_orderstatus' AS col_name, COUNT(*) AS n_rows,
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
           CAST(MIN(o_orderstatus) AS VARCHAR) AS min_val,
           CAST(MAX(o_orderstatus) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*),
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*),
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
    doc="ANALYZE-style dataset profiling: per-column row/null/distinct "
    "counts and min/max over orders, computed in ONE scan (wide "
    "aggregate, unpivoted with stack) — the table-stats pass every "
    "lakehouse runs before planning; string/int columns only, so the "
    "min/max casts are engine-stable.",
)
def dataset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_custkey", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nn_{c}"),
            F.countDistinct(c).alias(f"nd_{c}"),
            F.min(c).cast("string").alias(f"mn_{c}"),
            F.max(c).cast("string").alias(f"mx_{c}"),
        ]
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}, mn_{c}, mx_{c}" for c in cols
    )
    return wide.selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct, min_val, max_val)",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")


@register(
    "agg_countmin_freq",
    oracle="""
    WITH sk AS (
      SELECT d.d AS d,
             ('0x' || SUBSTR(MD5(d.d::VARCHAR || ':' || e.user_id::VARCHAR), 1, 15))::BIGINT % 256 AS bucket,
             COUNT(*) AS cnt
      FROM events e, (SELECT UNNEST(RANGE(4)) AS d) d
      GROUP BY 1, 2
    ),
    probe AS (SELECT DISTINCT user_id FROM events WHERE user_id < 20),
    ph AS (
      SELECT p.user_id, d.d AS d,
             ('0x' || SUBSTR(MD5(d.d::VARCHAR || ':' || p.user_id::VARCHAR), 1, 15))::BIGINT % 256 AS bucket
      FROM probe p, (SELECT UNNEST(RANGE(4)) AS d) d
    ),
    est AS (
      SELECT ph.user_id, MIN(COALESCE(sk.cnt, 0)) AS cm_est
      FROM ph LEFT JOIN sk ON sk.d = ph.d AND sk.bucket = ph.bucket
      GROUP BY 1
    ),
    exact AS (
      SELECT user_id, COUNT(*) AS exact_n FROM events WHERE user_id < 20 GROUP BY 1
    )
    SELECT est.user_id, CAST(est.cm_est AS BIGINT) AS cm_est,
           CAST(exact.exact_n AS BIGINT) AS exact_n
    FROM est JOIN exact USING (user_id)
    """,
    doc="MERGEABLE Count-Min sketch (Cormode & Muthukrishnan 2005), the "
    "point-frequency member of the sketch family (HLL = cardinality, "
    "Misra-Gries = heavy hitters): depth=4 x width=256 counters over "
    "events.user_id — the sketch relation is bounded at depth*width "
    "rows REGARDLESS of corpus size (map-side partial agg collapses "
    "each partition to that bound before the exchange), shard sketches "
    "merge by counter addition, estimates never undercount. Uses the "
    "cross-engine md5-prefix hash family so bucket assignment, "
    "counters and min-estimates are all reproduced by the DuckDB "
    "oracle (hash-green). Exact counts joined per probe key expose the "
    "one-sided error. operators/sketches.py.",
)
def agg_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators import sketches as SK

    ev = table(spark, sf_dir, "events")
    sketch = SK.countmin_build(ev, "user_id", depth=4, width=256)
    probes = ev.where(F.col("user_id") < 20).select("user_id").distinct()
    est = SK.countmin_estimate(sketch, probes, "user_id", depth=4, width=256)
    exact = (
        ev.where(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return est.join(exact, "user_id").select(
        "user_id",
        F.col("cm_est").cast("bigint").alias("cm_est"),
        F.col("exact_n").cast("bigint").alias("exact_n"),
    )


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration PageRank in DuckDB SQL, mirroring
    operators/graph.py:pagerank op-for-op (double literals forced so
    (1 - 0.85) evaluates in IEEE like the python scalar; contributions
    decimal(27,12)-summed so group order can't change the result)."""
    its, prev = [], "pr0"
    for i in range(1, iters + 1):
        its.append(f"""
    it{i} AS (
      SELECT nodes.node,
             (1 - CAST(0.85 AS DOUBLE)) / nn.n
             + CAST(0.85 AS DOUBLE) * COALESCE(CAST(s{i}.s AS DOUBLE), 0.0) AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node,
               SUM(CAST({prev}.pr / e.outdeg AS DECIMAL(27,12))) AS s
        FROM e JOIN {prev} ON {prev}.node = e.src GROUP BY 1
      ) s{i} ON s{i}.node = nodes.node
    )""")
        prev = f"it{i}"
    return f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src, 1000000000 + l.l_suppkey AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
    e AS (SELECT edges.src, edges.dst, outdeg.outdeg
          FROM edges JOIN outdeg USING (src)),
    pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS pr
            FROM nodes CROSS JOIN nn),
    {",".join(its)}
    SELECT node, ROUND(pr, 6) AS pagerank FROM {prev}
    """


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(iters=3),
    doc="Fixed-iteration PageRank (3 power iterations, damping 0.85) "
    "over the customer→supplier trade graph (orders x lineitem, "
    "supplier ids offset into their own node space) — the link-analysis "
    "member of the graph family next to connected components. Each "
    "iteration is one src equi-join + one map-side-combined groupBy on "
    "dst, lineage cut per iteration; contributions are "
    "decimal(27,12)-exact so the parallel sum is order-independent and "
    "the whole recurrence hash-matches the unrolled DuckDB oracle. "
    "operators/graph.py.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.graph import pagerank

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    edges = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select(
        F.col("o_custkey").alias("src"),
        (F.lit(1000000000) + F.col("l_suppkey")).alias("dst"),
    )
    return pagerank(edges, iters=3, damping=0.85)


@register(
    "graph_triangle_count",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ok AS (SELECT p FROM ps GROUP BY p HAVING COUNT(*) <= 64),
    psf AS (SELECT ps.p, ps.s FROM ps JOIN ok USING (p)),
    e AS (SELECT a, b FROM (
            SELECT DISTINCT x.s AS a, y.s AS b
            FROM psf x JOIN psf y ON x.p = y.p AND x.s < y.s)
          WHERE SUBSTR(MD5('tri:' || a || ':' || b), 15, 1) = '0'),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM e e1
            JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
    corners AS (SELECT x AS node FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri)
    SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles,
           CAST(COUNT(*) * 4096 AS BIGINT) AS est_triangles
    FROM corners GROUP BY node
    """,
    doc="Per-node triangle counts (degree-ordered orientation, Suri & "
    "Vassilvitskii 2011) over the supplier co-supply graph, with "
    "DOULION edge sparsification (Tsourakakis et al. 2009): each "
    "canonical edge is kept when its md5-family hash lands in 1/16 "
    "of the space (deterministic, oracle-mirrored), and per-node "
    "sampled counts scale by 1/p^3 = 4096 into the unbiased "
    "est_triangles column. Why both layers: the co-supply graph goes "
    "COMPLETE as the corpus grows (at sf0.1 all C(1000,2) supplier "
    "pairs co-supply ~166M triangles — measured, 62 s), so exact "
    "counting is the wrong operation at scale; DOULION cuts edge "
    "volume p-fold and triangle work p^3-fold while the orientation "
    "still caps wedge fan-out at O(sqrt(m))/node on power-law shapes. "
    "Hot-key guard (parts with > 64 suppliers) bounds the pair "
    "expansion before any of it. Counts on the sampled graph are "
    "exact, so the whole estimator hash-matches the oracle's direct "
    "x<y<z enumeration. operators/graph.py.",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.graph import triangle_count

    ps = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        # Bounded distinct-pair relation reused 2-3× downstream
        # (cap filter + join + seeds): one materialization, not per-use
        # recomputes of the corpus scan + distinct.
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    # hot-key guard: cap the per-part pair expansion (oracle mirrors)
    ok = ps.groupBy("p").agg(F.count(F.lit(1)).alias("ns")).where("ns <= 64").select("p")
    psf = ps.join(ok, "p")
    pairs = (
        psf.alias("x")
        .join(psf.alias("y"), (F.col("x.p") == F.col("y.p")) & (F.col("x.s") < F.col("y.s")))
        .select(F.col("x.s").alias("src"), F.col("y.s").alias("dst"))
    )
    # DOULION: deterministic 1/16 edge sample (md5 family, p = 1/16).
    # Applied BEFORE any dedup so the multiplicity-heavy raw pair
    # stream is cut map-side. prefix60 % 16 == 0 ⟺ the prefix's LAST
    # hex digit is '0', so the kept set is decided by one substring
    # compare — the base-16 conv() over the multi-million-row raw pair
    # stream was the single hottest expression in the query (measured:
    # ~2× the md5 itself); the hash family and results are unchanged.
    keep = (
        F.substring(
            F.md5(
                F.concat(
                    F.lit("tri:"),
                    F.col("src").cast("string"),
                    F.lit(":"),
                    F.col("dst").cast("string"),
                )
            ),
            15,
            1,
        )
        == "0"
    )
    sampled = pairs.where(keep)
    out = triangle_count(sampled)
    return out.select(
        "node",
        "triangles",
        (F.col("triangles") * F.lit(4096)).cast("bigint").alias("est_triangles"),
    )


def _lpa_oracle(
    iters: int = 3,
    final: str | None = None,
    graph_cte: str | None = None,
) -> str:
    """Unrolled synchronous label propagation in DuckDB SQL, mirroring
    operators/graph.py:label_propagation round-for-round (same
    count-desc/label-asc argmax, same isolated-node coalesce).

    ``final`` optionally replaces the default label SELECT with a
    consumer block (it may open with further CTEs: ``, x AS (...)``);
    ``{prev}`` inside it resolves to the last round's label relation —
    wave7's modularity query builds on the SAME unrolled rounds so the
    two oracles can never drift. ``graph_cte`` optionally replaces the
    default co-supply edge derivation with any CTE chain ending in an
    ``e0(a, b)`` relation (a < b, distinct)."""
    its, prev = [], "l0"
    for i in range(1, iters + 1):
        its.append(f"""
    l{i} AS (
      SELECT nodes.node, COALESCE(w.label, nodes.node) AS label
      FROM nodes LEFT JOIN (
        SELECT node, label FROM (
          SELECT adj.a AS node, l.label, COUNT(*) AS n,
                 ROW_NUMBER() OVER (PARTITION BY adj.a
                                    ORDER BY COUNT(*) DESC, l.label) AS rn
          FROM adj JOIN {prev} l ON l.node = adj.b
          GROUP BY adj.a, l.label
        ) WHERE rn = 1
      ) w ON w.node = nodes.node
    )""")
        prev = f"l{i}"
    default_graph = """ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ok AS (SELECT p FROM ps GROUP BY p HAVING COUNT(*) <= 64),
    oks AS (SELECT p FROM ok
            WHERE ('0x' || SUBSTR(MD5('lpa:' || p), 1, 15))::BIGINT % 16 = 0),
    psf AS (SELECT ps.p, ps.s FROM ps JOIN oks USING (p)),
    e0 AS (SELECT DISTINCT x.s AS a, y.s AS b
           FROM psf x JOIN psf y ON x.p = y.p AND x.s < y.s)"""
    return f"""
    WITH {graph_cte or default_graph},
    adj AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    nodes AS (SELECT DISTINCT a AS node FROM adj),
    l0 AS (SELECT node, node AS label FROM nodes),
    {",".join(its)}
    {(final or "SELECT node, label FROM {prev}").format(prev=prev)}
    """


@register(
    "graph_label_propagation",
    oracle=_lpa_oracle(iters=3),
    doc="Synchronous label propagation (3 fixed rounds) over the "
    "supplier co-supply graph — community detection next to the "
    "engine's connected components (connectivity), PageRank "
    "(importance) and triangle counts (local clustering). The "
    "synchronous/Jacobi update with a total tie order (count desc, "
    "smallest label) makes the recurrence a pure function of the edge "
    "set, so the DuckDB oracle unrolls the same rounds and the result "
    "hash-matches — async LPA would be execution-order-dependent and "
    "unverifiable. Per round: one neighbour-label equi-join, one "
    "(node, label) count, one per-node argmax window, all keyed by "
    "node id with lineage cut per round. Densification guard: where "
    "graph_triangle_count samples EDGES (DOULION needs the unbiased "
    "1/p³ estimator), LPA has no estimator to preserve, so it samples "
    "PARTS — a deterministic md5 1/16 filter on the small part "
    "relation BEFORE the pair join, cutting the whole 44M-row "
    "derivation 16-fold instead of filtering its output (SCALE.md "
    "round-3 session 2: a post-join edge filter still paid the full "
    "join). Communities of the sampled co-supply graph are the "
    "registered, oracle-mirrored semantics. operators/graph.py.",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.graph import label_propagation

    return label_propagation(_lpa_pairs(spark, sf_dir), iters=3)


def _lpa_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sampled co-supply edge derivation shared by
    graph_label_propagation and wave7's modularity query (src < dst,
    NOT deduplicated — label_propagation distincts internally, exactly
    like the oracle's e0 CTE)."""
    ps = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        # Bounded distinct-pair relation reused 2-3× downstream
        # (cap filter + join + seeds): one materialization, not per-use
        # recomputes of the corpus scan + distinct.
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    keep_part = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lpa:"), F.col("p").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 16
        == 0
    )
    ok = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("ns"))
        .where("ns <= 64")
        .where(keep_part)
        .select("p")
    )
    psf = ps.join(ok, "p")
    return (
        psf.alias("x")
        .join(psf.alias("y"), (F.col("x.p") == F.col("y.p")) & (F.col("x.s") < F.col("y.s")))
        .select(F.col("x.s").alias("src"), F.col("y.s").alias("dst"))
    )


def _contracted_basket_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct basket contents + multiplicity (the shared contraction
    for basket_part_affinity and recommend_parts_for_customer): one
    per-order collect_set shuffle builds the sorted distinct-part
    basket (cap: > 20 distinct parts dropped — skew guard), then
    content-identical baskets contract to one row with a count."""
    baskets = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("parts"))
        .where(F.size("parts") <= 20)
    )
    return (
        baskets.groupBy("parts")
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )


def _basket_copair_counts(sig: DataFrame) -> DataFrame:
    """Weighted within-basket pair expansion over the contracted basket
    signatures: the k-squared runs once per DISTINCT basket and co_cnt
    sums multiplicities."""
    return (
        sig.select("m", F.explode("parts").alias("a"), "parts")
        .select("m", "a", F.explode("parts").alias("b"))
        .where(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("part_a"), F.col("b").alias("part_b"))
        .agg(F.sum("m").alias("co_cnt"))
        .where("co_cnt >= 2")
    )


@register(
    "basket_part_affinity",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ok AS (SELECT o FROM op GROUP BY o HAVING COUNT(*) <= 20),
    opf AS (SELECT op.o, op.p FROM op JOIN ok USING (o)),
    n AS (SELECT p, COUNT(*) AS n_orders FROM opf GROUP BY p),
    pairs AS (
      SELECT x.p AS part_a, y.p AS part_b, COUNT(*) AS co_cnt
      FROM opf x JOIN opf y ON x.o = y.o AND x.p < y.p
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, CAST(co_cnt AS BIGINT) AS co_cnt,
           ROUND(CAST(co_cnt AS DOUBLE)
                 / SQRT(CAST(na.n_orders AS DOUBLE) * CAST(nb.n_orders AS DOUBLE)),
                 6) AS cosine
    FROM pairs
    JOIN n na ON na.p = pairs.part_a
    JOIN n nb ON nb.p = pairs.part_b
    WHERE co_cnt >= 2
    """,
    doc="Market-basket item-item affinity (the collaborative-filtering "
    "/ association-rule primitive): parts that appear in the same "
    "order, with co-occurrence count and binary cosine "
    "co/sqrt(n_a*n_b). BASKET-CONTRACTED pair generation (r5, the "
    "uniform contract-before-quadratic rule): one groupBy(order) "
    "builds the sorted distinct-part basket (collect_set folds the "
    "former distinct + count into the same shuffle), the cap (> 20 "
    "distinct parts dropped, oracle-mirrored; TPC-H baskets average "
    "~4 so it is a skew guard) filters on basket size, then "
    "CONTENT-IDENTICAL baskets contract to one row with a "
    "multiplicity — the k-squared in-row pair expansion runs once "
    "per DISTINCT basket and co_cnt sums multiplicities, so a "
    "duplicated corpus costs its distinct-basket size (measured "
    "flat at sf5's 50x duplication). The basket group key is a "
    "short bounded array (<= 20 ints); margins join back as "
    "equi-joins AQE can broadcast. Integer counts divide as doubles "
    "rounded at 6 dp — exact both engines.",
)
def basket_part_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded relation reused by both the margins and the pair
    # expansion — one materialization.
    sig = _contracted_basket_sig(spark, sf_dir)
    n = (
        sig.select(F.explode("parts").alias("p"), "m")
        .groupBy("p")
        .agg(F.sum("m").alias("n_orders"))
    )
    pairs = _basket_copair_counts(sig)
    na = n.select(F.col("p").alias("part_a"), F.col("n_orders").alias("n_a"))
    nb = n.select(F.col("p").alias("part_b"), F.col("n_orders").alias("n_b"))
    return (
        pairs.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("co_cnt").cast("bigint").alias("co_cnt"),
            F.round(
                F.col("co_cnt").cast("double")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("cosine"),
        )
    )


def _bfs_oracle(hops: int = 3) -> str:
    """Unrolled k-hop BFS in DuckDB SQL mirroring operators/graph.py:
    bfs_khop hop-for-hop (min-distance relax per round) over the same
    part-sampled co-supply graph as graph_label_propagation."""
    its, prev = [], "d0"
    for i in range(1, hops + 1):
        its.append(f"""
    d{i} AS (
      SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM {prev}
        UNION ALL
        SELECT adj.b AS node, d.dist + 1 AS dist
        FROM adj JOIN {prev} d ON d.node = adj.a
      ) GROUP BY node
    )""")
        prev = f"d{i}"
    default_graph = """ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ok AS (SELECT p FROM ps GROUP BY p HAVING COUNT(*) <= 64),
    oks AS (SELECT p FROM ok
            WHERE ('0x' || SUBSTR(MD5('lpa:' || p), 1, 15))::BIGINT % 16 = 0),
    psf AS (SELECT ps.p, ps.s FROM ps JOIN oks USING (p)),
    e0 AS (SELECT DISTINCT x.s AS a, y.s AS b
           FROM psf x JOIN psf y ON x.p = y.p AND x.s < y.s)"""
    return f"""
    WITH {default_graph},
    adj AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    d0 AS (SELECT s AS node, 0 AS dist
           FROM (SELECT DISTINCT s FROM ps) WHERE s % 100 = 0),
    {",".join(its)}
    SELECT node, CAST(dist AS INTEGER) AS dist FROM {prev}
    """


@register(
    "graph_bfs_khop",
    oracle=_bfs_oracle(hops=3),
    doc="K-hop BFS distances (3 hops) from a seed supplier set over "
    "the part-sampled co-supply graph — the reachability member of "
    "the graph family (CC = components, PageRank = importance, LPA = "
    "communities, triangles = local structure). Each hop is one "
    "frontier equi-join + one min-distance aggregate keyed by node "
    "id, lineage cut per hop; the frontier lives in DataFrames, "
    "never on the driver. Fixed hop count ⇒ pure function of "
    "(edges, seeds) ⇒ the unrolled SQL oracle hash-matches. "
    "operators/graph.py.",
)
def graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.graph import bfs_khop

    ps = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        # Bounded distinct-pair relation reused 2-3× downstream
        # (cap filter + join + seeds): one materialization, not per-use
        # recomputes of the corpus scan + distinct.
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    keep_part = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lpa:"), F.col("p").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 16
        == 0
    )
    ok = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("ns"))
        .where("ns <= 64")
        .where(keep_part)
        .select("p")
    )
    psf = ps.join(ok, "p")
    pairs = (
        psf.alias("x")
        .join(psf.alias("y"), (F.col("x.p") == F.col("y.p")) & (F.col("x.s") < F.col("y.s")))
        .select(F.col("x.s").alias("src"), F.col("y.s").alias("dst"))
    )
    seeds = ps.select(F.col("s").alias("node")).distinct().where("node % 100 = 0")
    out = bfs_khop(pairs, seeds, hops=3)
    return out.select("node", F.col("dist").cast("int").alias("dist"))


@register(
    "recommend_parts_for_customer",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    ok AS (SELECT o FROM op GROUP BY o HAVING COUNT(*) <= 20),
    opf AS (SELECT op.o, op.p FROM op JOIN ok USING (o)),
    pairs AS (
      SELECT x.p AS part_a, y.p AS part_b, COUNT(*) AS co_cnt
      FROM opf x JOIN opf y ON x.o = y.o AND x.p < y.p
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    sym AS (
      SELECT part_a AS part_owned, part_b AS part_rec, co_cnt FROM pairs
      UNION ALL
      SELECT part_b, part_a, co_cnt FROM pairs
    ),
    owned AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey < 200
    ),
    scored AS (
      SELECT owned.c, sym.part_rec, SUM(sym.co_cnt) AS score
      FROM owned JOIN sym ON sym.part_owned = owned.p
      LEFT JOIN owned oh ON oh.c = owned.c AND oh.p = sym.part_rec
      WHERE oh.p IS NULL
      GROUP BY 1, 2
    )
    SELECT c AS custkey, part_rec, CAST(score AS BIGINT) AS score,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT scored.*,
                 ROW_NUMBER() OVER (PARTITION BY c
                                    ORDER BY score DESC, part_rec) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
    doc="Item-to-item recommendation serving join ('customers who "
    "bought X also bought Y'): the market-basket affinity pairs "
    "(co_cnt >= 2, basket-capped) symmetrized into an item->item "
    "model, joined against each target customer's owned-part set, "
    "already-owned parts anti-joined out, scores summed and the top-3 "
    "per customer cut with a deterministic (score desc, part asc) "
    "order. The model side is the bounded artifact (frequent pairs), "
    "the customer side streams through two equi-joins + one window — "
    "the batch-serving shape of every neighborhood recommender. "
    "Composes basket_part_affinity end-to-end; integer scores, fully "
    "hash-checked.",
)
def recommend_parts_for_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    # Shared basket-contracted pair machinery (r5): identical baskets
    # expand to pairs once, weighted by multiplicity.
    pairs = _basket_copair_counts(_contracted_basket_sig(spark, sf_dir))
    sym = pairs.select(
        F.col("part_a").alias("part_owned"),
        F.col("part_b").alias("part_rec"),
        "co_cnt",
    ).unionAll(
        pairs.select(
            F.col("part_b").alias("part_owned"),
            F.col("part_a").alias("part_rec"),
            "co_cnt",
        )
    )
    owned = (
        orders.where("o_custkey < 200")
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    cand = owned.join(sym, owned["p"] == sym["part_owned"]).select(
        "c", "part_rec", "co_cnt"
    )
    not_owned = cand.join(
        owned.select("c", F.col("p").alias("part_rec")),
        ["c", "part_rec"],
        "left_anti",
    )
    scored = not_owned.groupBy("c", "part_rec").agg(F.sum("co_cnt").alias("score"))
    w = Window.partitionBy("c").orderBy(F.desc("score"), F.col("part_rec"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where("rnk <= 3")
        .select(
            F.col("c").alias("custkey"),
            "part_rec",
            F.col("score").cast("bigint").alias("score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@register(
    "agg_correlation_matrix",
    oracle="""
    SELECT 'quantity_price' AS pair,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS r FROM lineitem
    UNION ALL
    SELECT 'quantity_discount', ROUND(CORR(l_quantity, l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'quantity_tax', ROUND(CORR(l_quantity, l_tax), 6) FROM lineitem
    UNION ALL
    SELECT 'price_discount', ROUND(CORR(l_extendedprice, l_discount), 6)
    FROM lineitem
    UNION ALL
    SELECT 'price_tax', ROUND(CORR(l_extendedprice, l_tax), 6) FROM lineitem
    UNION ALL
    SELECT 'discount_tax', ROUND(CORR(l_discount, l_tax), 6) FROM lineitem
    """,
    doc="Pairwise correlation matrix over the four lineitem numeric "
    "measures in ONE scan — all six CORR aggregates evaluate in the "
    "same single-pass aggregate (Catalyst collapses them into one "
    "physical Aggregate; no per-pair rescans), the feature-screening "
    "pass run before any modeling. Rounded to 6 dp to absorb the "
    "engines' covariance-merge reassociation (~1e-9 relative, same "
    "policy as agg_stats).",
)
def agg_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pairs = [
        ("quantity_price", "l_quantity", "l_extendedprice"),
        ("quantity_discount", "l_quantity", "l_discount"),
        ("quantity_tax", "l_quantity", "l_tax"),
        ("price_discount", "l_extendedprice", "l_discount"),
        ("price_tax", "l_extendedprice", "l_tax"),
        ("discount_tax", "l_discount", "l_tax"),
    ]
    one = li.agg(
        *[F.round(F.corr(a, b), 6).alias(name) for name, a, b in pairs]
    )
    # unpivot the single row to (pair, r) — stack stays in the same plan
    n = len(pairs)
    stack_expr = ", ".join(f"'{name}', {name}" for name, _, _ in pairs)
    return one.selectExpr(f"stack({n}, {stack_expr}) as (pair, r)")


@register(
    "graph_neighbor_jaccard",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    ok AS (SELECT p FROM ps GROUP BY p HAVING COUNT(*) <= 32),
    oks AS (SELECT p FROM ok
            WHERE ('0x' || SUBSTR(MD5('lpa:' || p), 1, 15))::BIGINT % 64 = 0),
    psf AS (SELECT ps.p, ps.s FROM ps JOIN oks USING (p)),
    e0 AS (SELECT DISTINCT x.s AS a, y.s AS b
           FROM psf x JOIN psf y ON x.p = y.p AND x.s < y.s),
    adj AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
    deg AS (SELECT a AS node, COUNT(*) AS d FROM adj GROUP BY 1),
    centers AS (SELECT node FROM deg WHERE d <= 96),
    wadj AS (SELECT adj.a, adj.b FROM adj JOIN centers ON centers.node = adj.b),
    common AS (
      SELECT x.a AS u, y.a AS v, COUNT(*) AS cn
      FROM wadj x JOIN wadj y ON x.b = y.b AND x.a < y.a
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT u, v, CAST(cn AS BIGINT) AS common_neighbors,
           ROUND(CAST(cn AS DOUBLE)
                 / CAST(du.d + dv.d - cn AS DOUBLE), 6) AS jaccard
    FROM common
    JOIN deg du ON du.node = u
    JOIN deg dv ON dv.node = v
    """,
    doc="Neighborhood Jaccard node similarity over the part-sampled "
    "co-supply graph: common-neighbor counts come from the wedge "
    "self-join adj ⋈ adj on the shared neighbor — the distributed "
    "formulation that never materializes neighbor SETS per node (a "
    "collect_set would be the non-scalable alternative) — and "
    "J(u,v) = |N∩| / (deg(u)+deg(v)−|N∩|) follows from two degree "
    "joins. Wedge work is Σ deg(center)², so the scale control is a "
    "CENTER-degree cap (≤96): hub centers are excluded from wedge "
    "generation, bounding wedges at nodes·96² at ANY corpus size, "
    "while output degrees stay FULL — counts/Jaccard become lower "
    "bounds, the same precision-safe contract as the ngram "
    "max_doc_freq stop-shingle cap (measured here: the uncapped "
    "wedge join on this dense co-supply graph was 458 M wedges / "
    "26.8 s at sf0.1; capped ~0.6 M / subsecond). The part sample "
    "(%64, ≤32 suppliers) keeps the demo graph edge count bounded "
    "too. Counts are exact ints; one double division rounded at "
    "6 dp.",
)
def graph_neighbor_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        # Bounded distinct-pair relation reused 2-3× downstream
        # (cap filter + join + seeds): one materialization, not per-use
        # recomputes of the corpus scan + distinct.
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    keep_part = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lpa:"), F.col("p").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 64
        == 0
    )
    ok = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("ns"))
        .where("ns <= 32")
        .where(keep_part)
        .select("p")
    )
    psf = ps.join(ok, "p")
    e0 = (
        psf.alias("x")
        .join(
            psf.alias("y"),
            (F.col("x.p") == F.col("y.p")) & (F.col("x.s") < F.col("y.s")),
        )
        .select(F.col("x.s").alias("a"), F.col("y.s").alias("b"))
        .distinct()
    )
    # The adj relation feeds the degree agg, the center filter, and both
    # wedge-join sides; one materialization, not four scans+distincts.
    adj = (
        e0.unionAll(e0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    deg = adj.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    centers = deg.where("d <= 96").select(F.col("node").alias("b"))
    wadj = adj.join(centers, "b").select("a", "b")
    common = (
        wadj.alias("x")
        .join(wadj.alias("y"), (F.col("x.b") == F.col("y.b")) & (F.col("x.a") < F.col("y.a")))
        .groupBy(F.col("x.a").alias("u"), F.col("y.a").alias("v"))
        .agg(F.count(F.lit(1)).alias("cn"))
        .where("cn >= 2")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    return (
        common.join(du, "u")
        .join(dv, "v")
        .select(
            "u",
            "v",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double")
                / (F.col("du") + F.col("dv") - F.col("cn")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


@register(
    "privacy_k_anonymity",
    oracle="""
    WITH classes AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             COUNT(*) AS class_size
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_mktsegment, CAST(c_nationkey AS INTEGER) AS c_nationkey,
           bal_band, CAST(class_size AS BIGINT) AS class_size,
           CAST(CASE WHEN class_size < 5 THEN 1 ELSE 0 END AS INTEGER)
             AS violates_k5,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                OVER () AS BIGINT) AS total_at_risk
    FROM classes
    """,
    doc="K-anonymity audit over quasi-identifiers (segment, nation, "
    "account-balance band): one hash aggregate sizes every "
    "equivalence class, classes below k=5 are re-identification "
    "risks that a release would need to suppress or generalize — "
    "the privacy gate a training-data pipeline runs next to PII "
    "redaction (X29). The at-risk total rides along from an "
    "unpartitioned window over the CLASS relation (|classes| rows — "
    "model-sized, the same bounded-global-window argument as the KMV "
    "merge), not over the corpus. Integer bands via FLOOR pin the "
    "double→bigint cast; all outputs exact.",
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_mktsegment",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("class_size"))
    w = Window.partitionBy()
    return classes.select(
        "c_mktsegment",
        "c_nationkey",
        "bal_band",
        F.col("class_size").cast("bigint").alias("class_size"),
        F.when(F.col("class_size") < 5, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("violates_k5"),
        F.sum(F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(F.lit(0)))
        .over(w)
        .cast("bigint")
        .alias("total_at_risk"),
    )


def _hits_oracle(rounds: int = 3) -> str:
    """Unrolled HITS in DuckDB SQL mirroring operators/graph.py:
    hits_scores round-for-round — un-normalized exact-integer rounds
    (deferred normalization), same top-20-per-kind cut."""
    parts = ["""
    WITH ed AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS s, l.l_partkey AS d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey % 4 = 0
    ),
    h0 AS (SELECT DISTINCT s, CAST(1 AS BIGINT) AS h FROM ed)"""]
    prev_h = "h0"
    for i in range(1, rounds + 1):
        parts.append(f"""
    a{i} AS MATERIALIZED (
      SELECT ed.d, SUM({prev_h}.h) AS a
      FROM ed JOIN {prev_h} USING (s) GROUP BY ed.d
    ),
    h{i} AS MATERIALIZED (
      SELECT ed.s, SUM(a{i}.a) AS h
      FROM ed JOIN a{i} USING (d) GROUP BY ed.s
    )""")
        prev_h = f"h{i}"
    k = rounds
    return (
        ",".join(parts)
        + f"""
    , scored AS (
      SELECT 'authority' AS kind, d AS id, CAST(a AS BIGINT) AS score,
             ROUND(CAST(a AS DOUBLE)
                   / (SELECT CAST(SUM(a) AS DOUBLE) FROM a{k}), 6) AS share
      FROM a{k}
      UNION ALL
      SELECT 'hub', s, CAST(h AS BIGINT),
             ROUND(CAST(h AS DOUBLE)
                   / (SELECT CAST(SUM(h) AS DOUBLE) FROM h{k}), 6)
      FROM h{k}
    )
    SELECT kind, id, score, share, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT scored.*,
                 ROW_NUMBER() OVER (PARTITION BY kind
                                    ORDER BY score DESC, id) AS rnk
          FROM scored)
    WHERE rnk <= 20
    """
    )


@register(
    "graph_hits_hubs_authorities",
    oracle=_hits_oracle(),
    doc="HITS hubs & authorities (Kleinberg) over the customer→part "
    "purchase bipartite graph (customers sampled %4 to bound the "
    "demo edge set): 3 un-normalized mutual-recursion rounds — two "
    "O(|E|) equi-join + hash-agg shuffles per round, lineage cut — "
    "with normalization DEFERRED to one final double division, so "
    "every iterate is an exact bigint path count and the whole "
    "recurrence unrolls into a hash-green SQL oracle (the fragile "
    "alternative, per-round float renormalization, would put "
    "order-sensitive double sums inside the recursion). Top-20 per "
    "kind, ties on id. The family complement: PageRank = global "
    "importance, LPA = communities, HITS = dual-role importance on "
    "bipartite interaction graphs.",
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from tfl_realtime_lakehouse_spark.operators.graph import hits_scores

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    edges = (
        orders.where(F.col("o_custkey") % 4 == 0)
        .select("o_orderkey", "o_custkey")
        .join(li.select("l_orderkey", "l_partkey"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
    )
    scored = hits_scores(edges, rounds=3)
    w = Window.partitionBy("kind").orderBy(F.col("score").desc(), "id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
        .select("kind", "id", "score", "share", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "part_skyline_price_size",
    oracle="""
    WITH pp AS (
      SELECT p_partkey, p_size,
             CAST(FLOOR(p_retailprice * 100.0 + 0.5) AS BIGINT) AS cents
      FROM part
    ),
    per_price AS (
      SELECT cents, MAX(p_size) AS same_max FROM pp GROUP BY cents
    ),
    run AS (
      SELECT cents, same_max,
             MAX(same_max) OVER (ORDER BY cents
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS cheaper_max
      FROM per_price
    )
    SELECT pp.p_partkey,
           CAST(pp.cents AS BIGINT) AS price_cents,
           CAST(pp.p_size AS INTEGER) AS p_size
    FROM pp JOIN run USING (cents)
    WHERE (run.cheaper_max IS NULL OR run.cheaper_max < pp.p_size)
      AND run.same_max <= pp.p_size
    """,
    doc="2-D skyline (Pareto frontier): parts not dominated on "
    "(price low, size high) — the classic multi-criteria shortlist "
    "operator. Dominance test without any pairwise join: group to "
    "per-price max sizes, one running MAX over the DISTINCT-PRICE "
    "relation (domain-sized — integer cents, bounded by the price "
    "domain, not the corpus; the corpus-sized work is two hash "
    "aggregates), then a part survives iff no strictly-cheaper price "
    "reaches its size and no same-price part strictly exceeds it. "
    "Ties on both dims are mutually non-dominating and both kept, "
    "per the standard definition. Prices keyed as exact integer "
    "cents (FLOOR(x·100+0.5), 2-dp source values) — no double "
    "equality joins.",
)
def part_skyline_price_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = table(spark, sf_dir, "part")
    pp = part.select(
        "p_partkey",
        "p_size",
        F.floor(F.col("p_retailprice") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    per_price = pp.groupBy("cents").agg(F.max("p_size").alias("same_max"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    run = per_price.withColumn("cheaper_max", F.max("same_max").over(w))
    return (
        pp.join(run, "cents")
        .where(
            (F.col("cheaper_max").isNull() | (F.col("cheaper_max") < F.col("p_size")))
            & (F.col("same_max") <= F.col("p_size"))
        )
        .select(
            "p_partkey",
            F.col("cents").alias("price_cents"),
            F.col("p_size").cast("int").alias("p_size"),
        )
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH maxd AS (SELECT MAX(o_orderdate) AS dmax FROM orders),
    rfm AS (
      SELECT c.c_custkey, c.c_mktsegment,
             CAST(DATE_DIFF('day', MAX(o.o_orderdate), maxd.dmax) AS BIGINT)
               AS r_days,
             COUNT(*) AS freq,
             SUM(CAST(o.o_totalprice AS DECIMAL(18, 2))) AS monetary
      FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      CROSS JOIN maxd
      GROUP BY c.c_custkey, c.c_mktsegment, maxd.dmax
    )
    SELECT c_custkey, c_mktsegment, r_days,
           CAST(freq AS BIGINT) AS freq,
           ROUND(CAST(monetary AS DOUBLE), 2) AS monetary,
           CAST(NTILE(5) OVER (PARTITION BY c_mktsegment
                               ORDER BY r_days DESC, c_custkey) AS INTEGER) AS r_q,
           CAST(NTILE(5) OVER (PARTITION BY c_mktsegment
                               ORDER BY freq, c_custkey) AS INTEGER) AS f_q,
           CAST(NTILE(5) OVER (PARTITION BY c_mktsegment
                               ORDER BY monetary, c_custkey) AS INTEGER) AS m_q
    FROM rfm
    """,
    doc="RFM (recency/frequency/monetary) customer segmentation — the "
    "standard marketing-analytics scoring: per-customer stats from "
    "one orders aggregate (recency vs the corpus max date, a 1-row "
    "broadcast), then quintile scores per dimension where 5 = best "
    "(most recent / most frequent / highest spend). NTILEs partition "
    "by market segment — segment-relative scores are the better "
    "practice AND keep every ranking window to one segment's "
    "customers rather than a global total order (the X77 equi-depth "
    "trade, with the same sketch alternative at extreme scale). "
    "Monetary aggregates in exact decimal; all three NTILEs break "
    "ties on c_custkey.",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("dmax"))
    rfm = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .crossJoin(F.broadcast(maxd))
        .groupBy("c_custkey", "c_mktsegment", "dmax")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
        )
        .select(
            "c_custkey",
            "c_mktsegment",
            F.datediff(F.col("dmax"), F.col("last_order")).cast("bigint").alias("r_days"),
            "freq",
            "monetary",
        )
    )
    wr = Window.partitionBy("c_mktsegment").orderBy(F.col("r_days").desc(), "c_custkey")
    wf = Window.partitionBy("c_mktsegment").orderBy("freq", "c_custkey")
    wm = Window.partitionBy("c_mktsegment").orderBy("monetary", "c_custkey")
    return rfm.select(
        "c_custkey",
        "c_mktsegment",
        "r_days",
        F.col("freq").cast("bigint").alias("freq"),
        F.round(F.col("monetary").cast("double"), 2).alias("monetary"),
        F.ntile(5).over(wr).cast("int").alias("r_q"),
        F.ntile(5).over(wf).cast("int").alias("f_q"),
        F.ntile(5).over(wm).cast("int").alias("m_q"),
    )


@register(
    "orders_duplicate_invoice_pairs",
    oracle="""
    SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(a.o_custkey AS BIGINT) AS custkey,
           ROUND(a.o_totalprice, 2) AS price_a,
           ROUND(b.o_totalprice, 2) AS price_b,
           CAST(ABS(DATE_DIFF('day', a.o_orderdate, b.o_orderdate)) AS BIGINT)
             AS days_apart
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    WHERE ABS(a.o_totalprice - b.o_totalprice)
            <= 0.01::DOUBLE * LEAST(a.o_totalprice, b.o_totalprice)
      AND ABS(DATE_DIFF('day', a.o_orderdate, b.o_orderdate)) <= 7
    """,
    doc="Duplicate-invoice detection: order pairs from the SAME "
    "customer within 7 days whose totals differ by ≤1% — the "
    "accounts-payable fraud/error screen. The self-join is keyed by "
    "o_custkey, so the pair space is Σ per-customer-orders² — "
    "bounded by per-key cardinality, never corpus² (AQE skew-join "
    "covers a pathological mega-customer; the basket-cap pattern "
    "would bound it structurally if needed); the price/date bands "
    "run as residual filters on the joined pairs. Double arithmetic "
    "is comparison-only (no accumulation) with identical trees; "
    "emitted prices round at 2 dp.",
)
def orders_duplicate_invoice_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("order_a"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("pa"),
        F.col("o_orderdate").alias("da"),
    )
    b = o.select(
        F.col("o_orderkey").alias("order_b"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").alias("pb"),
        F.col("o_orderdate").alias("db"),
    )
    return (
        a.join(b, "custkey")
        .where(F.col("order_a") < F.col("order_b"))
        .where(
            F.abs(F.col("pa") - F.col("pb"))
            <= F.lit(0.01) * F.least("pa", "pb")
        )
        .where(F.abs(F.datediff("da", "db")) <= 7)
        .select(
            "order_a",
            "order_b",
            F.col("custkey").cast("bigint").alias("custkey"),
            F.round("pa", 2).alias("price_a"),
            F.round("pb", 2).alias("price_b"),
            F.abs(F.datediff("da", "db")).cast("bigint").alias("days_apart"),
        )
    )


def _kcore_oracle(k: int = 8, rounds: int = 3) -> str:
    """Unrolled bounded k-core peel in DuckDB SQL mirroring
    operators/graph.py:kcore_peel round-for-round over the same
    part-sampled co-supply graph as graph_neighbor_jaccard."""
    parts = ["""
    WITH ps AS MATERIALIZED (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
                             FROM lineitem),
    ok AS (SELECT p FROM ps GROUP BY p HAVING COUNT(*) <= 32),
    oks AS (SELECT p FROM ok
            WHERE ('0x' || SUBSTR(MD5('lpa:' || p), 1, 15))::BIGINT % 64 = 0),
    psf AS (SELECT ps.p, ps.s FROM ps JOIN oks USING (p)),
    e0 AS MATERIALIZED (SELECT DISTINCT x.s AS a, y.s AS b
           FROM psf x JOIN psf y ON x.p = y.p AND x.s < y.s)"""]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(f"""
    d{i} AS MATERIALIZED (
      SELECT n, COUNT(*) AS deg FROM (
        SELECT a AS n FROM {prev} UNION ALL SELECT b FROM {prev}) GROUP BY n
    ),
    k{i} AS (SELECT n FROM d{i} WHERE deg >= {k}),
    e{i} AS MATERIALIZED (
      SELECT e.a, e.b FROM {prev} e
      JOIN k{i} ka ON ka.n = e.a
      JOIN k{i} kb ON kb.n = e.b
    )""")
        prev = f"e{i}"
    return (
        ",".join(parts)
        + f"""
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
    GROUP BY node
    """
    )


@register(
    "graph_kcore_members",
    oracle=_kcore_oracle(),
    doc="Bounded k-core peeling (k=8, 3 synchronous rounds) over the "
    "part-sampled co-supply graph — the dense-subgraph / community-"
    "core extractor completing the graph family (CC, PageRank, LPA, "
    "triangles, BFS, Jaccard, HITS). Each round: one degree hash "
    "aggregate + two semi-joins, lineage cut; survivors after r "
    "rounds are a monotone superset of the true k-core, exact at "
    "the fixed point — the FIXED round count is what lets the whole "
    "recurrence unroll into the MATERIALIZED-CTE oracle (the "
    "BFS/LPA/HITS verification pattern). All-integer output.",
)
def graph_kcore_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tfl_realtime_lakehouse_spark.operators.graph import kcore_peel

    ps = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    keep_part = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lpa:"), F.col("p").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % 64
        == 0
    )
    ok = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("ns"))
        .where("ns <= 32")
        .where(keep_part)
        .select("p")
    )
    psf = ps.join(ok, "p")
    pairs = (
        psf.alias("x")
        .join(
            psf.alias("y"),
            (F.col("x.p") == F.col("y.p")) & (F.col("x.s") < F.col("y.s")),
        )
        .select(F.col("x.s").alias("src"), F.col("y.s").alias("dst"))
    )
    return kcore_peel(pairs, k=8, rounds=3)


@register(
    "customer_revenue_concentration",
    oracle="""
    WITH ct AS (
      SELECT c.c_mktsegment, c.c_custkey,
             SUM(CAST(o.o_totalprice AS DECIMAL(18, 2))) AS spend
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    deciled AS (
      SELECT c_mktsegment, spend,
             NTILE(10) OVER (PARTITION BY c_mktsegment
                             ORDER BY spend DESC, c_custkey) AS decile
      FROM ct
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CASE WHEN decile = 1 THEN spend
                          ELSE CAST(0 AS DECIMAL(18, 2)) END) AS DOUBLE)
                 / CAST(SUM(spend) AS DOUBLE), 6) AS top_decile_share,
           ROUND(CAST(SUM(CASE WHEN decile <= 5 THEN spend
                          ELSE CAST(0 AS DECIMAL(18, 2)) END) AS DOUBLE)
                 / CAST(SUM(spend) AS DOUBLE), 6) AS top_half_share
    FROM deciled GROUP BY 1
    """,
    doc="Revenue concentration ('whale analysis') per market segment: "
    "the share of segment revenue contributed by the top spending "
    "decile and the top half — the complement of the Gini "
    "coefficient (X121) phrased the way revenue teams consume it. "
    "One decimal-exact per-customer aggregate, then a segment-"
    "partitioned NTILE (the RFM/X77 domain-window trade) and one "
    "re-aggregate sharing the same partitioning. Decile ties break "
    "on c_custkey; shares are single rounded divisions of exact "
    "decimal sums.",
)
def customer_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    ct = (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "c_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("spend").desc(), "c_custkey")
    deciled = ct.withColumn("decile", F.ntile(10).over(w))
    zero = F.lit(0).cast("decimal(18,2)")
    return deciled.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.round(
            F.sum(F.when(F.col("decile") == 1, F.col("spend")).otherwise(zero)).cast(
                "double"
            )
            / F.sum("spend").cast("double"),
            6,
        ).alias("top_decile_share"),
        F.round(
            F.sum(F.when(F.col("decile") <= 5, F.col("spend")).otherwise(zero)).cast(
                "double"
            )
            / F.sum("spend").cast("double"),
            6,
        ).alias("top_half_share"),
    )
