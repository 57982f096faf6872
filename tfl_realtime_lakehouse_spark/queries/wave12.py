"""Round-11 extension wave: corpus curation under a token budget and
eval-set design — two operations a training-data pipeline runs right
before and right after the filtering stack this repo already covers.

- ``corpus_budget_select`` (X227) — greedy quality-per-token selection
  under a global token budget (the knapsack-relaxation curation step:
  order docs by value density, take the prefix that fits). The engine
  side showcases ``operators/sampling.py:ordered_prefix_sum`` — a
  range-partitioned two-pass running sum that replaces the
  un-partitioned window Spark would otherwise plan as ONE task holding
  the whole corpus. The oracle is the plain single-window SQL form.
- ``eval_neyman_allocation`` (X228) — optimal (Neyman 1934) per-stratum
  sample allocation for a fixed-size eval set: n_k ∝ N_k·σ_k, computed
  from exact integer sums so both engines derive bit-identical sigmas,
  with the weight total pinned in DECIMAL so the share/floor columns
  are deterministic cross-engine.

Determinism discipline (registry.py docstring): ratios and sigmas are
doubles derived ONLY from exact integers by identical expression
shapes — bit-identical across engines — and cross-row float totals are
pinned to DECIMAL before any division; rounding is display-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators.sampling import ordered_prefix_sum
from tfl_realtime_lakehouse_spark.queries.registry import register, table


@register(
    "corpus_budget_select",
    oracle="""
    WITH d AS (
      SELECT doc_id, source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(LEN(LIST_DISTINCT(STRING_SPLIT(LOWER(text), ' ')))
                  AS BIGINT) AS uniq_words
      FROM documents
    ), r AS (
      SELECT *,
             CAST(uniq_words AS DOUBLE)
               / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS ratio
      FROM d
    ), tot AS (
      SELECT CAST(FLOOR(0.4 * CAST(SUM(n_tokens) AS DOUBLE)) AS BIGINT)
             AS budget
      FROM d
    ), c AS (
      SELECT doc_id, source, n_tokens, uniq_words, ratio,
             CAST(ROW_NUMBER() OVER
                  (ORDER BY ratio DESC, doc_id) AS BIGINT) AS sel_rank,
             CAST(SUM(n_tokens) OVER
                  (ORDER BY ratio DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_tokens
      FROM r
    )
    SELECT doc_id, source, n_tokens, uniq_words,
           ROUND(ratio, 6) AS quality_per_token, sel_rank, cum_tokens
    FROM c, tot
    WHERE c.cum_tokens <= tot.budget
    """,
    doc="Greedy token-budget corpus selection: docs ranked by lexical "
    "value density (distinct-word count per whitespace token — both "
    "exact integers, so the ratio double is bit-identical cross-"
    "engine), selected in rank order until 40% of the corpus token "
    "mass is spent. The prefix machinery is the point at scale: a "
    "global ORDER BY + running SUM window has NO partition key, so "
    "Spark executes it as a single task over the whole corpus; "
    "ordered_prefix_sum (operators/sampling.py) range-partitions on "
    "the ranking key, computes per-partition running sums in parallel "
    "windows keyed by partition id, and stitches them with "
    "driver-folded offsets (one row per partition), making the prefix "
    "selection shuffle-bounded and 100 TB-safe. Ties are impossible "
    "(doc_id suffix makes the order total). Oracle runs the plain "
    "single-window SQL form.",
)
def corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.lower(F.col("text")), " ")))
        .cast("bigint")
        .alias("uniq_words"),
    ).withColumn(
        "ratio",
        F.col("uniq_words").cast("double")
        / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
    )
    budget = d.agg(
        F.floor(F.lit(0.4) * F.sum("n_tokens").cast("double"))
        .cast("bigint")
        .alias("budget")
    )
    ranked = ordered_prefix_sum(
        d.withColumn("__one", F.lit(1)),
        order_by=[F.col("ratio").desc(), F.col("doc_id").asc()],
        values={"n_tokens": "cum_tokens", "__one": "sel_rank"},
    )
    return (
        ranked.join(F.broadcast(budget))
        .where(F.col("cum_tokens") <= F.col("budget"))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "uniq_words",
            F.round("ratio", 6).alias("quality_per_token"),
            "sel_rank",
            "cum_tokens",
        )
    )


@register(
    "eval_neyman_allocation",
    oracle="""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sx,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2
      FROM documents GROUP BY source
    ), v AS (
      SELECT source, n_docs,
             SQRT((CAST(sx2 AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                     / CAST(n_docs AS DOUBLE))
                  / CAST(n_docs AS DOUBLE)) AS sigma
      FROM s
    ), p AS (
      SELECT source, n_docs,
             ROUND(sigma, 6) AS sigma6,
             CAST(CAST(n_docs AS DECIMAL(18,0))
                  * CAST(ROUND(sigma, 6) AS DECIMAL(18,6))
                  AS DECIMAL(38,6)) AS wk
      FROM v
    ), t AS (SELECT CAST(SUM(wk) AS DECIMAL(38,6)) AS wtot FROM p)
    SELECT source, n_docs, sigma6 AS sigma_chars,
           ROUND(CAST(wk AS DOUBLE) / CAST(wtot AS DOUBLE), 6) AS alloc_share,
           CAST(FLOOR(1000.0 * CAST(wk AS DOUBLE) / CAST(wtot AS DOUBLE))
                AS BIGINT) AS alloc_n
    FROM p, t
    """,
    doc="Neyman-optimal eval-set allocation: a 1000-doc eval sample is "
    "apportioned across sources by n_k ∝ N_k·σ_k (Neyman 1934 — "
    "minimizes the stratified estimator's variance for a fixed total "
    "n), with σ_k the per-source population stddev of doc length. "
    "Determinism chain: σ comes from exact BIGINT (count, sum, "
    "sum-of-squares) partial aggregates through an identical double "
    "expression on both engines (bit-identical result — no cross-row "
    "float order anywhere), the weight N_k·σ_k is pinned at 6 dp in "
    "DECIMAL and totaled exactly, so the share division and the "
    "floor(1000·share) integer allocation are deterministic. One "
    "map-side-combinable groupBy + a broadcast scalar join: "
    "100 TB-safe by construction.",
)
def eval_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return neyman_readout(neyman_stats(table(spark, sf_dir, "documents")))


def neyman_stats(docs: DataFrame) -> DataFrame:
    """Per-source exact partials ``(source, n_docs, sx, sx2)``: row
    count, char sum and char sum-of-squares. SUM skips NULL ``n_chars``
    while the count keeps the row, so an all-NULL source has NULL sums.
    The partials merge by addition, so Structured Streaming can maintain
    them as an update-mode aggregate and feed the same readout."""
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("sx2"),
    )


def neyman_readout(s: DataFrame) -> DataFrame:
    """Allocation readout over ``neyman_stats``, batch or streamed: the
    float math is one expression tree on both sides."""
    v = s.withColumn(
        "sigma",
        F.sqrt(
            (
                F.col("sx2").cast("double")
                - F.col("sx").cast("double")
                * F.col("sx").cast("double")
                / F.col("n_docs").cast("double")
            )
            / F.col("n_docs").cast("double")
        ),
    )
    p = v.select(
        "source",
        "n_docs",
        F.round("sigma", 6).alias("sigma6"),
        (
            F.col("n_docs").cast("decimal(18,0)")
            * F.round("sigma", 6).cast("decimal(18,6)")
        )
        .cast("decimal(38,6)")
        .alias("wk"),
    )
    t = p.agg(F.sum("wk").cast("decimal(38,6)").alias("wtot"))
    share = F.col("wk").cast("double") / F.col("wtot").cast("double")
    return p.join(F.broadcast(t)).select(
        "source",
        "n_docs",
        F.col("sigma6").alias("sigma_chars"),
        F.round(share, 6).alias("alloc_share"),
        F.floor(F.lit(1000.0) * share).cast("bigint").alias("alloc_n"),
    )
