"""Round-6 extension wave: curation/eval operators a training-data
pipeline runs between scoring and shipping — active-learning selection,
conformal filter thresholds, per-source scorecards, PII co-occurrence,
packing efficiency, and a partition-skew pre-flight audit.

Shared determinism discipline (registry.py docstring): the quality
scorer is the repo's rational sigmoid (no transcendental beyond LN/SQRT,
which are IEEE-correctly-rounded in both engines), continuous outputs
round at 6 dp, sums that feed divisions accumulate as exact decimals or
exact integers, quantiles are discrete.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators import text as X
from tfl_realtime_lakehouse_spark.queries.registry import register, table

# The shared rational-sigmoid quality scorer (identical IEEE tree to
# eval_score_calibration / text_quality_logreg_train's feature side).
_Z_SQL = (
    "(LEN(STRING_SPLIT(text, ' ')) - 45.0) / 10.0"
    " + 2.0 * (LEN(LIST_FILTER(STRING_SPLIT(text, ' '),"
    " w -> w IN ('the', 'a')))::DOUBLE"
    " / LEN(STRING_SPLIT(text, ' ')))"
)


def _z_col() -> F.Column:
    toks = F.split("text", " ")
    return (F.size(toks).cast("double") - F.lit(45.0)) / F.lit(10.0) + F.lit(
        2.0
    ) * (
        F.size(F.filter(toks, lambda t: t.isin("the", "a"))).cast("double")
        / F.size(toks).cast("double")
    )


def _score_col() -> F.Column:
    z = _z_col()
    return F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))


@register(
    "sample_uncertainty_margin",
    oracle=f"""
    WITH d AS (
      SELECT lang, doc_id, {_Z_SQL} AS z FROM documents
      WHERE text IS NOT NULL
    ),
    s AS (
      SELECT lang, doc_id,
             0.5 + 0.5 * z / (1.0 + ABS(z)) AS score,
             ABS((0.5 + 0.5 * z / (1.0 + ABS(z))) - 0.5) AS m
      FROM d
    ),
    r AS (
      SELECT lang, doc_id, score, m,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY m, doc_id)
                 AS pick_rank
      FROM s
    )
    SELECT lang, doc_id, ROUND(score, 6) AS score, ROUND(m, 6) AS margin,
           CAST(pick_rank AS INTEGER) AS pick_rank
    FROM r WHERE pick_rank <= 20
    """,
    doc="Active-learning uncertainty sampling: the per-language top-20 "
    "documents whose quality score sits closest to the 0.5 decision "
    "boundary — the batch a human-annotation (or LLM-judge) loop "
    "labels next, because boundary examples move the classifier most "
    "per label. Ordering is on the UNROUNDED margin with doc_id "
    "tie-break, and the margin reuses the repo's shared "
    "rational-sigmoid tree, so both engines rank bit-identically. "
    "Null-text documents are excluded EXPLICITLY on both engines — a "
    "doc with no text can't be scored, and the engines disagree on "
    "what a null-text score even is (Spark's size(split(NULL)) is -1, "
    "DuckDB's LEN(STRING_SPLIT(NULL)) is NULL), so the filter must be "
    "on text itself, never downstream of the scorer. "
    "Per-lang top-k window ships as sort-per-partition; at 100 TB the "
    "same plan runs as TakeOrdered per lang key (k bounded), never a "
    "global sort.",
)
def sample_uncertainty_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    score = _score_col()
    margin = F.abs(score - F.lit(0.5))
    base = docs.where(F.col("text").isNotNull()).select(
        "lang", "doc_id", score.alias("_s"), margin.alias("_m")
    )
    w = Window.partitionBy("lang").orderBy("_m", "doc_id")
    return (
        base.withColumn("pick_rank", F.row_number().over(w).cast("int"))
        .where(F.col("pick_rank") <= 20)
        .select(
            "lang",
            "doc_id",
            F.round("_s", 6).alias("score"),
            F.round("_m", 6).alias("margin"),
            "pick_rank",
        )
    )


@register(
    "eval_conformal_thresholds",
    oracle=f"""
    WITH d AS (
      SELECT lang, {_Z_SQL} AS z FROM documents
      WHERE text IS NOT NULL
    ),
    a AS (
      SELECT lang,
             ROUND(1.0 - (0.5 + 0.5 * z / (1.0 + ABS(z))), 6) AS a
      FROM d
    ),
    c AS (SELECT lang, a, COUNT(*) AS cnt FROM a GROUP BY 1, 2),
    t AS (SELECT lang, SUM(cnt) AS n FROM c GROUP BY 1),
    cum AS (
      SELECT lang, a,
             SUM(cnt) OVER (PARTITION BY lang ORDER BY a) AS cum
      FROM c
    ),
    pick AS (
      SELECT cum.lang, t.n, cum.a, cum.cum,
             ROW_NUMBER() OVER (PARTITION BY cum.lang ORDER BY cum.a) AS rn
      FROM cum JOIN t USING (lang)
      WHERE cum.cum >= LEAST(t.n, CAST(CEIL(0.9 * (t.n + 1)) AS BIGINT))
    )
    SELECT lang, CAST(n AS BIGINT) AS n, ROUND(a, 6) AS q_hat,
           ROUND(CAST(cum AS DOUBLE) / n, 6) AS coverage
    FROM pick WHERE rn = 1
    """,
    doc="Split-conformal filter thresholds per language: nonconformity "
    "= 1 − quality score (6-dp-rounded so the value space is finite), "
    "threshold = the ceil(0.9·(n+1))-th smallest nonconformity (capped "
    "at n) — the distribution-free quantile that guarantees ≥90% of "
    "in-distribution documents pass the filter. Scale-safe discrete "
    "quantile via the agg_quantile_per_group histogram discipline: "
    "per-(lang, value) counts + one cumulative window over the BOUNDED "
    "6-dp value space — never a per-group sort of raw rows. Reports "
    "the realized coverage alongside the threshold. Null-text "
    "documents are EXCLUDED explicitly on both engines: a doc with no "
    "text can't enter a calibration set, the engines disagree on what "
    "its score even is (Spark size(split(NULL)) = -1, DuckDB "
    "LEN(STRING_SPLIT(NULL)) = NULL) — so the filter is on text "
    "itself, inside the histogram aggregation the streaming twin "
    "runs too.",
)
def eval_conformal_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    return conformal_readout(conformal_hist(table(spark, sf_dir, "documents")))


def conformal_hist(docs: DataFrame) -> DataFrame:
    """Per-(lang, a) counts over the 6-dp-rounded nonconformity ``a`` of
    the non-null-text documents: a mergeable histogram over a bounded
    value space, so Structured Streaming can maintain it as an
    update-mode aggregate and feed the same readout."""
    a = F.round(F.lit(1.0) - _score_col(), 6)
    return (
        docs.where(F.col("text").isNotNull())
        .groupBy("lang", a.alias("a"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def conformal_readout(c: DataFrame) -> DataFrame:
    """Per-lang (n, q_hat, coverage) over the ``conformal_hist`` table,
    batch or streamed: the
    min(n, ceil(0.9·(n+1)))-th smallest value via one cumulative window
    over the histogram."""
    t = c.groupBy("lang").agg(F.sum("cnt").alias("n"))
    cum = c.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy("lang").orderBy("a"))
    )
    idx = F.least(
        F.col("n"),
        F.ceil(F.lit(0.9) * (F.col("n") + F.lit(1)).cast("double")).cast(
            "bigint"
        ),
    )
    picked = (
        cum.join(t, "lang")
        .where(F.col("cum") >= idx)
        .groupBy("lang", "n")
        .agg(F.min(F.struct(F.col("a"), F.col("cum"))).alias("s"))
    )
    return picked.select(
        "lang",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s.a"), 6).alias("q_hat"),
        F.round(F.col("s.cum").cast("double") / F.col("n"), 6).alias(
            "coverage"
        ),
    )


@register(
    "docs_source_quality_profile",
    oracle=f"""
    WITH sc AS (
      SELECT source, lang, n_chars, text, {_Z_SQL} AS z FROM documents
    ),
    s AS (
      SELECT source, n_chars, MD5(text) AS h,
             0.5 + 0.5 * z / (1.0 + ABS(z)) AS score
      FROM sc
    ),
    a AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
             SUM(n_chars) AS sch,
             SUM(CAST(score AS DECIMAL(27,12))) AS sq
      FROM s GROUP BY 1
    ),
    c AS (SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY 1, 2),
    t AS (SELECT source, SUM(cnt) AS nt FROM c GROUP BY 1),
    e AS (
      SELECT c.source,
             ROUND(CAST(SUM(CAST(
               -(CAST(cnt AS DOUBLE) / CAST(nt AS DOUBLE))
                * LN(CAST(cnt AS DOUBLE) / CAST(nt AS DOUBLE))
             AS DECIMAL(27,12))) AS DOUBLE) / LN(2.0::DOUBLE), 6)
                 AS lang_entropy_bits
      FROM c JOIN t USING (source) GROUP BY c.source
    )
    SELECT a.source, n_docs, n_distinct,
           ROUND(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
               AS dup_ratio,
           ROUND(CAST(sch AS DOUBLE) / n_docs, 6) AS mean_chars,
           ROUND(CAST(sq AS DOUBLE) / n_docs, 6) AS mean_quality,
           lang_entropy_bits
    FROM a JOIN e ON a.source = e.source
    """,
    doc="Per-source scorecard — the crawl-curation decision table "
    "(keep / down-weight / drop a source): volume, exact-dup ratio "
    "(distinct md5(text) vs rows — fixed-width distinct keys, the "
    "scale shape), mean length, mean quality under the shared "
    "rational-sigmoid scorer (decimal-exact sum), and the language-mix "
    "entropy in bits (the events_behavior_entropy decimal-pinned LN "
    "pattern). Two aggregations + one tiny join keyed on source — "
    "map-side combinable end to end; key space is |sources|, "
    "data-independent.",
)
def docs_source_quality_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # null-text docs stay in the VOLUME counts but contribute neither a
    # quality score nor a distinct hash — exactly what the oracle does
    # (DuckDB's scorer yields NULL on NULL text and SUM/COUNT DISTINCT
    # skip it); Spark's size(split(NULL)) = -1 would silently score
    # null text without the explicit guard (same class as the r6
    # conformal-twin ADVICE). The guard is ARITHMETIC null propagation
    # (score + [0.0 iff text non-null]) rather than CASE WHEN(score):
    # Spark skips subexpression elimination inside conditional
    # branches, so wrapping the scorer in WHEN re-evaluated its triple
    # split(text) per row — measured 2× on the whole query at sf5
    # (3.1 s → 6.7 s); the additive form keeps the scorer outside any
    # branch (+0.0 is exact: the score is in (0,1), never −0.0).
    _score_guarded = _score_col() + F.when(
        F.col("text").isNotNull(), F.lit(0.0)
    )
    base = docs.select(
        "source",
        "n_chars",
        _score_guarded.alias("_score"),
        F.md5("text").alias("_h"),
    )
    a = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("_h").cast("bigint").alias("n_distinct"),
        F.sum("n_chars").alias("_sch"),
        F.sum(F.col("_score").cast("decimal(27,12)")).alias("_sq"),
    )
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("source").agg(F.sum("cnt").alias("nt"))
    p = F.col("cnt").cast("double") / F.col("nt").cast("double")
    term = (-p * F.log(p)).cast("decimal(27,12)")
    e = (
        c.join(t, "source")
        .groupBy("source")
        .agg(
            F.round(
                F.sum(term).cast("double") / F.log(F.lit(2.0)), 6
            ).alias("lang_entropy_bits")
        )
    )
    return a.join(e, "source").select(
        "source",
        "n_docs",
        "n_distinct",
        F.round(
            F.lit(1.0)
            - F.col("n_distinct").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("dup_ratio"),
        F.round(F.col("_sch").cast("double") / F.col("n_docs"), 6).alias(
            "mean_chars"
        ),
        F.round(F.col("_sq").cast("double") / F.col("n_docs"), 6).alias(
            "mean_quality"
        ),
        "lang_entropy_bits",
    )


@register(
    "text_pii_cooccurrence",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 = 0
                     THEN ' contact user' || doc_id || '@example.com' ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' from 10.' || (doc_id % 256) || '.0.' || (doc_id % 254 + 1) ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' ref ' || (1000000 + doc_id * 9973) ELSE '' END AS text
      FROM documents
    ),
    f AS (
      SELECT
        CASE WHEN LEN(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
             THEN 1 ELSE 0 END AS e,
        CASE WHEN LEN(regexp_extract_all(text,
             '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) > 0
             THEN 1 ELSE 0 END AS i,
        CASE WHEN LEN(regexp_extract_all(text, '\\d{7,}')) > 0
             THEN 1 ELSE 0 END AS r
      FROM aug
    ),
    s AS (
      SELECT SUM(e) AS ee, SUM(i) AS ii, SUM(r) AS rr,
             SUM(e * i) AS ei, SUM(e * r) AS er, SUM(i * r) AS ir
      FROM f
    )
    SELECT 'digit_run' AS class_a, 'digit_run' AS class_b,
           CAST(rr AS BIGINT) AS n_docs FROM s
    UNION ALL SELECT 'digit_run', 'email', CAST(er AS BIGINT) FROM s
    UNION ALL SELECT 'digit_run', 'ip', CAST(ir AS BIGINT) FROM s
    UNION ALL SELECT 'email', 'email', CAST(ee AS BIGINT) FROM s
    UNION ALL SELECT 'email', 'ip', CAST(ei AS BIGINT) FROM s
    UNION ALL SELECT 'ip', 'ip', CAST(ii AS BIGINT) FROM s
    """,
    doc="PII-class co-occurrence audit: how often PII categories appear "
    "TOGETHER in one document (email+IP in the same doc is a much "
    "higher re-identification risk than either alone — the "
    "k-anonymity intuition applied to scrubbing priority). Reuses "
    "pii_redaction's deterministic augmentation and RE2-compatible "
    "patterns (operators/text.py PII_PATTERNS); per-doc flags are "
    "map-side JVM regex, the matrix is ONE global aggregate of six "
    "integer sums unpivoted to (class_a ≤ class_b) rows — output is "
    "|classes|², data-independent.",
)
def text_pii_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" contact user"), d.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (d % 256).cast("string"),
                F.lit(".0."),
                (d % 254 + 1).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" ref "), (F.lit(1000000) + d * 9973).cast("string")),
        ).otherwise(F.lit("")),
    )
    red = X.redact_pii(docs.select("doc_id", aug.alias("text")))
    flags = red.select(
        (F.col("n_email") > 0).cast("int").alias("e"),
        (F.col("n_ip") > 0).cast("int").alias("i"),
        (F.col("n_digit_run") > 0).cast("int").alias("r"),
    )
    s = flags.agg(
        F.sum("e").alias("ee"),
        F.sum("i").alias("ii"),
        F.sum("r").alias("rr"),
        F.sum(F.col("e") * F.col("i")).alias("ei"),
        F.sum(F.col("e") * F.col("r")).alias("er"),
        F.sum(F.col("i") * F.col("r")).alias("ir"),
    )

    def row(ca: str, cb: str, col: str) -> F.Column:
        return F.struct(
            F.lit(ca).alias("class_a"),
            F.lit(cb).alias("class_b"),
            F.col(col).cast("bigint").alias("n_docs"),
        )

    return s.select(
        F.explode(
            F.array(
                row("digit_run", "digit_run", "rr"),
                row("digit_run", "email", "er"),
                row("digit_run", "ip", "ir"),
                row("email", "email", "ee"),
                row("email", "ip", "ei"),
                row("ip", "ip", "ii"),
            )
        ).alias("x")
    ).select("x.class_a", "x.class_b", "x.n_docs")


@register(
    "eval_packing_efficiency",
    oracle="""
    WITH toks AS (SELECT doc_id, LEN(STRING_SPLIT(text,' ')) AS n FROM documents),
    chunks AS (
      SELECT doc_id, s.i AS start, LEAST(64, n - s.i) AS ct
      FROM toks, UNNEST(RANGE(0, CAST(n AS BIGINT), 64)) AS s(i)
    ), assigned AS (
      SELECT doc_id, ct, CAST(doc_id % 32 AS INTEGER) AS shard,
             CAST(FLOOR(COALESCE(SUM(ct) OVER (PARTITION BY doc_id % 32 ORDER BY doc_id, start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0) AS BIGINT) AS window_id
      FROM chunks
    ),
    win AS (
      SELECT shard, window_id, SUM(ct) AS wt
      FROM assigned GROUP BY 1, 2
    )
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(wt) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(wt) AS DOUBLE) / (COUNT(*) * 256.0), 6) AS mean_fill,
           CAST(MAX(wt) AS BIGINT) AS max_window_tokens,
           CAST(MIN(wt) AS BIGINT) AS min_window_tokens,
           CAST(SUM(CASE WHEN wt >= 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_full
    FROM win GROUP BY shard
    """,
    doc="Packing-efficiency report over the sequence_packing layout: "
    "per shard, how full the fixed-context training windows actually "
    "are (mean fill factor vs the 256-token context, full-window "
    "count, min/max window mass) — the waste metric that decides "
    "whether to re-pack or change chunking before a training run. "
    "Composes the verified chunk→pack operators and adds two bounded "
    "aggregates (per-window, then per-shard); key spaces are "
    "|shards|·|windows| then |shards|.",
)
def eval_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    chunks = X.chunk_documents(docs, chunk_tokens=64, stride=64)
    packed = X.pack_sequences(chunks, context_tokens=256, num_shards=32)
    win = packed.groupBy("shard", "window_id").agg(
        F.sum("n_tokens").alias("wt")
    )
    return win.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum("wt").cast("bigint").alias("n_tokens"),
        F.round(
            F.sum("wt").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(256.0)),
            6,
        ).alias("mean_fill"),
        F.max("wt").cast("bigint").alias("max_window_tokens"),
        F.min("wt").cast("bigint").alias("min_window_tokens"),
        F.sum((F.col("wt") >= 256).cast("int")).cast("bigint").alias(
            "n_full"
        ),
    )


@register(
    "layout_partition_skew_audit",
    oracle="""
    WITH c AS (
      SELECT STRFTIME(o_orderdate, '%Y-%m') AS pkey, COUNT(*) AS cnt
      FROM orders GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_partitions,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MAX(cnt) AS BIGINT) AS max_rows,
           CAST(MIN(cnt) AS BIGINT) AS min_rows,
           ROUND(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 6) AS mean_rows,
           ROUND(CAST(MAX(cnt) AS DOUBLE)
                 / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)), 6) AS skew_factor,
           ROUND(CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
               AS top1_share,
           ROUND(SQRT((CAST(SUM(cnt * cnt) AS DOUBLE)
                       - CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)
                         / COUNT(*)) / COUNT(*))
                 / (CAST(SUM(cnt) AS DOUBLE) / COUNT(*)), 6) AS cv
    FROM c
    """,
    doc="Partition-skew pre-flight audit for a proposed partition key "
    "(order month here): per-key counts reduced to the imbalance "
    "metrics that decide between plain partitioning, salting "
    "(skew_salted_*), or AQE skew handling — max/mean skew factor, "
    "top-1 share, and the coefficient of variation from exact integer "
    "moments (sum, sum-of-squares) with SQRT as the only float step "
    "(IEEE-correctly-rounded in both engines). One shuffle on the "
    "candidate key + one scalar aggregate; the audit is O(|keys|) "
    "regardless of table size — run it BEFORE committing a layout.",
)
def layout_partition_skew_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("pkey")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    n = F.count(F.lit(1))
    s_d = F.sum("cnt").cast("double")
    q_d = F.sum(F.col("cnt") * F.col("cnt")).cast("double")
    max_d = F.max("cnt").cast("double")
    mean = s_d / n
    return c.agg(
        n.cast("bigint").alias("n_partitions"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_rows"),
        F.min("cnt").cast("bigint").alias("min_rows"),
        F.round(mean, 6).alias("mean_rows"),
        F.round(max_d / mean, 6).alias("skew_factor"),
        F.round(max_d / s_d, 6).alias("top1_share"),
        F.round(
            F.sqrt((q_d - s_d * s_d / n) / n) / mean, 6
        ).alias("cv"),
    )
