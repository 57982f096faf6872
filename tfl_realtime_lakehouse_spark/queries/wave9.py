"""Round-8 second extension wave: sketch threshold tuning,
index-health audits and MOSS-style winnowing fingerprints (the wave's
bootstrap and uplift readouts live in ``queries/experiments.py``).

- ``dedup_lsh_threshold_sweep`` — precision/recall/F1 of the MinHash
  estimate as the verify threshold moves over its own 1/16 grid; the
  operating-curve companion to X203's error histogram.
- ``embedding_lsh_bucket_balance`` — per-table bucket-size audit of the
  Rademacher sign-LSH index (the ANN analogue of
  layout_partition_skew_audit): collision rate predicts the candidate
  equi-join's cost before you run it.
- ``doc_winnowing_fingerprints`` — Schleimer–Wilkerson–Aiken 2003
  winnowing over word 4-gram rolling hashes: guaranteed-detection local
  fingerprints, the plagiarism/contamination primitive that exact-hash
  and MinHash fingerprints both miss.

Shared determinism discipline (registry.py docstring): counts are
exact integers end to end and continuous outputs round at 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.registry import register, table

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
