"""Sampling operators for training-data pipelines.

- ``hash_split``: deterministic content-addressed train/val/test split —
  the split is a pure function of the row key (md5-derived bucket), so
  it is reproducible across runs, engines, and corpus re-partitions,
  and rows never migrate between splits as the corpus grows. This is
  the correct split primitive at 100 TB (random sampling with a seed is
  partitioning-dependent).
- ``stratified_sample``: per-stratum Bernoulli sampling via ``sampleBy``
  (seeded; approximate fractions) for class-balanced subsets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.sources.tables import CKPT_LEVEL, fan_out


def hash_bucket(key: Column | str, buckets: int = 100) -> Column:
    """Deterministic bucket in [0, buckets): parse the first 8 hex chars
    of md5(key) — stable everywhere (any engine can reproduce it)."""
    col = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % buckets
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, int] | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by key-hash bucket.

    ``splits`` maps name → percentage (must sum to 100); default
    90/5/5 train/val/test.
    """
    splits = splits or {"train": 90, "val": 5, "test": 5}
    if sum(splits.values()) != 100:
        raise ValueError(f"split percentages must sum to 100: {splits}")
    bucket = hash_bucket(key_col)
    expr = None
    lo = 0
    for name, pct in splits.items():
        cond = (bucket >= lo) & (bucket < lo + pct)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sample (approximate fractions, seeded)."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def importance_weights(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by the log-likelihood ratio of its hashed bag-of-words
    under a TARGET subcorpus distribution vs the full-corpus background
    distribution. Documents that look like the target domain get
    positive weight; generic documents get ~0; anti-target negative.

    Distributed shape (all JVM expressions, two shuffles):
    tokenize → md5-hash each token into ``buckets`` cells → one
    groupBy(bucket) builds BOTH distributions in a single pass
    (conditional count for the target, total count for the background;
    Laplace +1 smoothing over the bucket count) → per-token log-ratio
    joins back via a broadcast of the O(buckets) score table → per-doc
    sum. The per-doc SUM is taken in DECIMAL(27,12) so it is
    evaluation-order-free — the per-token log-ratio is a pure scalar
    (identical on any engine), making the whole weight deterministic
    and oracle-checkable.

    At 100 TB: the score table is `buckets` rows regardless of corpus
    size (THE point of hashed features — no vocabulary to fit anywhere),
    the token explode is map-side, and the two aggregations shuffle
    fixed-width keys.
    """
    # Fanned out (single-row-group scans otherwise tokenize+md5 on one
    # core) and checkpointed: `toks` feeds BOTH the distribution build
    # and the final per-doc scoring join — without materialization the
    # explode + md5-bucket subtree runs twice.
    toks = (
        fan_out(df)
        .select(
            F.col(id_col),
            is_target.alias("_t"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .select(id_col, "_t", hash_bucket(F.col("tok"), buckets).alias("b"))
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    counts = toks.groupBy("b").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("n_tgt"),
    )
    totals = counts.agg(
        F.sum("n_all").alias("na"), F.sum("n_tgt").alias("nt")
    )
    scores = counts.join(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("n_tgt") + 1.0) / (F.col("nt") + float(buckets)))
            - F.log((F.col("n_all") + 1.0) / (F.col("na") + float(buckets)))
        ).alias("llr"),
    )
    return (
        toks.join(F.broadcast(scores), "b")
        .groupBy(id_col)
        .agg(F.sum(F.col("llr").cast("decimal(27,12)")).alias("_w"))
        .select(F.col(id_col), F.col("_w").cast("double").alias("weight"))
    )


def gumbel_topk_sample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    temperature: float = 1.0,
) -> DataFrame:
    """Sample ``k`` rows WITHOUT replacement, proportionally to
    exp(weight/temperature), via the Gumbel-top-k trick — but fully
    deterministic: the per-row uniform comes from the md5 hash of the
    row id, not an RNG, so the sample is reproducible across runs,
    engines, and repartitions (the same content-addressing contract as
    :func:`hash_split`).

    sample_key = weight/temperature + Gumbel(hash(id));  take top-k.
    Top-k is a TakeOrdered (per-partition heads + driver merge), not a
    global sort — the scale-safe way to cut k rows from 100 TB.
    """
    u = (hash_bucket(F.col(id_col), 100_000) + 0.5) / 100_000.0
    key = F.col(weight_col) / temperature - F.log(-F.log(u))
    return (
        weights.withColumn("sample_key", key)
        .orderBy(F.col("sample_key").desc(), F.col(id_col))
        .limit(k)
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_col: str,
    buckets: int = 10000,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic domain-mixture sampling: keep a row iff its
    content-addressed hash bucket falls under the stratum's target rate
    — the "mix 50% web, 25% code, ..." step of training-corpus assembly.

    Unlike ``sampleBy`` (seeded Bernoulli), membership is a pure
    function of the row key: reproducible across engines, runs,
    repartitions, and corpus growth (adding documents never flips an
    existing row's decision). Rates are converted to integer bucket
    thresholds driver-side, so the executor-side predicate is an exact
    integer comparison — no float-truncation edge at rate boundaries.
    A stratum absent from ``rates`` gets ``default_rate``.
    """
    thresholds = {k: int(round(v * buckets)) for k, v in rates.items()}
    default_thresh = int(round(default_rate * buckets))
    bucket = hash_bucket(key_col, buckets)
    thresh = None
    for name, t in thresholds.items():
        cond = F.col(strata_col) == name
        thresh = F.when(cond, t) if thresh is None else thresh.when(cond, t)
    thresh = (
        thresh.otherwise(default_thresh) if thresh is not None else F.lit(default_thresh)
    )
    return df.where(bucket < thresh)


def reservoir_per_key(
    df: DataFrame,
    key_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-size sample per key — the distributed stand-in
    for per-key reservoir sampling. True reservoir sampling is
    sequential (stream order + RNG state); the content-addressed
    formulation keeps its guarantee (exactly min(k, n) rows per key,
    each key-member equally likely under the hash's uniformity) while
    being reproducible across engines, runs, and repartitions: order
    key members by md5(id) and keep the first k.

    One window shuffle on the key. At scale, heavy keys are bounded by
    a pre-filter refinement (hash-threshold pushdown) if a key's
    cardinality makes a full sort-within-key expensive — not needed at
    the corpus sizes here; the window's TopK (rank ≤ k) already avoids
    a full sort via partial take-ordered under AQE.
    """
    w = Window.partitionBy(key_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .where(F.col("sample_rank") <= k)
    )


def ordered_prefix_sum(
    df: DataFrame,
    order_by: list[Column],
    values: dict[str, str],
    partitions: int = 32,
) -> DataFrame:
    """Distributed running totals over a TOTAL order — the scale-safe
    replacement for an un-partitioned window, which Spark plans as ONE
    task holding the entire relation (the classic global-cumsum
    bottleneck; at 100 TB that task simply never finishes).

    Two-pass range-partitioned plan:

      1. ``repartitionByRange`` on the order keys — partition i holds a
         contiguous key range strictly before partition i+1's,
      2. ``sortWithinPartitions`` + pin the partition id, lineage-cut so
         the sampled range boundaries can never be re-drawn by a
         recompute,
      3. per-partition totals (ONE row per partition) to the driver,
         prefix-folded into per-partition offsets, broadcast back,
      4. a window partitioned BY PARTITION ID (parallel — every
         partition is its own window group) adds the within-partition
         running sum to the offset.

    The result is independent of where the sampled range boundaries
    fell: offsets come from the actual partition totals and the caller's
    ``order_by`` must be a total order (tie-free), so every row's prefix
    set is well-defined regardless of partitioning.

    ``values`` maps input column -> output running-total column; pass a
    ``F.lit(1)`` helper column to get a global row rank. Integer value
    columns stay exact end to end.
    """
    pid = "__pfx_pid"
    ranged = (
        df.repartitionByRange(partitions, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn(pid, F.spark_partition_id())
        .localCheckpoint(storageLevel=CKPT_LEVEL)
    )
    totals = {
        r[pid]: [r[c] or 0 for c in values]
        for r in ranged.groupBy(pid)
        .agg(*[F.sum(c).alias(c) for c in values])
        .collect()
    }
    offsets, acc = [], [0] * len(values)
    for p in sorted(totals):
        offsets.append((p, *acc))
        acc = [a + t for a, t in zip(acc, totals[p])]
    off_df = ranged.sparkSession.createDataFrame(
        offsets, [pid, *[f"__pfx_off_{c}" for c in values]]
    )
    w = (
        Window.partitionBy(pid)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged.join(F.broadcast(off_df), pid)
    for c, out_col in values.items():
        out = out.withColumn(
            out_col,
            (F.col(f"__pfx_off_{c}") + F.sum(c).over(w)).cast("bigint"),
        )
    return out.drop(pid, *[f"__pfx_off_{c}" for c in values])
