"""Streaming per-source quality scorecard — the realtime twin of the
batch ``docs_source_quality_profile`` query (X190).

The batch query's per-source state decomposes into four MERGEABLE
components:

- volume: a row count (adds);
- mean length / mean quality: a bigint char sum and an EXACT
  decimal(27,12) quality sum (add — decimal addition is associative
  and order-free, the repo's standing exact-sum idiom);
- exact-dup ratio: the set of distinct md5(text) hashes (unions).
  This leg is the one whose state grows with data — O(distinct docs
  per source). That is inherent to an EXACT distinct (same as any
  streaming dedup), and it is what makes the twin bit-identical to
  the batch query. The 100 TB swap is ``distinct_mode="kmv"``: the
  same scorecard with the hash-set leg replaced by the bottom-64
  KMV merge (streaming/kmv.py discipline — state bounded at k longs
  per source forever), emitting ``est_distinct`` / estimated
  ``dup_ratio`` instead of the exact count. Exact mode keeps the
  bit-for-bit batch-equivalence contract; kmv mode trades it for
  bounded state on the one leg where exactness costs O(distinct);
- lang-mix entropy: a (lang → count) map, bounded by |langs|.

All features (md5 hash, decimal-cast quality score, char count) are
computed JVM-side with the batch query's exact expression trees before
the stateful operator; Python only merges counters, sets, and Decimals
(the kmv.py discipline). The FLOAT math (ratios, -p·ln p, the final
roundings) runs JVM-side AFTER the stateful operator, expression-tree-
identical to the batch query — so after ANY prefix of micro-batches
the emission equals the batch query over the union, bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import Decimal

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# raw mergeable components; ratios/entropy are a JVM post-projection
_RAW = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("n_distinct", T.LongType()),
        T.StructField("sch", T.LongType()),
        T.StructField("sq", T.StringType()),  # exact Decimal, stringified
        T.StructField("lcnts", T.ArrayType(T.LongType())),
    ]
)

_STATE = T.StructType(
    [
        T.StructField("n_docs", T.LongType()),
        T.StructField("sch", T.LongType()),
        T.StructField("sq", T.StringType()),
        T.StructField("hs", T.ArrayType(T.StringType())),
        T.StructField("langs", T.ArrayType(T.StringType())),
        T.StructField("lcnts", T.ArrayType(T.LongType())),
    ]
)

_NULL_LANG = "\x00null"  # state-internal sentinel: arrays can't hold None keys

# kmv-mode variants: the distinct leg is a bounded bottom-k long array
# instead of the full hash set; est_distinct is the KMV estimate.
_RAW_KMV = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("est_distinct", T.DoubleType()),
        T.StructField("sch", T.LongType()),
        T.StructField("sq", T.StringType()),
        T.StructField("lcnts", T.ArrayType(T.LongType())),
    ]
)

_STATE_KMV = T.StructType(
    [
        T.StructField("n_docs", T.LongType()),
        T.StructField("sch", T.LongType()),
        T.StructField("sq", T.StringType()),
        T.StructField("mins", T.ArrayType(T.LongType())),
        T.StructField("langs", T.ArrayType(T.StringType())),
        T.StructField("lcnts", T.ArrayType(T.LongType())),
    ]
)


def _scorecard_fold(key, pdfs, state, load, members, keep, distinct):
    """The per-source fold both modes share: volume, exact char and
    quality sums and the lang counts, plus a distinct leg given as
    ``load`` (state array → member set), ``members`` (batch → new
    members), ``keep`` (member set → state array) and ``distinct``
    (output column, kept array → its value). Updates the state and
    returns the source's raw output row."""
    if state.exists:
        n_docs, sch, sq_str, kept, langs, lcnts = state.get
        sq = Decimal(sq_str)
        acc = load(kept)
        lmap = dict(zip(langs, lcnts))
    else:
        n_docs, sch, sq, acc, lmap = 0, 0, Decimal(0), set(), {}
    for pdf in pdfs:
        n_docs += len(pdf)
        # exact bigint accumulation: with nulls present pandas holds
        # n_chars as float64, and dropna().sum() in IEEE doubles can
        # diverge from the batch SUM(BIGINT) past 2^53 chars/source —
        # cast back to int64 per element before summing.
        sch += int(pdf["n_chars"].dropna().astype("int64").sum())
        # decimal(27,12) values arrive as Decimal objects — exact sum
        sq += sum((d for d in pdf["_sq"] if d is not None), Decimal(0))
        acc.update(members(pdf))
        for lang, c in pdf["lang"].value_counts(dropna=False).items():
            k = _NULL_LANG if pd.isna(lang) else str(lang)
            lmap[k] = lmap.get(k, 0) + int(c)
    kept = keep(acc)
    langs = sorted(lmap)
    lcnts = [lmap[k] for k in langs]
    state.update((n_docs, sch, str(sq), kept, langs, lcnts))
    col, value = distinct
    return pd.DataFrame(
        {
            "source": [key[0]],
            "n_docs": [n_docs],
            col: [value(kept)],
            "sch": [sch],
            "sq": [str(sq)],
            "lcnts": [lcnts],
        }
    )


def _scorecard_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    yield _scorecard_fold(
        key,
        pdfs,
        state,
        set,
        lambda pdf: (h for h in pdf["_h"] if h is not None),
        sorted,
        ("n_distinct", len),
    )


def _scorecard_kmv_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    from tfl_realtime_lakehouse_spark.streaming.kmv import KMV_K, kmv_estimate

    # bottom-k merge (streaming/kmv.py): a hash outside the bottom k is
    # ≥ the current k-th min, and the k-th min only ever decreases, so
    # dropping it now can never change a later sketch — state stays ≤ k
    # longs per source FOREVER, the bound the exact mode can't give.
    yield _scorecard_fold(
        key,
        pdfs,
        state,
        lambda kept: {int(v) for v in kept},
        lambda pdf: (int(h) for h in pdf["_hv"] if h is not None),
        lambda acc: sorted(acc)[:KMV_K],
        ("est_distinct", kmv_estimate),
    )


def streaming_source_scorecard(
    docs: DataFrame, distinct_mode: str = "exact"
) -> DataFrame:
    """Per-source streaming scorecard: one full scorecard row per
    source per micro-batch, covering every document seen so far.

    ``distinct_mode="exact"`` (default): identical columns and values
    to the batch query over the union, at O(distinct docs/source)
    state on the hash-set leg. ``distinct_mode="kmv"``: the distinct
    leg becomes the bottom-64 KMV sketch (state bounded at k longs per
    source at any throughput — the 100 TB mode); the output carries
    ``est_distinct`` (the KMV estimate, ±1/√(k−2) ≈ 13 % relative)
    and the dup_ratio derived from it; every OTHER column stays
    bit-identical to exact mode (pinned by the mode-equivalence
    pytest)."""
    from tfl_realtime_lakehouse_spark.queries.wave6 import _score_col

    if distinct_mode not in ("exact", "kmv"):
        raise ValueError(f"distinct_mode must be exact|kmv, got {distinct_mode}")
    # identical null policy + expression tree to the batch query:
    # null text contributes volume but neither quality nor a hash.
    # Arithmetic null propagation, not WHEN(score) — see the batch
    # query's comment (CSE is disabled inside conditional branches)
    sq = (
        (_score_col() + F.when(F.col("text").isNotNull(), F.lit(0.0)))
        .cast("decimal(27,12)")
        .alias("_sq")
    )
    # distinct-leg feature: full md5 (exact mode) vs the 60-bit KMV
    # member hash (streaming/kmv.py idiom) — both JVM-side
    dhash = (
        F.md5("text").alias("_h")
        if distinct_mode == "exact"
        # STRING, not bigint: the null-text rows (which must still count
        # in n_docs) would make Arrow hand pandas a float64 column, and
        # float64 silently corrupts 60-bit hash values — the python side
        # parses the decimal string exactly instead
        else F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("text"))), 1, 15),
            16,
            10,
        ).alias("_hv")
    )
    base = docs.select("source", "n_chars", "lang", sq, dhash)
    if distinct_mode == "kmv":
        raw = base.groupBy("source").applyInPandasWithState(
            _scorecard_kmv_state_fn,
            outputStructType=_RAW_KMV,
            stateStructType=_STATE_KMV,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        nd_col, nd_out = F.col("est_distinct"), "est_distinct"
    else:
        raw = base.groupBy("source").applyInPandasWithState(
            _scorecard_state_fn,
            outputStructType=_RAW,
            stateStructType=_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        nd_col, nd_out = F.col("n_distinct"), "n_distinct"
    # JVM post-projection, expression-tree-identical to the batch query.
    # Entropy: exact-decimal fold over the bounded lang-count array —
    # the term tree (-p·ln p → decimal(27,12)) matches the batch agg,
    # and exact addition makes the fold order irrelevant.
    nt = F.aggregate(
        "lcnts", F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    sq_dec = F.col("sq").cast("decimal(38,12)")

    def term(c):
        p = c.cast("double") / F.col("_nt").cast("double")
        return (-p * F.log(p)).cast("decimal(27,12)")

    ent_sum = F.aggregate(
        F.transform("lcnts", term),
        F.lit("0").cast("decimal(38,12)"),
        lambda acc, x: (acc + x).cast("decimal(38,12)"),
    )
    return (
        raw.withColumn("_nt", nt)
        .withColumn(
            "lang_entropy_bits",
            F.round(ent_sum.cast("double") / F.log(F.lit(2.0)), 6),
        )
        .select(
            "source",
            "n_docs",
            nd_out,
            F.round(
                F.lit(1.0)
                - nd_col.cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_ratio"),
            F.round(F.col("sch").cast("double") / F.col("n_docs"), 6).alias(
                "mean_chars"
            ),
            F.round(sq_dec.cast("double") / F.col("n_docs"), 6).alias(
                "mean_quality"
            ),
            "lang_entropy_bits",
        )
    )
