"""Streaming uncertainty-margin sampler — the realtime twin of the
batch ``sample_uncertainty_margin`` query (X188).

The batch query's per-language state IS a bounded top-k heap: the 20
documents whose quality score sits closest to the 0.5 decision
boundary under the total order (unrounded margin, doc_id). A top-k set
is mergeable — top-k(A ∪ B) = top-k(top-k(A) ∪ B) — so the cross-batch
update keeps at most k (margin, doc_id, score) triples per language
and re-ranks against each micro-batch's rows. After ANY prefix of
micro-batches the emission equals the batch query over the union of
those batches' rows — bit-for-bit, because:

- the score/margin are computed JVM-side with the SAME expression tree
  as the batch query (the kmv.py discipline: Python state
  code only merges numbers, never computes features);
- Python float comparisons are IEEE double comparisons, i.e. the exact
  order Spark's window sort uses, and doc_id breaks ties totally;
- the 6-dp ROUNDING of the emitted score/margin happens JVM-side AFTER
  the stateful operator (Spark rounds HALF_UP via BigDecimal; Python's
  round() is banker's — the twin must never round in Python).

State is O(k) per language — bounded regardless of corpus size, the
cheapest state shape in the streaming family.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TOP_K = 20

# unrounded doubles cross the boundary; rounding is a JVM post-step
_RAW = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score_raw", T.DoubleType()),
        T.StructField("margin_raw", T.DoubleType()),
        T.StructField("pick_rank", T.IntegerType()),
    ]
)

# parallel arrays: the per-lang top-k triples, kept sorted
_STATE = T.StructType(
    [
        T.StructField("m", T.ArrayType(T.DoubleType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("s", T.ArrayType(T.DoubleType())),
    ]
)


def _margin_state_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (lang,) = key
    if state.exists:
        ms, ids, ss = state.get
        triples = list(zip(ms, ids, ss))
    else:
        triples = []
    for pdf in pdfs:
        triples.extend(
            zip(
                (float(v) for v in pdf["_m"]),
                (int(v) for v in pdf["doc_id"]),
                (float(v) for v in pdf["_s"]),
            )
        )
    # (margin, doc_id) is a total order: doc_id is unique, margins are
    # IEEE doubles with NaN already excluded by the JVM text filter
    triples.sort(key=lambda t: (t[0], t[1]))
    triples = triples[:TOP_K]
    state.update(
        (
            [t[0] for t in triples],
            [t[1] for t in triples],
            [t[2] for t in triples],
        )
    )
    yield pd.DataFrame(
        {
            "lang": [lang] * len(triples),
            "doc_id": [t[1] for t in triples],
            "score_raw": [t[2] for t in triples],
            "margin_raw": [t[0] for t in triples],
            "pick_rank": list(range(1, len(triples) + 1)),
        }
    )


def streaming_uncertainty_margin(docs: DataFrame) -> DataFrame:
    """Per-language streaming top-20 boundary documents: one batch of
    (lang, doc_id, score, margin, pick_rank) rows per lang per
    micro-batch, covering every document seen so far. State is the
    bounded top-k triple list per lang."""
    # identical expression tree + null policy to queries/wave6.py::
    # sample_uncertainty_margin — the ranking must be bit-identical
    from tfl_realtime_lakehouse_spark.queries.wave6 import _score_col

    score = _score_col()
    margin = F.abs(score - F.lit(0.5))
    raw = (
        docs.where(F.col("text").isNotNull())
        .select("lang", "doc_id", score.alias("_s"), margin.alias("_m"))
        .groupBy("lang")
        .applyInPandasWithState(
            _margin_state_fn,
            outputStructType=_RAW,
            stateStructType=_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return raw.select(
        "lang",
        "doc_id",
        F.round("score_raw", 6).alias("score"),
        F.round("margin_raw", 6).alias("margin"),
        "pick_rank",
    )
