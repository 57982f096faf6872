"""Streaming Misra–Gries heavy hitters — the mergeable frequent-items
sketch as a Structured Streaming stateful operator.

Why stateful-sketch and not a windowed groupBy: the item universe at
100 TB/day (tokens, URLs, user ids) does not fit shuffle state, but a
``capacity``-slot MG table per shard does — O(shards · capacity) state
TOTAL regardless of throughput, forever. Each micro-batch folds its
rows into the per-shard table (the decrement-all step buys the MG
bound), and the operator re-emits the shard's current summary rows
tagged with the running ``n_seen``, so the LATEST summary per shard is
simply the rows with the maximal ``n_seen`` (monotone by
construction) — no update-mode sink required.

Guarantee (per shard, standard MG): every item with true count >
n_seen/(capacity+1) is present in the table, and
``true − n_seen/(capacity+1) ≤ mg_count ≤ true``. Shard summaries
merge downstream by summing shared items (Agarwal et al., mergeable
summaries), which keeps the lower bound.

Within a batch, rows fold in (tiebreak) order so replay is
deterministic; like every MG sketch the counts are order-dependent
WITHIN the error bound, which is why this operator's contract is
pinned by guarantee/batch-equivalence pytests, not a SQL oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_HH_OUTPUT = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("token", T.StringType()),
        T.StructField("mg_count", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ]
)

# state: the MG counter table + running element count for the shard
_HH_STATE = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)


def _make_hh_state_fn(capacity: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            tokens, counts, n_seen = state.get
            table = dict(zip(list(tokens), [int(c) for c in counts]))
            n_seen = int(n_seen)
        else:
            table, n_seen = {}, 0
        for pdf in pdfs:
            pdf = pdf.sort_values("tiebreak")
            for tok in pdf["token"]:
                if tok is None:
                    continue
                tok = str(tok)
                n_seen += 1
                if tok in table:
                    table[tok] += 1
                elif len(table) < capacity:
                    table[tok] = 1
                else:
                    dead = []
                    for k in table:
                        table[k] -= 1
                        if table[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del table[k]
        state.update((list(table.keys()), list(table.values()), n_seen))
        yield pd.DataFrame(
            {
                "shard": pd.array([int(shard)] * len(table), dtype="Int32"),
                "token": list(table.keys()),
                "mg_count": pd.array(list(table.values()), dtype="Int64"),
                "n_seen": pd.array([n_seen] * len(table), dtype="Int64"),
            }
        )

    return fn


def streaming_heavy_hitters(
    rows: DataFrame,
    item_col: str,
    tiebreak_col: str,
    capacity: int = 64,
    shards: int = 8,
) -> DataFrame:
    """Per-shard streaming MG summaries. Shard = xxhash64(item) mod
    ``shards`` — items are sticky to shards, so each shard's bound is
    exact over its own substream and summaries union cleanly. Consume
    the latest summary as the rows with max ``n_seen`` per shard."""
    return (
        rows.select(
            F.col(item_col).alias("token"),
            F.col(tiebreak_col).alias("tiebreak"),
            F.pmod(F.xxhash64(F.col(item_col)), F.lit(shards))
            .cast("int")
            .alias("shard"),
        )
        .groupBy("shard")
        .applyInPandasWithState(
            _make_hh_state_fn(capacity),
            outputStructType=_HH_OUTPUT,
            stateStructType=_HH_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
