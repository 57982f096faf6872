"""Streaming Neyman eval-set allocation — the realtime twin of the
batch ``eval_neyman_allocation`` query (SURVEY §2.12 X228).

The batch query's per-source state is three EXACT integers — row
count, char sum, char sum-of-squares — the textbook mergeable-moments
decomposition. ``streaming_neyman_stats`` runs the batch query's own
aggregation (``queries.wave12._neyman_stats``) as a native update-mode
streaming aggregate, so after ANY prefix of micro-batches the
maintained partials equal the batch aggregates over the union (integer
addition is associative and order-free). ``neyman_readout`` IS the
batch readout (``queries.wave12._neyman_readout``): every downstream
float (sigma, the DECIMAL-pinned weight, the share, the floor
allocation) is one expression tree on both sides — bit-for-bit.

NULL discipline is the batch's by construction: SUM skips NULL
``n_chars`` while the count keeps the row, and an all-NULL source has
NULL sums (sigma/share/alloc NULL) — pinned by the cross-batch
pytest's all-NULL source.

State bound: one row per source, forever — |sources| rows total
regardless of corpus size (the 100 TB shape).
"""

from __future__ import annotations

from tfl_realtime_lakehouse_spark.queries.wave12 import (
    _neyman_readout,
    _neyman_stats,
)

streaming_neyman_stats = _neyman_stats
neyman_readout = _neyman_readout
