"""Streaming split-conformal thresholds — the realtime twin of the
batch ``eval_conformal_thresholds`` query.

The batch query's state IS a histogram: per-(lang, a) counts over the
6-dp-rounded nonconformity ``a`` (a bounded value space by
construction — ≤ 10⁶ distinct values, in practice the distinct scores
the corpus realizes). ``streaming_conformal_thresholds`` runs the batch
query's own aggregation (``queries.wave6._conformal_hist``, null-text
filter included) as a native update-mode streaming aggregate and emits
the maintained (lang, a, cnt) histogram; ``conformal_readout`` IS the
batch readout (``queries.wave6._conformal_readout``) and turns the
latest row per (lang, a) into the per-lang (lang, n, q_hat, coverage)
rows with the ceil(0.9·(n+1)) discrete-quantile rule. Counts merge by
exact addition, and the nonconformity is the same expression tree, so
after ANY prefix of micro-batches the readout equals the batch query
over the union of those batches' rows, bit-for-bit.

State bound: one row per distinct (lang, a).
"""

from __future__ import annotations

from tfl_realtime_lakehouse_spark.queries.wave6 import (
    _conformal_hist,
    _conformal_readout,
)

streaming_conformal_thresholds = _conformal_hist
conformal_readout = _conformal_readout
