"""Streaming embedding-centroid drift — the realtime twin of the batch
``embedding_centroid_drift`` query (SURVEY §2.12 X201).

The batch query's state IS a set of mergeable moments: per
(label, half, dim) a decimal(38,12)-exact coordinate sum and a row
count. ``streaming_centroid_drift`` runs the batch query's own
aggregation (``queries.wave7._drift_moments``) as a native update-mode
streaming aggregate and emits the maintained (label, half, dim, mu, n)
moments table; ``drift_readout`` IS the batch readout
(``queries.wave7._drift_readout``) and turns the latest moments row per
(label, half, dim) into the per-label (label, n0, n1,
centroid_l2_shift) rows. Sums and counts merge by exact, order-free
addition, so after ANY prefix of micro-batches the readout equals the
batch query over the union of those batches' rows, bit-for-bit.

Null semantics are the batch's by construction: a null embedding
explodes to nothing (the vector contributes no dims); a null coordinate
still COUNTS (the batch divides by ``count(1)``) but adds nothing to
the sum; a label populated on one half only gives no row (the
half-vs-half join is inner).

State bound: 2·|labels|·|dims| rows, data-independent.
"""

from __future__ import annotations

from tfl_realtime_lakehouse_spark.queries.wave7 import (
    _drift_moments,
    _drift_readout,
)

streaming_centroid_drift = _drift_moments
drift_readout = _drift_readout
