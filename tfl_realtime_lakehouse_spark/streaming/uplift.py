"""Streaming uplift-by-decile monitor — the realtime twin of the batch
``events_uplift_by_decile`` query (SURVEY §2.12 X212).

X212 is a different READOUT over the SAME per-user experiment frame
X207 (CUPED) maintains, so the twin adds no state operator:
``streaming_uplift_per_user`` IS ``streaming/cuped.py``'s native
streaming aggregate (the batch ``_cuped_per_user``), and a deployment
monitoring both dashboards runs ONE state store, not two.

``uplift_decile_readout`` is the batch query's own downstream function
(``queries.wave9._uplift_decile_readout``), applied to the maintained
table (latest row per user). After ANY prefix of micro-batches that
table equals the batch per-user frame over the union, so the readout
(ntile order, per-(decile, arm) decimal sums, NULL-guarded uplift)
equals the batch query bit-for-bit — pinned by the cross-batch pytest
with a boundary-straddling user and a planted missing-arm decile.

Scale note: the state is one row per experiment user in the state
store (horizontal); the readout's global ntile sorts the AGGREGATED
per-user frame — O(experiment users), not O(events) — the same
deliberate, documented exchange as the batch query.
"""

from __future__ import annotations

from tfl_realtime_lakehouse_spark.queries.wave9 import _uplift_decile_readout
from tfl_realtime_lakehouse_spark.streaming.cuped import (
    streaming_cuped_per_user,
)

streaming_uplift_per_user = streaming_cuped_per_user
uplift_decile_readout = _uplift_decile_readout
