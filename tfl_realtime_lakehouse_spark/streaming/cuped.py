"""Streaming CUPED experiment monitor — the realtime twin of the batch
``events_abtest_cuped`` query (SURVEY §2.12 X207).

CUPED's readout mixes three scopes — per-user covariate/metric sums,
GLOBAL moments (θ = cov/var over every user), and per-arm means — so
a single stateful emission cannot be the final answer: a micro-batch
only touches the users it contains, while θ depends on all of them.
The twin therefore splits into a maintained table and a readout:

- ``streaming_cuped_per_user``: the batch query's own per-user
  aggregation (``queries.wave8._cuped_per_user``) run as a native
  update-mode streaming aggregate. The engine keeps each user's exact
  decimal(27,12) partial sums (x = view+click value, y = purchase
  value, np = purchase-event count) in the state store, one row per
  (user_id, variant), and emits the touched users' (user_id, variant,
  x, y, np) rows each micro-batch. In production the update stream is
  MERGEd into a compacted lakehouse table by ``foreachBatch`` (the
  sources/lakehouse.py pattern).
- ``cuped_readout``: the batch query's downstream function
  (``queries.wave8._cuped_readout``) applied to the maintained table
  (latest row per user).

After ANY prefix of micro-batches the maintained table equals the
batch per-user frame over the union of those batches (decimal
addition is exact and order-free), and the readout IS the batch
expression tree, so the twin matches the batch query bit-for-bit.

The same maintained table also serves the uplift-decile, SRM and lift
readouts (streaming/uplift.py, srm.py, lift.py): one state store, four
dashboards.
"""

from __future__ import annotations

from tfl_realtime_lakehouse_spark.queries.wave8 import (
    _cuped_per_user,
    _cuped_readout,
)

streaming_cuped_per_user = _cuped_per_user
cuped_readout = _cuped_readout
