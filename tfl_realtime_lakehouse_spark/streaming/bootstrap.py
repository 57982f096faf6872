"""Streaming Poisson-bootstrap CI monitor — the realtime twin of the
batch ``events_poisson_bootstrap_ci`` query (SURVEY §2.12 X209).

The Poisson bootstrap is the rare resampling scheme that is ALSO a
streaming-native one: every (row, replica) weight is a pure hash of the
row key, so the per-(arm, replica) weighted sums are mergeable —
``sw`` (exact bigint weight total) and ``swx`` (exact decimal(27,12)
weighted value sum) just add across micro-batches. There is NO
data-sized component: state is bounded at |arms|·(B+1) rows forever
(B = 64 replicas plus the b = −1 base 'replica' whose w ≡ 1 sums are
the row count and the exact value sum).

Split along the CUPED-twin line (streaming/cuped.py):

- ``streaming_bootstrap_replicas``: the batch query's own
  ``_boot_purchases`` filter and ``_boot_replica_sums`` aggregation
  (``queries.wave9``) run as a native update-mode streaming aggregate.
  The batch query spreads the purchases with ``fan_out`` first; the
  stream does not.
- ``bootstrap_readout``: the batch query's downstream function
  (``queries.wave9._bootstrap_readout``) applied to the maintained
  replica table (latest row per (variant, b)).

After ANY prefix of micro-batches the maintained table holds exactly
the batch replica table for the union (decimal/int addition is exact
and order-free), so the readout is bit-for-bit the batch answer — the
experimentation dashboard's CI tightens live as purchases stream in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from tfl_realtime_lakehouse_spark.queries.wave9 import (
    _boot_purchases,
    _boot_replica_sums,
    _bootstrap_readout,
)

bootstrap_readout = _bootstrap_readout


def streaming_bootstrap_replicas(events: DataFrame) -> DataFrame:
    """(variant, b, sw, swx) replica sums over every purchase event
    seen so far, one row per touched replica per micro-batch."""
    return _boot_replica_sums(_boot_purchases(events))
