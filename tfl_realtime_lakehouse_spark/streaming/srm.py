"""Streaming sample-ratio-mismatch gate — the realtime twin of the
batch ``events_srm_check`` query (SURVEY §2.12 X218).

ZERO new state (the X217 trick, applied a second time): the experiment
user population IS what ``streaming/cuped.py``'s per-user streaming
aggregate already maintains — a user row exists the moment any of
their events arrives, keyed (user_id, variant) — so the SRM twin
re-exports that aggregate and adds only a stateless readout: count
the maintained table's rows per arm and call ``queries.wave10._srm_readout``, the
SAME function object the registered batch query calls. One state store
therefore serves CUPED, uplift deciles, AND the validity gate that
decides whether to trust either — which is exactly how a real
experimentation platform wires it (the gate must see the same
population as the metrics it gates).

Bit-for-bit: after any prefix of micro-batches the maintained table
holds exactly the distinct (user, arm) set of the union (state-store
keys are a set), and the readout is the batch expression tree — pinned
by the cross-batch pytest with a deliberately imbalanced population
that trips the flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.streaming.cuped import (
    streaming_cuped_per_user,
)

# the shared per-user aggregate, re-exported
streaming_srm_per_user = streaming_cuped_per_user


def srm_readout(per_user_rows: DataFrame) -> DataFrame:
    """The batch SRM readout over the maintained per-user table
    (latest row per user): per-arm row counts → the 5-column gate via
    the registered batch query's own downstream function object."""
    from tfl_realtime_lakehouse_spark.queries.wave10 import _srm_readout

    wide = per_user_rows.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n1"),
    )
    return _srm_readout(wide)
