"""Streaming A/B lift monitor — the realtime twin of the batch
``events_abtest_lift`` query (SURVEY §2.12 X226, closing the
experimentation family: every registered experiment readout now has a
cross-batch twin).

ZERO new state (the X217/X223 trick, applied a third time):
conversion is "any purchase EVENT", which the CUPED frame's exact
value sums cannot see (a NULL-value purchase converts a user while
adding nothing to y), so the shared per-user frame
(``queries.wave8._cuped_per_user``) carries ``np``, the
purchase-event count. This module is just the re-export of
``streaming/cuped.py``'s streaming aggregate plus a stateless
readout: fold the maintained table into the (na, ca, nb, cb) one-row
wide frame (conv = np > 0, the batch's DISTINCT purchase-user set)
and call ``queries.pipeline_queries._lift_readout``, the SAME function
object the registered batch query calls.

Bit-for-bit: after any prefix of micro-batches the maintained table's
(user, arm) keys are the union's distinct users (state-store keys are
a set) and np > 0 iff the union contains a purchase event for the
user (integer adds are exact and order-free), so the wide frame —
and therefore the whole float readout tree, which runs once on that
1-row frame — equals the batch query's. Pinned by the cross-batch
pytest with a null-value-purchase conversion, a batch-straddling
converter, and a purchase-free user.

At 100 TB: per-user bounded state, horizontal with the state store;
the readout is two counts per arm over the sink table — the same plan
the batch runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.streaming.cuped import (
    streaming_cuped_per_user,
)

# the shared per-user aggregate, re-exported
streaming_lift_per_user = streaming_cuped_per_user


def lift_readout(per_user_rows: DataFrame) -> DataFrame:
    """The batch lift readout over the maintained per-user table
    (latest row per user): per-arm user and converter counts → the
    8-column rates/lift/pooled-z report via the registered batch
    query's own downstream function object."""
    from tfl_realtime_lakehouse_spark.queries.pipeline_queries import (
        _lift_readout,
    )

    conv = F.col("np") > 0
    wide = per_user_rows.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when((F.col("variant") == 0) & conv, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("nb"),
        F.sum(F.when((F.col("variant") == 1) & conv, 1).otherwise(0)).alias("cb"),
    )
    return _lift_readout(wide)
