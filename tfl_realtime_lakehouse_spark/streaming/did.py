"""Streaming difference-in-differences monitor — the realtime twin of
the batch ``events_did_estimator`` query (SURVEY §2.12 X219).

Same split the CUPED/uplift twins draw: a native update-mode streaming
aggregate keyed (user_id, variant) maintains each user's exact
decimal (y_pre, y_post) purchase sums in the state store, and a
STATELESS readout over the maintained table rebuilds the batch query's
one-row wide frame (four decimal cell sums + fixed per-arm user
counts) and calls ``queries.wave10._did_readout``, the SAME function
object the registered batch query calls. The key includes the md5 arm
(the batch ``_cuped_variant_col`` tree) so every user row carries its
variant; a user whose events are all non-purchase still registers
(0, 0) — exactly the batch's fixed-denominator semantics (inactive
users contribute 0 to a cell but still count in n_arm). A NULL ``ts``
makes ``post`` NULL, so neither period's sum sees that row, matching
the batch query, which drops its post=NULL cell. Decimal addition is
exact and order-free, so after ANY prefix of micro-batches the
maintained table sums to the batch cell sums over the union,
bit-for-bit — pinned by the cross-batch pytest with a
pre/post-straddling user, an empty (trt, pre) cell and a NULL-``ts``
purchase.

At 100 TB: per-user state scales with the state store; the readout is
a 4-cell fold over the sink table — the same plan the batch runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.queries.wave8 import _cuped_variant_col
from tfl_realtime_lakehouse_spark.queries.wave10 import _DID_CUT, _did_readout

_DEC = "decimal(37,12)"  # SUM(decimal(27,12)), the batch cell-sum type


def streaming_did_per_user(events: DataFrame) -> DataFrame:
    """Per-user DiD frame: one (user_id, variant, y_pre, y_post) row
    per touched user per micro-batch, exact decimal purchase sums split
    at the batch query's cut."""
    y = F.when(
        F.col("event_type") == "purchase", F.col("value").cast("decimal(27,12)")
    )
    post = F.col("ts") >= F.lit(_DID_CUT).cast("timestamp")
    zero = F.lit(0).cast(_DEC)
    return events.groupBy("user_id", _cuped_variant_col().alias("variant")).agg(
        F.coalesce(F.sum(F.when(~post, y)), zero).alias("y_pre"),
        F.coalesce(F.sum(F.when(post, y)), zero).alias("y_post"),
    )


def did_readout(per_user_rows: DataFrame) -> DataFrame:
    """The batch DiD readout over the maintained per-user table
    (latest row per user): rebuilds the one-row wide frame — four
    decimal(37,12) cell sums + fixed per-arm counts — and applies
    ``queries.wave10._did_readout``, the registered batch query's own
    downstream function object."""

    def n(v):
        return F.sum(F.when(F.col("variant") == v, 1).otherwise(0)).cast("bigint")

    def cell(v, col):
        # SUM(decimal(37,12)) widens to (38,12); re-pin to the batch
        # wide frame's type so _did_readout's double casts are its own
        return F.coalesce(
            F.sum(F.when(F.col("variant") == v, F.col(col))), F.lit(0)
        ).cast(_DEC)

    wide = per_user_rows.agg(
        cell(0, "y_pre").alias("s0pre"),
        cell(0, "y_post").alias("s0post"),
        cell(1, "y_pre").alias("s1pre"),
        cell(1, "y_post").alias("s1post"),
        n(0).alias("n0"),
        n(1).alias("n1"),
    )
    return _did_readout(wide)
