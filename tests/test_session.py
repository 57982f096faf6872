"""Session-level engine settings that change how every query runs."""

from __future__ import annotations

from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark import hoststamp

# More distinct projections than Spark's default codegen cache (100
# entries) holds: each one generates about 2 classes.
N_PROJECTIONS = 64
N_RERUNS = 10


def _projection(spark, i: int) -> list:
    return spark.range(4).select((F.col("id") * i + i).alias("v")).collect()


def test_warm_queries_reuse_generated_code(spark):
    """A query whose generated code is still cached compiles nothing on
    a re-run, even after more distinct queries than the default cache
    size ran in between."""
    assert hoststamp.codegen_compiles(spark) is not None
    expected = {i: _projection(spark, i) for i in range(N_PROJECTIONS)}

    before = hoststamp.codegen_compiles(spark)
    for i in range(N_RERUNS):
        assert _projection(spark, i) == expected[i]
    recompiled = hoststamp.codegen_compiles(spark) - before

    assert recompiled == 0, (
        f"{recompiled} classes recompiled over {N_RERUNS} warm re-runs"
    )
