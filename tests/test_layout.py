"""Z-order layout: interleave correctness vs the python reference. The
writer built on this key (``sources.bucketing.zorder_write``) is tested
for two-column file-stat tightening in ``test_scale_ops.py``."""

from __future__ import annotations

from pyspark.sql import functions as F

from tfl_realtime_lakehouse_spark.operators.layout import (
    interleave_bits,
    zvalue_py,
)


def test_interleave_matches_python_reference(spark):
    rows = [(x, y) for x in (0, 1, 5, 127, 200, 255) for y in (0, 3, 64, 255)]
    df = spark.createDataFrame(rows, "x: long, y: long").withColumn(
        "z", interleave_bits([F.col("x"), F.col("y")], bits=8)
    )
    for r in df.collect():
        assert r.z == zvalue_py([r.x, r.y], bits=8), (r.x, r.y)
