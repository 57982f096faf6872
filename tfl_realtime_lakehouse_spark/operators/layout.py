"""Z-order (Morton) data layout: multi-dimensional clustering for
file/partition pruning — the lakehouse answer to "my table is filtered
on two columns and sorting helps only one of them".

Reference capability: the reference's Hive-partitioned parquet sink
(SURVEY S5, `tfl_ingest_dag.py`) prunes on ONE dimension (date). At
100 TB, tables are filtered along several axes (tenant × time,
customer × price band); linear sort orders cluster one axis and
scatter the rest. Interleaving the bits of the filter dimensions into
one Morton key makes every z-contiguous file cover a small HYPERCUBE
of the filter space, so min/max file statistics (or a z-prefix
partition directory) prune on ALL interleaved dimensions at once —
the same mechanism Delta's OPTIMIZE ZORDER BY and Iceberg's
sort-order z-curves use. :func:`~tfl_realtime_lakehouse_spark.sources.
bucketing.zorder_write` is the writer built on this key.

Everything here is pure integer arithmetic (shifts/masks composed as
JVM expressions — whole-stage codegen, zero Python, and an exact SQL
oracle on any engine with << >> & |).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def interleave_bits(cols: list[Column], bits: int = 8) -> Column:
    """Morton z-value: interleave the low ``bits`` of each column.

    Bit b of column c lands at position ``b * len(cols) + c`` —
    the standard z-curve, built as a fold of shift/mask terms (one
    flat JVM expression, 16 terms for 2×8 bits). Inputs must already
    be integer bins in [0, 2^bits); see :func:`fixed_width_bin`.
    """
    n = len(cols)
    z: Column | None = None
    for b in range(bits):
        for c, col in enumerate(cols):
            term = F.shiftleft(
                F.shiftright(col.cast("long"), b).bitwiseAND(F.lit(1)),
                b * n + c,
            )
            z = term if z is None else z.bitwiseOR(term)
    assert z is not None
    return z


def fixed_width_bin(col: Column, width: float, bins: int = 256) -> Column:
    """Deterministic locality-preserving bin: floor(x / width), capped
    to the top bin. Fixed width (not rank-based) so the mapping is a
    pure per-row expression — no global pass, identical in any engine,
    stable as data grows (new data maps into the same grid)."""
    return F.least(
        F.floor(col / F.lit(width)).cast("long"), F.lit(int(bins - 1))
    )


def zvalue_py(vals: list[int], bits: int = 8) -> int:
    """Pure-python reference interleave (test oracle)."""
    z = 0
    n = len(vals)
    for b in range(bits):
        for c, v in enumerate(vals):
            z |= ((v >> b) & 1) << (b * n + c)
    return z
