"""Z-order (Morton) clustering: multi-column data layout.

Partitioning prunes on ONE column; sorting prunes on a prefix.
Z-ordering interleaves the bits of two (or more) columns so that
rows close in EITHER dimension land close in the linear order —
after `repartitionByRange(z)` + write, parquet row-group min/max
stats become tight rectangles in (x, y) space and a filter on
either column skips most row groups. The standard lakehouse layout
technique for two-dimensional selectivity (e.g. (customer, day) or
(lat, lon)) when you can't afford one directory per value.

The z-value is a pure bit-interleave expression built from
shiftright/bitwise-and/shiftleft — whole-stage-codegen'd JVM
arithmetic, no UDF — and therefore exactly reproducible in ANSI SQL
(the oracle builds the same 2·bits-term sum), which is what lets a
layout decision be oracle-checked at all.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def z_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` of two non-negative ints:
    x's bit i lands at position 2i, y's at 2i+1. Columns must be
    pre-masked to ``bits`` (callers mod/cast), or high bits are
    silently ignored."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(x.cast("long"), i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(y.cast("long"), i).bitwiseAND(1), 2 * i + 1
        )
    return z

