"""Z-order (Morton) interleaving for multi-column data layout.

At 100 TB the dominant read cost is files touched per query; sorting a
table by the Z-value of its two hottest filter columns gives multi-
dimensional locality (both columns' min/max file stats become tight), the
same layout trick Delta/Iceberg's OPTIMIZE ZORDER applies. The key is a
pure bit-interleave — JVM-side codegen expressions only — and the DuckDB
twin is generated from the same Python loop so the gate checks it
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ZBITS = 16


def zorder_col(x: Column, y: Column) -> Column:
    """Interleave the low ``ZBITS`` bits of x (even positions) and y (odd
    positions) into a single long. Inputs are masked to ``ZBITS`` bits."""
    z = F.lit(0).cast("long")
    for i in range(ZBITS):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_sql(x: str, y: str) -> str:
    terms = []
    for i in range(ZBITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"
