"""Z-order (Morton-curve) lake layout (SURVEY.md §2 S1-S2 extension):
multi-dimensional file clustering so parquet min/max stats prune scans
on EVERY clustered column, not just the sort-leading one.

A linear sort on (a, b) gives tight per-file ranges for `a` but every
file spans `b`'s full domain — a filter on `b` reads the whole lake.
Interleaving the bits of both keys (the Morton curve) and range-
partitioning + sorting on that single value bounds every file to a
small hyper-rectangle, so row-group/file skipping works on either
column (the technique Delta Lake's OPTIMIZE ZORDER BY popularized;
public literature: Morton 1966, the standard space-filling-curve
layout result).

Scale shape: computing z is a pure narrow expression (built-in
shift/and ops, whole-stage codegen); the layout write is ONE
repartitionByRange shuffle on z (range boundaries from Spark's
reservoir sample) + an in-partition sort — the same cost as any sorted
lake compaction, with pruning on d
dimensions instead of 1 as the payoff. At 100 TB this is the layout
job you run once per compaction window, amortized over every
subsequent scan.

Determinism contract: z is integer bit math (shift/mask/or) on
non-negative int columns clamped to ``bits`` — bit-identical in any
engine (the oracle recomputes it with integer division `//` and
powers-of-two multiplication).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column


def z_value(cols: Sequence[Column], bits: int = 16) -> Column:
    """Morton interleave of ``cols`` (non-negative ints, clamped to
    ``bits`` each): bit j of column i lands at position j·d + i. Total
    width bits·d must fit a signed long."""
    d = len(cols)
    if d < 1:
        raise ValueError("need at least one column")
    if not 1 <= bits * d <= 62:
        raise ValueError(f"bits*cols must be in [1, 62], got {bits * d}")
    mask = (1 << bits) - 1
    # clamp both ends: negatives would sign-extend through shiftright
    # into a garbage key (still a valid layout, but not the curve)
    clamped = [
        F.greatest(F.least(c.cast("long"), F.lit(mask)), F.lit(0)) for c in cols
    ]
    z = F.lit(0).cast("long")
    for j in range(bits):
        for i, c in enumerate(clamped):
            bit = F.shiftright(c, j).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, j * d + i)
    return z


