"""Data layout for scan pruning — the Z-order clustering key.

At 100 TB the fastest scan is the one that never happens: if files are
written so that each one covers a narrow range of the filter columns, a
point/range query touches a handful of files instead of the whole table.
Z-order clustering (the same design as Delta/Iceberg `OPTIMIZE ZORDER BY`)
interleaves the bits of per-column range buckets into one clustering key;
`repartitionByRange` + in-partition sort on it writes files that are
simultaneously tight on EVERY clustered column (a lexicographic sort would
be tight only on the first). The bucket bounds are CONSTANTS supplied by the
caller (no data-dependent sampling — deterministic, and append batches
cluster consistently with history).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F


class ZColumn(NamedTuple):
    """One clustering column with constant bucket bounds."""

    col: str
    lo: float
    hi: float


def range_bucket(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Equal-width bucket id in [0, 2^bits), clamped — same discipline as
    drift histograms: constant bounds, outliers land on the edges."""
    n = 1 << bits
    width = (hi - lo) / n
    idx = F.floor((col.cast("double") - F.lit(lo)) / F.lit(width)).cast("long")
    return F.least(F.lit(n - 1), F.greatest(F.lit(0), idx))


def zorder_key(cols: Sequence[ZColumn], bits: int = 8) -> Column:
    """The Z-order (Morton) key: bit b of column c lands at position
    b·ncols + c. A pure JVM bitwise expression — bits·ncols shift/mask/or
    terms, no UDF, fully codegen-able."""
    if not cols:
        raise ValueError("cols must be non-empty")
    if bits * len(cols) > 63:
        # bit b of column c lands at position b*ncols + c; past bit 62 the
        # interleave shifts into the long's sign bit, flipping z-keys
        # negative and corrupting the range-partitioned clustering order.
        raise ValueError(
            f"bits * len(cols) = {bits * len(cols)} exceeds 63: the z-key "
            "must fit a signed 64-bit long (lower bits or use fewer cols)"
        )
    buckets = [range_bucket(F.col(z.col), z.lo, z.hi, bits) for z in cols]
    z = F.lit(0).cast("long")
    for b in range(bits):
        for c, bucket in enumerate(buckets):
            bit = F.shiftright(bucket, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + c))
    return z
