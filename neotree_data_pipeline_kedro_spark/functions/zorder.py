"""Z-order (Morton) interleaving for multi-column data layout.

A single-column sort makes parquet min/max statistics selective on ONE
column; scans filtering the other columns still read everything. The
Morton code interleaves the bits of two key columns so that sorting by
the code clusters rows that are close in BOTH dimensions — files written
in code order each cover a small rectangle of (x, y) space, and a scan
filtering either column prunes most files (the Delta/Iceberg OPTIMIZE
ZORDER sort key, built here from plain Spark expressions).

Everything is JVM-side integer bit arithmetic (shiftleft / AND / OR in
whole-stage codegen) — no UDF, no shuffle of its own.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# magic masks for the 32->64-bit even-position spread (the standard
# "interleave by magic numbers" sequence)
_M16 = 0x0000FFFF0000FFFF
_M8 = 0x00FF00FF00FF00FF
_M4 = 0x0F0F0F0F0F0F0F0F
_M2 = 0x3333333333333333
_M1 = 0x5555555555555555

#: the 31-bit input clamp: two spread 31-bit values interleave into 62
#: bits, keeping the result positive in a signed long so ORDER BY works
INPUT_MASK = 0x7FFFFFFF


def _spread(c: Column) -> Column:
    """Spread the low 31 bits of ``c`` onto the even bit positions."""
    x = c.cast("long").bitwiseAND(F.lit(INPUT_MASK))
    for shift, mask in ((16, _M16), (8, _M8), (4, _M4), (2, _M2), (1, _M1)):
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def morton2(x: Column, y: Column) -> Column:
    """64-bit Morton code of two non-negative integer columns (each
    clamped to 31 bits): ``x`` occupies the even bit positions, ``y`` the
    odd ones. Monotone locality: rows nearby in the code are nearby in
    both inputs. For non-integer keys, bucket them to ints first (e.g.
    ``floor(price / width)``, ``unix_date(day)``)."""
    return _spread(x).bitwiseOR(F.shiftleft(_spread(y), 1))


def morton2_py(x: int, y: int) -> int:
    """Driverless twin of :func:`morton2` for tests: same clamp, same
    spread, pure Python."""

    def spread(v: int) -> int:
        v &= INPUT_MASK
        for shift, mask in ((16, _M16), (8, _M8), (4, _M4), (2, _M2), (1, _M1)):
            v = (v | (v << shift)) & mask
        return v

    return spread(x) | (spread(y) << 1)

