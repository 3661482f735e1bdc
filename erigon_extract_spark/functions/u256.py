"""256-bit unsigned integer arithmetic over 32-byte BinaryType columns.

Spark has no u256 type (DecimalType caps at 38 digits; u256 needs 78), so
balances and storage values stay canonical 32-byte big-endian binaries and
arithmetic happens in Arrow-vectorized pandas UDFs using Python's
arbitrary-precision ints. This replaces the reference's byte-wise
subtract-with-borrow / add-with-carry kernels (erigon_extract.c:665-688).

Comparison/ordering needs NO UDF: Spark compares BinaryType unsigned
lexicographically, which on fixed-width big-endian integers is numeric
order (same trick the reference's memcmp comparator relies on,
erigon_extract.c:2102-2157).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MASK = (1 << 256) - 1


def _to_b32(v: int) -> bytes:
    return (v & _MASK).to_bytes(32, "big")


@F.pandas_udf(T.BinaryType())
def u256_add(a: pd.Series, b: pd.Series) -> pd.Series:
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
        else:
            out.append(_to_b32(int.from_bytes(x, "big") + int.from_bytes(y, "big")))
    return pd.Series(out)


@F.pandas_udf(T.BinaryType())
def u256_sub(a: pd.Series, b: pd.Series) -> pd.Series:
    """a - b mod 2^256 (wrap-around, like the reference's borrow chain)."""
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(None)
        else:
            out.append(_to_b32(int.from_bytes(x, "big") - int.from_bytes(y, "big")))
    return pd.Series(out)


@F.pandas_udf(T.DecimalType(38, 0))
def u256_to_decimal(a: pd.Series) -> pd.Series:
    """Lossy narrowing to Decimal(38) for values < 10^38; None if too large."""
    import decimal

    limit = 10**38
    out = []
    for x in a:
        if x is None:
            out.append(None)
        else:
            v = int.from_bytes(x, "big")
            out.append(decimal.Decimal(v) if v < limit else None)
    return pd.Series(out)


def u256_from_long(col):
    """Widen a non-negative LongType column to canonical 32-byte binary.

    Pure built-ins: 24 zero bytes ‖ 8-byte big-endian long — no UDF needed.
    """
    c = F.col(col) if isinstance(col, str) else col
    be8 = F.unhex(F.lpad(F.hex(c), 16, "0"))
    return F.concat(F.lit(b"\x00" * 24), be8)
