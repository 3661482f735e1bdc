"""The driver-compatibility contract for DuckDB oracle results.

One definition of "driver-hostile" result types, shared by the gate
mirror (tools/run_gate.py) and the oracle auditor
(tools/scan_oracle_types.py) — the r4 lesson was that DuckDB widens
integer SUM to HUGEINT (int128), which the correctness driver's pandas
canonicalizer hashes differently than Spark's int64 while rows_match
stays green. Keeping the predicate in one place means the next hostile
type class is added once and both tools agree.
"""

from __future__ import annotations

# DuckDB types pandas cannot hold losslessly in an int64/float64 lane.
_BAD_EXACT = {"HUGEINT", "UHUGEINT", "UBIGINT"}


def hostile_oracle_cols(columns, types) -> list[tuple[str, str]]:
    """(column, type) pairs of a DuckDB relation whose values would hash
    differently under the driver's pandas canonicalizer than Spark's
    BIGINT/DOUBLE output. DECIMAL is rejected wholesale: p > 18 exceeds
    int64 and ANY decimal lands as Python Decimal objects in pandas."""
    out = []
    for name, dtype in zip(columns, types):
        s = str(dtype)
        if s in _BAD_EXACT or s.startswith("DECIMAL"):
            out.append((name, s))
    return out


def round_half_away(x: float, dp: int = 9) -> float:
    """Exact mirror of DuckDB ``ROUND(DOUBLE, dp)``: std::round(x * 10^dp)
    / 10^dp, half away from zero, sign-preserving (DuckDB emits -0.0 for
    tiny negatives). Python's ``round``/np.round are half-EVEN — on a
    value whose scaled form sits exactly on .5 (constructible from
    coarse-decimal inputs: five (1e-5)^2 terms sum to 5e-10 exactly) the
    two rules pick DIFFERENT quantized values, which can flip an
    argmin/argmax winner between the engines. The naive
    ``floor(y + 0.5)`` mirror is also wrong: for y = 0.49999999999999994
    the float add rounds up to 1.0, while std::round keeps 0. This form
    (compare the exact fractional part) matched DuckDB on a 90k-value
    differential fuzz including those boundaries
    (tests/test_tie_semantics.py keeps the fuzz alive)."""
    import math

    s = 10.0 ** dp
    y = x * s
    a = abs(y)
    f = math.floor(a)
    if a - f >= 0.5:
        f += 1.0
    return math.copysign(f, y) / s


def np_round_half_away(arr, dp: int = 9):
    """Vectorized :func:`round_half_away` over a numpy float64 array —
    the quantize-before-argmin/argmax step for a numpy kernel whose tie
    behavior must be identical to its DuckDB oracle's ``ROUND(...)`` by
    construction, not by float luck."""
    import numpy as np

    s = 10.0 ** dp
    y = np.asarray(arr, dtype=np.float64) * s
    a = np.abs(y)
    f = np.floor(a)
    f = f + (a - f >= 0.5)
    return np.copysign(f, y) / s
