"""Quantize-before-argmin/argmax tie semantics, cross-engine.

An oracle that decides a winner on ROUND(value, 9)-quantized scores must
quantize the same way on the Python side — but "round to 9 dp" is not
one rule: numpy/Python round half-EVEN, DuckDB (std::round) half-AWAY.
On a value that lands exactly on the 0.5e-9 grid line (constructible from
coarse-decimal inputs: e.g. five (1e-5)^2 terms sum to 5e-10 exactly) the
two rules pick DIFFERENT quantized values and an argmin winner can flip
between the engines — this file's `test_half_even_would_diverge` keeps a
concrete such counterexample on record. The shared rule:
``oracle_compat.round_half_away`` / ``np_round_half_away`` mirror DuckDB
ROUND exactly, and these tests pin that mirror (differential fuzz against
live DuckDB, including the float boundaries where the naive
``floor(y+0.5)`` mirror breaks) plus the property that on adversarial
near-grid argmin/argmax inputs the mirror and DuckDB pick the same winner.
"""
import math

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from erigon_extract_spark.oracle_compat import (
    np_round_half_away,
    round_half_away,
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def duck_round_batch(con, vals, dp=9):
    rows = con.execute(
        f"SELECT round(x, {dp}) FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        [[float(v) for v in vals]],
    ).fetchall()
    return [r[0] for r in rows]


# the values where naive mirrors break: exact grid midpoints, the
# float(y+0.5) carry boundary, and signed tiny values (DuckDB keeps -0.0)
_BOUNDARY = [
    5e-10, -5e-10, 3.65e-8, -3.65e-8, 36.5e-9, 1.5e-9, 2.5e-9,
    0.49999999999999994e-9, -0.49999999999999994e-9, 1e-10, -1e-10, 0.0,
] + [k * 1e-9 + 5e-10 for k in range(-20, 20)]


def test_mirror_matches_duckdb_on_boundaries(duck):
    got = duck_round_batch(duck, _BOUNDARY)
    for v, d in zip(_BOUNDARY, got):
        m = round_half_away(v, 9)
        assert m == d and math.copysign(1.0, m) == math.copysign(1.0, d), (
            v, d, m,
        )
    arr = np_round_half_away(np.array(_BOUNDARY), 9)
    assert [float(x) for x in arr] == [float(d) for d in got]


@settings(max_examples=120, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.floats(-1.0, 1.0, allow_nan=False),
            st.floats(-1e-7, 1e-7, allow_nan=False),
            # coarse decimals whose squares land ON the 9-dp grid
            st.integers(-4000, 4000).map(lambda k: (k * 1e-5) ** 2),
            st.integers(-(10 ** 10), 10 ** 10).map(lambda k: k * 5e-10),
        ),
        min_size=1,
        max_size=64,
    )
)
def test_mirror_matches_duckdb_fuzz(vals):
    con = duckdb.connect()
    try:
        got = duck_round_batch(con, vals)
    finally:
        con.close()
    for v, d in zip(vals, got):
        assert round_half_away(v, 9) == d, (v, d, round_half_away(v, 9))


def test_half_even_would_diverge():
    """The counterexample that motivated the shared rule: with np.round
    (half-even) the Spark kernel and the DuckDB oracle pick DIFFERENT
    argmin winners; with the shared half-away rule they agree. If this
    stops reproducing, the grid construction has rotted — fix the test,
    don't delete it."""
    x = np.array([2.0e-4, 2.0e-5])
    cents = np.array([[2.1e-4, 4.0e-5], [2.0e-4, 2.0e-5], [8.0e-5, 7.0e-5]])
    d2 = ((x[None, :] - cents) ** 2).sum(axis=1)
    # d2[0] is exactly 5e-10 in decimal -> a 9-dp grid midpoint
    half_even = np.round(d2, 9)
    half_away = np_round_half_away(d2, 9)
    assert list(half_even) != list(half_away)  # the rules genuinely split
    con = duckdb.connect()
    try:
        duck_q = duck_round_batch(con, d2)
    finally:
        con.close()
    # DuckDB-semantics winner == kernel winner under the shared rule
    w_duck = min(range(3), key=lambda i: (duck_q[i], i))
    w_kernel = int(np.argmin(half_away))
    assert w_kernel == w_duck
    # ...and the old half-even kernel would NOT have matched the oracle
    assert int(np.argmin(half_even)) != w_duck


@settings(max_examples=80, deadline=None)
@given(st.data())
def test_kmeans_argmin_agrees_with_duckdb_near_grid(data):
    """End-to-end tie property the VERDICT asked for: adversarial
    coarse-decimal vectors/centroids (squared distances frequently land
    exactly ON the 0.5e-9 grid), same d2 floats on both sides — the
    kernel's quantized argmin must equal DuckDB's
    ``ORDER BY round(d2, 9), cid`` winner."""
    d = data.draw(st.integers(2, 8))
    k = data.draw(st.integers(2, 5))
    grid = st.integers(0, 40).map(lambda g: g * 1e-5)
    x = np.array(data.draw(st.lists(grid, min_size=d, max_size=d)))
    cents = np.array(
        [data.draw(st.lists(grid, min_size=d, max_size=d)) for _ in range(k)]
    )
    d2 = ((x[None, :] - cents) ** 2).sum(axis=1)
    w_kernel = int(np.argmin(np_round_half_away(d2, 9)))
    con = duckdb.connect()
    try:
        duck_q = duck_round_batch(con, d2)
    finally:
        con.close()
    w_oracle = min(range(k), key=lambda i: (duck_q[i], i))
    assert w_kernel == w_oracle


def test_mmr_score_tie_matches_duckdb_rule(duck):
    """MMR greedy selection on scores that land exactly on the grid:
    0.7*rel - 0.3*pen constructed so the score is a 0.5e-9 multiple.
    The kernel's round_half_away must equal DuckDB ROUND for every such
    score (half-even would round half of them down and flip argmax)."""
    rels = [k * 5e-10 / 0.7 for k in range(1, 40, 2)]
    scores = [0.7 * r - 0.3 * 0.0 for r in rels]
    got = duck_round_batch(duck, scores)
    for s, dref in zip(scores, got):
        assert round_half_away(s, 9) == dref

