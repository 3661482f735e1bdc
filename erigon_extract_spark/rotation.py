"""Mechanical driver-window rotation (VERDICT r5 directive #2).

The per-round driver verifies the FIRST 50 registered queries against
their DuckDB oracles and records the outcome in ``CORRECTNESS_r{N}.json``
at the repo root. Which 50 used to be a hand-maintained priority list in
queries.py — and hand maintenance produced exactly the failure the r5
verdict names: an approximate-distinct query (since retired) went red
in r1 (``no_oracle``), was fixed in r5, and then sat outside every
subsequent window for four rounds because the list's author kept
queueing never-gated greens ahead of it.

This module replaces the list with a RULE, computed from the committed
ledger itself, so the window can never again forget a red row:

    1. red-at-last-appearance   (a fixed defect is re-verified FIRST)
    2. never-gated, oracle-backed (first evidence, strongest check)
    3. never-gated, rows-only     (first evidence, weaker check — the
                                   driver can still record a row count)
    4. once-green, oldest green first (single row -> durable)
    5. durable rest, oldest last-green first (freshness refresh)
    5b. rows-only REFRESH: a retired rows-only row whose newest driver
        appearance is >= REFRESH_AFTER rounds old re-seats here (oldest
        appearance first). Rationale (r7 advice): permanent retirement
        assumed the driver can only re-record the same row count, but a
        later code change can alter a rows-only query's output
        cardinality — the row count is the ONLY regression signal these
        queries have, so it must be re-sampled at low frequency rather
        than never.
    6. rows-only with a RECENT driver row (retired while fresh: within
       REFRESH_AFTER rounds a re-seat displaces a hash-verifiable query
       for zero new evidence — r6's defect)

Ties inside each tier break by registration order (the order the
``@query`` decorators ran — stable across rotations by construction).
The first 50 of that total order ARE the window; queries.py reorders the
registry to match at import time, and tests/test_oracle_gate.py asserts
the live window equals this function's output on the committed ledger,
so a drive-by edit of either side fails CI.

Evidence semantics per row:
  * oracle-backed query: green means ``rows_match and hash_match``.
  * rows-only registration (no ``oracle_sql()`` entry — the driver
    records a weaker check): green means the driver obtained a row count
    at all (``spark_rows`` present) and recorded no error other than the
    expected ``no_oracle`` tag. A query that IS oracle-backed but was
    recorded ``no_oracle`` (the approximate-distinct r1 case: the oracle
    was missing, a defect since fixed) counts RED — that is the very row
    tier 1 exists to re-admit.
"""

from __future__ import annotations

import glob
import json
import os
import re
from pathlib import Path

# the driver checks exactly this many registry entries per round
WINDOW = 50

# a retired rows-only query re-enters the window once its newest driver
# row is this many rounds stale (tier 5b — see module docstring)
REFRESH_AFTER = 6


def load_ledger(root: str | os.PathLike | None = None) -> dict[int, dict]:
    """Read every committed CORRECTNESS_r*.json under ``root`` (default:
    the repo root two levels above this file). Returns {round: {query:
    row}}; empty when no driver round has run yet (round 1 — the rule
    then degrades to pure registration order, which is correct: all
    queries are tier never-gated)."""
    if root is None:
        root = Path(__file__).resolve().parent.parent
    rounds: dict[int, dict] = {}
    for f in sorted(glob.glob(str(Path(root) / "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)\.json$", f)
        if not m:
            continue
        try:
            with open(f) as fh:
                rounds[int(m.group(1))] = json.load(fh)
        except (OSError, ValueError):
            # an unreadable artifact must not take the package down with
            # it; the integrity test still compares against the real set
            continue
    return rounds


def _row_green(row: dict, oracle_backed: bool) -> bool:
    if oracle_backed:
        return bool(row.get("hash_match") and row.get("rows_match"))
    return row.get("spark_rows") is not None and row.get("err") in (
        None,
        "no_oracle",
    )


def compute_gate_priority(
    rounds: dict[int, dict],
    registration_order: list[str],
    oracles: set[str],
    window: int = WINDOW,
) -> list[str]:
    """The window composition rule — see module docstring. Pure function
    of (ledger, registration order, oracle set) so tests can replay it on
    the committed artifacts."""
    reg_pos = {n: i for i, n in enumerate(registration_order)}
    red: list[str] = []
    never_oracle: list[str] = []
    never_rows_only: list[str] = []
    once: list[tuple[int, int, str]] = []  # (green_round, reg, name)
    durable: list[tuple[int, int, str]] = []  # (last_green, reg, name)
    stale_rows_only: list[tuple[int, int, str]] = []  # (last_seen, reg, name)
    retired_rows_only: list[str] = []
    latest_round = max(rounds) if rounds else 0

    for name in registration_order:
        appearances = {
            rn: rounds[rn][name] for rn in rounds if name in rounds[rn]
        }
        backed = name in oracles
        if not appearances:
            (never_oracle if backed else never_rows_only).append(name)
            continue
        if not backed:
            # Tier 6: once the driver holds this query's ROW COUNT it can
            # never upgrade it to a hash match — it must not displace a
            # hash-verifiable query from the window (CI invariant in
            # tests/test_oracle_gate.py::test_driver_window_integrity).
            # An appearance WITHOUT a row count (the run errored before
            # counting) is not evidence: the query stays in tier 3 so the
            # driver can still capture its first row count.
            counted = [
                rn
                for rn, r in appearances.items()
                if r.get("spark_rows") is not None
            ]
            if not counted:
                never_rows_only.append(name)
            elif latest_round - max(counted) >= REFRESH_AFTER:
                # tier 5b: the recorded count has gone stale — re-sample
                # so a cardinality-changing code regression can't hide
                # behind permanent retirement (r7 advice)
                stale_rows_only.append((max(counted), reg_pos[name], name))
            else:
                retired_rows_only.append(name)
            continue
        greens = sorted(
            rn for rn, row in appearances.items() if _row_green(row, backed)
        )
        if not _row_green(appearances[max(appearances)], backed):
            red.append(name)
        elif len(greens) == 1:
            once.append((greens[0], reg_pos[name], name))
        else:
            durable.append((greens[-1], reg_pos[name], name))

    ordered = (
        red
        + never_oracle
        + never_rows_only
        + [n for _, _, n in sorted(once)]
        + [n for _, _, n in sorted(durable)]
        + [n for _, _, n in sorted(stale_rows_only)]
        + retired_rows_only
    )
    return ordered[:window]
