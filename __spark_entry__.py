"""The package's entry contract: ``entry``, ``queries`` and ``oracle_sql``.

``entry(spark)`` runs the flagship as-of state query at sf0.001;
``queries()``/``oracle_sql()`` expose the engine's declared operator surface
(SURVEY.md §2 + training-data ops) for the DuckDB correctness gate.
Implementations live in ``erigon_extract_spark.queries``.

The three functions stay as the contract. ``queries()`` is the registry
of kept code only: retiring a module family removes its registrations and
their ``oracle_sql()`` entries in the same change, so no entry points at
deleted code. ``asof_state_at`` (the ``entry`` query) and every query in
``tests/test_oracle_gate.py``'s ``SUBSET`` stay registered.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from erigon_extract_spark import queries as q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the as-of state query (the reference's raison d'être,
    reference README.md:37-41) over the sf0.001 events table."""
    return q.QUERIES["asof_state_at"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(q.ORACLES)
