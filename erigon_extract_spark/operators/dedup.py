"""Exact document deduplication over a ``documents(doc_id, text, ...)``
table: one hash shuffle on a content fingerprint of the normalized text,
with a top-1 window per fingerprint. Determinism: the fingerprint is
Spark's built-in ``md5`` and the winner is the smallest id, so results
are reproducible across runs and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from erigon_extract_spark.operators.text import normalize_text


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one doc per exact (normalized) content hash — the winner is the
    smallest id (deterministic).

    Plan: each task sorts its rows by ``(__fp, id)`` and keeps a partial
    top-1 per fingerprint (``WindowGroupLimit``); one hash exchange on
    ``__fp`` follows, then a second sort, the final ``WindowGroupLimit``
    and the ``Window``. The window stays because only the per-task
    winners cross the one shuffle; a
    ``groupBy(__fp).agg(min(struct(id, text)))`` is no cheaper, since it
    plans as a ``SortAggregate`` with the same two sorts."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        docs.withColumn("__fp", fp)
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__fp").orderBy(F.col(id_col))),
        )
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )
