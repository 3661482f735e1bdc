"""As-of (point-in-time) query operators.

The reference's declared query capability: "any account or storage can be
looked up at any point in block time" (reference README.md:37-41). Not code
in the reference — it is the purpose of its output file format. Here it is
a first-class operator over any versioned table.

Physical strategy: ``max_by`` aggregation (single shuffle on the key,
map-side partial aggregation) rather than a window + filter (which cannot
partial-aggregate). On a sorted/bucketed state-history table the filter on
``block_from <= B`` prunes row groups before the shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def state_at(
    df: DataFrame,
    key_cols: Sequence[str],
    version_col: str,
    as_of,
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Latest row per key with version_col <= as_of.

    Returns one row per key: key columns, the winning version, and the value
    columns from the winning row.
    """
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in key_cols and c != version_col]
    filtered = df.filter(F.col(version_col) <= F.lit(as_of))
    aggs = [F.max(version_col).alias(version_col)] + [
        F.max_by(c, version_col).alias(c) for c in value_cols
    ]
    return filtered.groupBy(*key_cols).agg(*aggs)


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, attach the latest right row with
    right_time <= left_time (backward) or earliest with >= (forward),
    matching on equi-keys ``on``. Every left row survives (nulls if no
    match). Output columns: all of ``left``'s, then ``right``'s non-key
    columns (including ``right_time`` — the matched version).

    Physical strategy — the *merge* shape: union both sides with a side
    tag, one window over (keys ORDER BY time, side) carrying the running
    ``last`` right row forward (backward direction; time DESC for
    forward). Cost is ONE shuffle of |L|+|R| rows and linear work per key —
    no per-key pair materialization, so a hot key with a million rows on
    both sides stays O(|L_k|+|R_k|), not O(|L_k|·|R_k|). When the inputs
    are already partitioned/bucketed by ``on`` the window reuses the
    partitioning and the join is shuffle-free. (A broadcast equi-join +
    per-row pick was measured and rejected: it shuffles |L|·avg|R_k| joined
    rows on a unique row id with no partial aggregation — strictly more
    than |L|+|R| even when the right side is dimension-sized.)

    Right rows at exactly the left row's time DO match in both directions
    (<=/>= semantics): the side tag orders right before left within a tie.
    The matched right row's columns travel as ONE struct, so a NULL in one
    right value column can never mix columns from different right rows.
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    on = list(on)
    l_payload = [c for c in left.columns if c not in on]
    right_cols = [c for c in right.columns if c not in on]

    l_tag = left.select(
        *on,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        *[F.col(c).alias(f"__l_{c}") for c in l_payload],
        F.lit(None)
        .cast(
            "struct<"
            + ",".join(
                f"`{c}`:{right.schema[c].dataType.simpleString()}"
                for c in right_cols
            )
            + ">"
        )
        .alias("__rs"),
    )
    r_tag = right.filter(F.col(right_time).isNotNull()).select(
        *on,
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
            for c in l_payload
        ],
        F.struct(*[F.col(c) for c in right_cols]).alias("__rs"),
    )
    unioned = r_tag.unionByName(l_tag)

    if direction == "backward":
        # nulls_first: a left row with NULL time sorts before any right row
        # and therefore matches nothing — same as the inequality semantics.
        order = [F.col("__t").asc_nulls_first(), F.col("__side").asc()]
    else:
        order = [F.col("__t").desc_nulls_first(), F.col("__side").asc()]
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("__rm", F.last("__rs", ignorenulls=True).over(w))

    return matched.filter(F.col("__side") == 1).select(
        *[
            F.col(c) if c in on else F.col(f"__l_{c}").alias(c)
            for c in left.columns
        ],
        *[F.col("__rm").getField(c).alias(c) for c in right_cols],
    )
