"""Window-function operators — the Spark form of the reference's hand-rolled
delta/re-keying machinery (SURVEY.md §2.5).

The reference's Writer/Reader structs carry exactly the frame state of
``Window.partitionBy(key).orderBy(order)`` with ``lag``; every "reset on new
address" is a partition boundary. These helpers make the semantics explicit
and reusable across the domain pipeline and the generic query surface.

Scale note: each helper induces at most ONE shuffle (the window's hash
partition by key). When the upstream DataFrame is already partitioned by the
same keys (e.g. after ``repartitionByRange`` in the transpose), Catalyst
reuses the partitioning and the window is shuffle-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rekey_first_block(
    df: DataFrame,
    key_cols: Sequence[str],
    block_col: str = "block",
    out_col: str = "block_from",
    drop_genesis: bool = True,
) -> DataFrame:
    """Convert last-block semantics to first-block semantics.

    Reference behavior (merge loop, erigon_extract.c:2409-2433): per key
    group ordered by block, each row's output block becomes the PREVIOUS
    row's input block (0 for the first row of a group); rows whose adjusted
    block is 0 and that don't step forward (original block == 0) are genesis
    entries and are dropped (erigon_extract.c:2421-2426).

    The reference runs this single-threaded inside a k-way merge ("cannot
    parallelise the merge step", erigon_extract.c:2732-2733). As a lag
    window it parallelizes over key ranges — the merge bottleneck disappears.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(block_col).asc())
    out = df.withColumn(out_col, F.lag(block_col, 1, 0).over(w))
    if drop_genesis:
        out = out.filter(~((F.col(out_col) == 0) & (F.col(block_col) == 0)))
    return out


def delta_encode(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    out_col: str | None = None,
    first_value: Column | None = None,
) -> DataFrame:
    """value - lag(value) per key group (reference W1/W2: block/nonce deltas,
    erigon_extract.c:690-735, 873-884). First row of each group keeps its
    absolute value minus ``first_value`` (default 0)."""
    out_col = out_col or f"{value_col}_delta"
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    base = F.lag(value_col, 1).over(w)
    if first_value is None:
        first_value = F.lit(0)
    return df.withColumn(out_col, F.col(value_col) - F.coalesce(base, first_value))


def delta_decode(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    delta_col: str,
    out_col: str,
) -> DataFrame:
    """Inverse of delta_encode: running sum over the group frame
    (rowsBetween(unboundedPreceding, currentRow))."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(delta_col).over(w))


def session_tick_micros(df: DataFrame, time_col: str) -> Column:
    """Event-time as integer epoch microseconds, computed WITHOUT ever
    passing through a session-timezone-dependent cast.

    - ``timestamp_ntz``: ``timestampdiff(MICROSECOND, NTZ epoch, ts)`` —
      pure wall-clock arithmetic on the stored value; a ``cast(ntz as
      timestamp)`` instead would shift the epoch by the SESSION timezone
      (and non-uniformly across DST transitions), making results depend on
      driver config. That exact sensitivity produced two rounds of
      driver-only sessionize hash mismatches.
    - ``timestamp``: ``unix_micros`` reads the internal epoch directly —
      already timezone-independent.
    - integral: taken as epoch micros as-is (exact integer math; a double
      cast at 2024 epoch magnitudes carries ~µs quantization).
    """
    from pyspark.sql import types as T

    dt = df.schema[time_col].dataType
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ'1970-01-01 00:00:00', `{time_col}`)"
        )
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(F.col(time_col))
    return F.col(time_col).cast("long")


def sessionize_marks(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    gap_seconds: int,
    tiebreak_cols: Sequence[str] = (),
    tick_col: str = "tick_micros",
    mark_col: str = "is_new",
) -> DataFrame:
    """The observable intermediates of sessionization: integer-µs tick and
    the session-start mark per row. Split out so a correctness gate can
    pin down WHERE a divergence enters (tick vs mark vs running sum)."""
    tick = session_tick_micros(df, time_col)
    df = df.withColumn(tick_col, tick)
    order = [F.col(tick_col).asc()] + [F.col(c).asc() for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    gap = F.lit(int(gap_seconds) * 1_000_000)
    prev = F.lag(tick_col).over(w)
    is_new = F.when(prev.isNull() | (F.col(tick_col) - prev > gap), 1).otherwise(0)
    return df.withColumn(mark_col, is_new)


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    time_col: str,
    gap_seconds: int,
    out_col: str = "session_id",
    tiebreak_cols: Sequence[str] = (),
) -> DataFrame:
    """Gap-based session assignment: a new session starts when the time
    since the previous event of the same key exceeds ``gap_seconds``.
    session_id is the running count of session starts per key (1-based).

    Two windows over the SAME partitioning (key, ordered by tick +
    tiebreaks) — one shuffle total; the lag and the running sum pipeline
    in one stage. Pass tiebreak_cols when time values can collide, so the
    assignment is deterministic. All gap math is integer microseconds via
    ``session_tick_micros`` — exact and session-config-independent on both
    Spark and any ANSI oracle (epoch_us)."""
    marked = sessionize_marks(
        df,
        key_cols,
        time_col,
        gap_seconds,
        tiebreak_cols,
        tick_col="__tick",
        mark_col="__is_new",
    )
    order = [F.col("__tick").asc()] + [F.col(c).asc() for c in tiebreak_cols]
    run = (
        Window.partitionBy(*key_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        marked.withColumn(out_col, F.sum("__is_new").over(run))
        .drop("__tick", "__is_new")
    )


def dedup_keep_first(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep the first row per key by the given order — the canonical-chain
    dedup for fork blocks (reference W6, erigon_extract.c:1852-1871 tolerates
    duplicate block numbers; here duplicates resolve deterministically).

    row_number (not dropDuplicates) so the winner is deterministic.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    bucket_span: int = 4096,
    out_col: str = "cum_incl",
) -> DataFrame:
    """Distributed GLOBAL running sum in ``order_col`` order — the
    two-phase parallel scan, with no single-partition pass over the data:

    1. rows bucket by ``floor(order / bucket_span)`` and each bucket runs
       a LOCAL window cumsum (hash shuffle on the bucket id — every
       bucket's rows sort independently, in parallel);
    2. per-bucket totals (|buckets| = range/span rows, thousands per
       billion rows) get an exclusive cumsum through one tiny global
       window, and broadcast-join back as each bucket's starting offset.

    The only global-ordered step runs over bucket TOTALS, never rows, so
    a 100 TB scan is two row-linear shuffles + one kilobyte-scale window
    — versus the naive ``Window.orderBy(order)`` whose single partition
    serializes the entire table through one task.

    Contract: ``order_col`` is numeric with unique values (ties within
    one instant would make the running sum partitioning-dependent);
    bucketing by fixed arithmetic spans assumes ids spread roughly evenly
    — for arbitrary/skewed keys, rank them onto a dense domain first.
    Integer values stay integer-exact end to end. Adds ``out_col``
    (inclusive running sum) to ``df``'s columns.
    """
    # a NULL order value would bucket to __b = NULL and then vanish in
    # the offsets equi-join (NULL never equals NULL) — a silent row drop
    # that also shifts every later cumsum. Fail loudly at execution.
    b = F.when(
        F.col(order_col).isNotNull(),
        F.floor(F.col(order_col) / F.lit(bucket_span)),
    ).otherwise(
        F.raise_error(
            F.lit(f"global_prefix_sum: {order_col} must be non-null")
        )
    ).alias("__b")
    base = df.withColumn("__b", b)
    w_local = (
        Window.partitionBy("__b")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = base.withColumn("__local", F.sum(value_col).over(w_local))
    totals = base.groupBy("__b").agg(F.sum(value_col).alias("__tot"))
    w_buckets = (
        Window.orderBy(F.col("__b").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__b",
        F.coalesce(F.sum("__tot").over(w_buckets), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__b")
        .withColumn(out_col, F.col("__local") + F.col("__off"))
        .drop("__b", "__local", "__off")
    )


def pps_systematic_sample(
    df: DataFrame,
    *,
    order_col: str = "doc_id",
    weight_col: str = "n_chars",
    stride: int = 4096,
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling: lay every
    row's weight end to end along a line in ``order_col`` order, drop a
    grid point every ``stride`` units, and keep the rows whose interval
    contains a grid point. Selection probability = weight/stride (rows
    heavier than the stride are always kept) with exactly-controlled
    spacing — the deterministic, integer-exact form of weighted sampling
    a mixture pipeline wants (no RNG, no float keys, stable under
    re-partitioning and appends of larger ids, and the SQL oracle mirrors
    it term for term).

    Built on :func:`global_prefix_sum`, so the scan is two linear
    shuffles at any scale. A row [a, b) is selected iff
    floor((b-1)/stride) > floor((a-1)/stride) — grid points sit at 0,
    stride, 2*stride, ...; zero-weight rows can never be selected.
    Returns the selected rows: (order_col, weight_col, cum_excl).
    """
    c = global_prefix_sum(
        df.select(order_col, weight_col), order_col, weight_col,
        out_col="__ci",
    )
    sel = F.floor((F.col("__ci") - 1) / F.lit(stride)) > F.floor(
        (F.col("__ci") - F.col(weight_col) - 1) / F.lit(stride)
    )
    return (
        c.filter(sel)
        .select(
            order_col,
            weight_col,
            (F.col("__ci") - F.col(weight_col)).alias("cum_excl"),
        )
    )
