"""Structured Streaming extension of the state pipeline (SURVEY.md §2.12).

The reference is one-shot batch over a frozen MDBX snapshot; its README
discusses in-place updates as future work (reference README.md:52-56).
Spark-natively, the continuing-sync story is: changesets arrive as an
append stream → watermark bounds lateness → dedup forks within the
watermark → running latest-state maintained in update mode.

These builders operate on any event-shaped stream; tests drive them with
the file source over the driver's ``events`` table using an
``availableNow`` trigger (batch-equivalent semantics, same code path a
Kafka source would take in production).

Scale notes: state-store size for latest-state is O(#keys), partitioned by
key hash; at 100 TB history the state is still only the live key set.
``dropDuplicates`` within a watermark keeps the dedup state bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_latest_state(
    stream: DataFrame,
    key_cols: list[str],
    version_col: str,
    value_cols: list[str],
    watermark_col: str | None = None,
    watermark_delay: str = "10 minutes",
    dedup_cols: list[str] | None = None,
) -> DataFrame:
    """Running latest version per key over an append stream (update mode).

    max_by keeps one row of state per key — the streaming analogue of the
    batch ``state_at`` operator.
    """
    if watermark_col is not None:
        stream = stream.withWatermark(watermark_col, watermark_delay)
    if dedup_cols:
        stream = stream.dropDuplicates(dedup_cols)
    aggs = [F.max(version_col).alias(version_col)] + [
        F.max_by(c, version_col).alias(c) for c in value_cols
    ]
    return stream.groupBy(*key_cols).agg(*aggs)


def stream_windowed_counts(
    stream: DataFrame,
    time_col: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
    group_cols: list[str] | None = None,
    slide_duration: str | None = None,
) -> DataFrame:
    """Watermarked windowed counts — the standard late-data-tolerant rollup
    for an event stream. Tumbling by default; pass ``slide_duration`` for
    hopping (sliding) windows, where each event lands in
    window/slide overlapping windows.

    ``withWatermark`` is a no-op on batch DataFrames, so the SAME builder
    runs in batch for the DuckDB oracle gate (queries
    ``window_tumbling_agg``/``window_hopping_agg``) and in streaming under
    an availableNow trigger — one code path, oracle-verified logic.
    """
    group_cols = group_cols or []
    w = stream.withWatermark(time_col, watermark_delay)
    window = (
        F.window(F.col(time_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(time_col), window_duration)
    )
    return (
        w.groupBy(window, *group_cols)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )


def stream_session_windows(
    stream: DataFrame,
    time_col: str,
    gap: str,
    key_cols: list[str],
    value_col: str | None = None,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Session-window rollup: events of a key belong to one session while
    each gap to the next event is < ``gap``; a session closes ``gap`` after
    its last event (window end = last ts + gap, half-open).

    Uses Spark's native ``session_window`` — in streaming the watermark
    closes and evicts sessions whose end has passed, so state is
    O(open sessions), not O(history). ``withWatermark`` is a batch no-op,
    so the SAME builder runs under the DuckDB oracle (query
    ``session_window_agg``) and under an availableNow trigger.
    """
    w = stream.withWatermark(time_col, watermark_delay)
    aggs = [F.count("*").alias("n_events")]
    if value_col is not None:
        aggs.append(
            F.round(
                F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double"), 2
            ).alias("total_value")
        )
    return (
        w.groupBy(F.session_window(F.col(time_col), gap), *key_cols)
        .agg(*aggs)
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *key_cols,
            "n_events",
            *(("total_value",) if value_col is not None else ()),
        )
    )


def stream_dedup_within_watermark(
    stream: DataFrame,
    dedup_cols: list[str],
    watermark_col: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: keeps one row per
    ``dedup_cols`` combination, and — unlike plain ``dropDuplicates`` whose
    state grows forever — evicts dedup state once the watermark passes a
    row's event time. The streaming analogue of ``exact_dedup`` for
    at-least-once sources (Kafka replays, file re-lists): duplicates
    arriving within the lateness bound are dropped, state is
    O(rows inside the watermark window), not O(history)."""
    return stream.withWatermark(
        watermark_col, watermark_delay
    ).dropDuplicatesWithinWatermark(dedup_cols)


def stream_cms(
    stream: DataFrame,
    key_col: str,
    *,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Streaming count-min sketch: running heavy-hitter state whose size is
    CONSTANT in both stream length and key cardinality.

    A streaming ``groupBy(key).count()`` holds one state row per distinct
    key — unbounded on an open key domain. Hashing each event into the
    sketch's (row, bucket) cells first makes the streaming aggregation's
    state exactly ``depth x width`` rows forever; estimates come from
    probing the in-memory sketch table (operators/sketch.cms_estimate) at
    any time. Because the sketch is linear (see cms_merge), the streaming
    cell counts equal the batch sketch of everything seen — verified in
    tests against cms_build on the same data.
    """
    from erigon_extract_spark.operators.sketch import cms_build

    # the batch builder is pure DataFrame expressions, so it IS the
    # streaming builder — one definition of the hash/cell layout keeps the
    # streaming-equals-batch linearity structural, not maintained-by-hand
    return cms_build(stream, key_col, depth=depth, width=width)


def stream_hll(
    stream: DataFrame,
    key_col: str,
    *,
    m: int = 256,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Streaming HyperLogLog: running distinct-count state bounded by
    ``m`` register rows per group forever — the streaming
    ``approx_count_distinct`` whose registers are portable integers.

    A streaming COUNT(DISTINCT key) must retain every key seen; hashing
    each event to (bucket, rho) first makes the state a max-aggregate
    over at most m buckets, constant in both stream length and key
    cardinality. max() is monotone, so update-mode emissions are
    register-wise increasing and the running sketch ALWAYS equals the
    batch sketch of everything seen (hll_merge's union-max linearity,
    verified streaming==batch in tests). Estimate any time via
    operators/sketch.hll_estimate on the sketch table."""
    from erigon_extract_spark.operators.sketch import hll_build

    # the batch builder is pure DataFrame expressions, so it IS the
    # streaming builder (the stream_cms argument)
    return hll_build(stream, key_col, m=m, group_cols=group_cols)


def stream_bloom(
    stream: DataFrame,
    key_col: str,
    *,
    m_bits: int = 1 << 18,
    k: int = 5,
) -> DataFrame:
    """Streaming Bloom filter: running membership state bounded by
    m_bits/32 word rows forever. bit_or is monotone, so the running word
    table always equals the batch Bloom of every key seen — the
    have-we-seen-this-key structure for dedup gating on an open key
    domain where dropDuplicates' state would grow unboundedly (accepting
    the Bloom's false-positive rate in exchange). Probe any time via
    operators/sketch.bloom_maybe_contains on the sketch table."""
    from erigon_extract_spark.operators.sketch import bloom_build

    # the batch builder is pure DataFrame expressions, so it IS the
    # streaming builder (the stream_cms/stream_hll argument)
    return bloom_build(stream, key_col, m_bits=m_bits, k=k)


def stream_ohlc(
    stream: DataFrame,
    time_col: str,
    value_col: str,
    id_col: str,
    window_duration: str = "1 hour",
    watermark_delay: str = "30 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked streaming OHLC bars — the continuous-aggregate form of
    the batch ``events_ohlc_hourly`` rollup. Open/close come from min/max
    over (time, id, value) STRUCTS exactly like the batch query
    (lexicographic struct ordering = value at the earliest/latest event,
    ``id_col`` breaking same-instant ties), so a replayed stream produces
    bit-identical bars to the batch aggregation; high/low/count are plain
    mergeable combinators, state per open window is one constant-size
    tuple. ``withWatermark`` is a no-op on batch DataFrames — the SAME
    builder backs the batch oracle gate and the availableNow streaming
    run (asserted in tests/test_streaming.py)."""
    group_cols = group_cols or []
    w = stream.withWatermark(time_col, watermark_delay)
    s = F.struct(F.col(time_col), F.col(id_col), F.col(value_col))
    return (
        w.groupBy(F.window(F.col(time_col), window_duration), *group_cols)
        .agg(
            F.min(s).alias("__o"),
            F.max(s).alias("__c"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            *group_cols,
            F.col("__o").getField(value_col).alias("open"),
            "high",
            "low",
            F.col("__c").getField(value_col).alias("close"),
            "n_events",
        )
    )
