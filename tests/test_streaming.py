"""Structured Streaming: latest-state and windowed counts driven with the
file source + availableNow trigger over the events table (same code path a
Kafka source takes; batch-equivalent semantics for the assertion)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from erigon_extract_spark.sources.tables import normalize_event_ts
from erigon_extract_spark.streaming import (
    stream_latest_state,
    stream_windowed_counts,
)


@pytest.fixture(scope="module")
def events_dir(sf_dir):
    # the file stream source requires a DIRECTORY
    d = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_available_now(out, name, mode):
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # assert completion: a silent timeout would let the assertions
        # read PARTIAL results and fail as a wrong pair set (the r10
        # saturation flake) instead of as what it is — a timeout
        assert q.awaitTermination(600), "availableNow stream timed out"
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_latest_state_matches_batch(spark, sf_dir, events_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    out = stream_latest_state(
        stream,
        key_cols=["user_id"],
        version_col="event_id",
        value_cols=["event_type", "value"],
    )
    _run_available_now(out, "latest_state_t", "complete")
    got = {
        r.user_id: (r.event_id, r.event_type)
        for r in spark.sql("SELECT * FROM latest_state_t").collect()
    }
    expect = {
        r.user_id: (r.event_id, r.event_type)
        for r in batch.groupBy("user_id")
        .agg(
            F.max("event_id").alias("event_id"),
            F.max_by("event_type", "event_id").alias("event_type"),
        )
        .collect()
    }
    assert got == expect


def test_stream_windowed_counts_runs(spark, sf_dir, events_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = normalize_event_ts(
        spark.readStream.schema(batch.schema).parquet(events_dir)
    )
    out = stream_windowed_counts(
        stream, "ts", window_duration="1 day", group_cols=["event_type"]
    )
    _run_available_now(out, "win_counts_t", "append")
    # append mode emits only closed windows; assert the query ran and the
    # schema is right
    df = spark.sql("SELECT * FROM win_counts_t")
    assert df.columns == ["window_start", "window_end", "event_type", "n_events"]


def test_stream_band_join_matches_batch(spark, sf_dir, events_dir):
    """The watermarked stream-stream interval join must produce exactly the
    batch band join's pair set (availableNow processes everything, so no
    pairs are lost to late-data eviction here)."""
    from erigon_extract_spark.operators.rangejoin import band_self_join
    from erigon_extract_spark.streaming.stream_join import stream_band_self_join

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(events_dir).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema).parquet(events_dir)
    )
    joined = stream_band_self_join(
        stream, ["event_type"], "ts", band_seconds=3600, id_col="event_id"
    )
    _run_available_now(
        joined.select("a_event_id", "b_event_id"), "band_pairs", "append"
    )
    got = {
        (r.a_event_id, r.b_event_id)
        for r in spark.sql("SELECT * FROM band_pairs").collect()
    }

    batch = normalize_event_ts(spark.read.parquet(events_dir))
    want = {
        (r.a_event_id, r.b_event_id)
        for r in band_self_join(
            batch, ["event_type"], "ts", 3_600_000_000, "event_id"
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_band_join_replayed_micro_batches(spark, sf_dir):
    """Replay the band join across MULTIPLE micro-batches (VERDICT r8 #4):
    time-ordered chunks + maxFilesPerTrigger=1, so pairs whose sides land
    in different batches exist only if StreamingSymmetricHashJoin kept the
    earlier side buffered. Time-ordered arrival is the correctness
    precondition: a state row is evicted once its ts drops band+delay
    behind the watermark, and each new chunk's rows sit within band of at
    most the previous chunk's tail — which is exactly what a
    monotonically-ingesting feed (Kafka by log-append time) provides."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from erigon_extract_spark.operators.rangejoin import band_self_join
    from erigon_extract_spark.streaming.stream_join import stream_band_self_join

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = normalize_event_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).select("user_id", "event_id", "ts")

    d = tempfile.mkdtemp(prefix="events_chunks_")
    try:
        pdf = batch.orderBy("ts", "event_id").toPandas()
        n = len(pdf)
        chunk_of = {}
        for i in range(4):
            part = pdf.iloc[i * n // 4 : (i + 1) * n // 4]
            chunk_of.update((eid, i) for eid in part["event_id"])
            path = f"{d}/chunk_{i}.parquet"
            # micros keeps the written file type identical to the declared
            # read schema (ns would come back bigint under nanosAsLong)
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                path, coerce_timestamps="us",
            )
            # the file source replays in modification-time order — pin it
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        joined = stream_band_self_join(
            stream, ["user_id"], "ts", band_seconds=21600, id_col="event_id"
        )
        ckpt = tempfile.mkdtemp(prefix="ckpt_")
        try:
            q = (
                joined.select("a_event_id", "b_event_id")
                .writeStream.format("memory")
                .queryName("band_pairs_replay")
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            # assert completion: a silent timeout would let the assertions
            # read PARTIAL results and fail as a wrong pair set (the r10
            # saturation flake) instead of as what it is — a timeout
            assert q.awaitTermination(600), "availableNow stream timed out"
            n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

        got = {
            (r.a_event_id, r.b_event_id)
            for r in spark.sql("SELECT * FROM band_pairs_replay").collect()
        }
        want = {
            (r.a_event_id, r.b_event_id)
            for r in band_self_join(
                batch, ["user_id"], "ts", 21_600_000_000, "event_id"
            ).collect()
        }
        cross = {
            p for p in want if chunk_of[p[0]] != chunk_of[p[1]]
        }
        assert n_batches >= 2, "replay collapsed into one micro-batch"
        assert cross, "fixture produced no cross-batch pairs — test is vacuous"
        assert got == want and len(want) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_session_windows_available_now(spark, sf_dir, events_dir):
    """Session windows under a real streaming trigger must equal the batch
    run of the same builder (which the DuckDB oracle hash-verifies as
    query session_window_agg)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from erigon_extract_spark.streaming import stream_session_windows

    batch = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    stream = normalize_event_ts(
        spark.readStream.schema(
            spark.read.parquet(f"{sf_dir}/events.parquet").schema
        ).parquet(events_dir)
    )
    out = stream_session_windows(
        stream, "ts", gap="5 minutes", key_cols=["user_id"], value_col="value"
    )
    _run_available_now(out, "session_windows_t", "complete")
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM session_windows_t").collect()
    }
    expect = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in stream_session_windows(
            batch, "ts", gap="5 minutes", key_cols=["user_id"],
            value_col="value",
        ).collect()
    }
    assert got == expect
    assert len(got) > 100


def test_stream_dedup_within_watermark_drops_replays(spark, sf_dir, events_dir):
    """A replayed batch (every row duplicated) must dedup back to the
    distinct row set while the duplicates fall inside the watermark."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import shutil as _sh
    import tempfile as _tf

    from erigon_extract_spark.streaming import stream_dedup_within_watermark

    base = normalize_event_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).select("user_id", "event_id", "ts")
    d = _tf.mkdtemp(prefix="events_replay_")
    try:
        # two identical files = an at-least-once source replaying the batch
        base.unionAll(base).coalesce(1).write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(base.schema).parquet(d)
        out = stream_dedup_within_watermark(
            stream, ["user_id", "event_id"], watermark_col="ts",
            watermark_delay="1 hour",
        )
        _run_available_now(out, "dedup_wm_t", "append")
        n = spark.sql("SELECT COUNT(*) AS n FROM dedup_wm_t").collect()[0].n
        assert n == base.count()
    finally:
        _sh.rmtree(d, ignore_errors=True)


def test_streaming_changeset_ingest_matches_batch_state(spark, tmp_path):
    """The DOMAIN pipeline in streaming form: account changesets arrive as
    a file stream, the Arrow decode UDF + code-hash recovery run inside
    the stream, and stream_latest_state maintains the running account
    state — which must equal the batch as-of state at the tip."""
    from erigon_extract_spark import fixture_store
    from erigon_extract_spark.plans.extract import (
        decode_account_changesets,
        recover_code_hashes,
    )
    from erigon_extract_spark.schemas import ACCOUNT_CHANGESETS, PLAIN_CODE_HASH
    from erigon_extract_spark.streaming import stream_latest_state

    d = str(fixture_store.ensure())
    pch = spark.read.schema(PLAIN_CODE_HASH).parquet(f"{d}/plain_code_hash.parquet")

    # the file stream source needs a DIRECTORY
    stream_dir = tmp_path / "acs_stream"
    stream_dir.mkdir()
    shutil.copy(
        f"{d}/account_changesets.parquet",
        str(stream_dir / "account_changesets.parquet"),
    )
    stream = spark.readStream.schema(ACCOUNT_CHANGESETS).parquet(str(stream_dir))
    decoded = recover_code_hashes(
        decode_account_changesets(stream).drop("decode_error"), pch
    )
    out = stream_latest_state(
        decoded,
        key_cols=["address"],
        version_col="block",
        value_cols=["nonce", "balance", "incarnation", "code_hash"],
    )
    _run_available_now(out, "changeset_state_t", "complete")
    got = {
        bytes(r.address): (r.block, r.nonce, bytes(r.balance), r.incarnation,
                           bytes(r.code_hash))
        for r in spark.sql("SELECT * FROM changeset_state_t").collect()
    }

    batch = spark.read.schema(ACCOUNT_CHANGESETS).parquet(
        f"{d}/account_changesets.parquet"
    )
    bdec = recover_code_hashes(
        decode_account_changesets(batch).drop("decode_error"), pch
    )
    from erigon_extract_spark.operators.asof import state_at

    expect = {
        bytes(r.address): (r.block, r.nonce, bytes(r.balance), r.incarnation,
                           bytes(r.code_hash))
        for r in state_at(
            bdec, ["address"], "block", as_of=10**9,
            value_cols=["nonce", "balance", "incarnation", "code_hash"],
        ).collect()
    }
    assert got == expect and len(got) > 0


def test_stream_cms_equals_batch_sketch(spark, sf_dir, events_dir):
    """Sketch linearity under streaming: the running (i, b, cnt) state
    after an availableNow pass equals the batch sketch of the same data —
    and the state is depth x width cells regardless of key cardinality."""
    from erigon_extract_spark.operators.sketch import cms_build
    from erigon_extract_spark.streaming.latest_state import stream_cms

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    out = stream_cms(stream, "user_id", depth=3, width=32)
    _run_available_now(out, "cms_t", "complete")
    got = {
        (r.i, r.b): r.cnt for r in spark.sql("SELECT * FROM cms_t").collect()
    }
    expect = {
        (r.i, r.b): r.cnt
        for r in cms_build(batch, "user_id", depth=3, width=32).collect()
    }
    assert got == expect
    assert len(got) <= 3 * 32


def test_stream_hll_equals_batch_sketch(spark, sf_dir, events_dir):
    """Register-max monotonicity under streaming: the running (bucket, r)
    state after an availableNow pass equals the batch HLL of the same
    data — and state is <= m registers regardless of key cardinality."""
    from erigon_extract_spark.operators.sketch import hll_build, hll_estimate
    from erigon_extract_spark.streaming.latest_state import stream_hll

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    out = stream_hll(stream, "user_id", m=64)
    _run_available_now(out, "hll_t", "complete")
    got = {
        (r.bucket, r.r)
        for r in spark.sql("SELECT * FROM hll_t").collect()
    }
    expect = {
        (r.bucket, r.r)
        for r in hll_build(batch, "user_id", m=64).collect()
    }
    assert got == expect
    assert len(got) <= 64
    # the estimate off the streaming state tracks the true cardinality —
    # at n << m this is HLL's linear-counting regime, the correction the
    # operator documents as caller-side (libm ln isn't hash-portable):
    # est_lc = m * ln(m / zeros)
    import math

    sk = spark.sql("SELECT * FROM hll_t")
    (est_row,) = hll_estimate(sk, m=64).collect()
    truth = batch.select("user_id").distinct().count()
    est_lc = 64 * math.log(64 / est_row.zeros)
    assert abs(est_lc - truth) / truth < 0.35


def test_stream_bloom_equals_batch_sketch(spark, sf_dir, events_dir):
    """bit_or monotonicity under streaming: the running (word, bits)
    state after an availableNow pass equals the batch Bloom of the same
    keys, and membership verdicts off the streaming state are exact for
    members (no false negatives ever)."""
    from erigon_extract_spark.operators.sketch import (
        bloom_build,
        bloom_maybe_contains,
    )
    from erigon_extract_spark.streaming.latest_state import stream_bloom

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(events_dir)
    out = stream_bloom(stream, "user_id", m_bits=1 << 12, k=4)
    _run_available_now(out, "bloom_t", "complete")
    got = {
        (r.word, r.bits)
        for r in spark.sql("SELECT * FROM bloom_t").collect()
    }
    expect = {
        (r.word, r.bits)
        for r in bloom_build(batch, "user_id", m_bits=1 << 12, k=4).collect()
    }
    assert got == expect
    # every key that streamed through reports maybe=True off the state
    members = batch.select("user_id").distinct()
    verdicts = bloom_maybe_contains(
        spark.sql("SELECT * FROM bloom_t"), members, "user_id",
        m_bits=1 << 12, k=4,
    ).collect()
    assert all(r.maybe for r in verdicts)


def test_stream_ohlc_matches_batch(spark, sf_dir, events_dir):
    """availableNow streaming OHLC == the same builder run in batch ==
    the registered batch rollup's bars (open/close/high/low/count) —
    struct-ordered open/close make replay bit-identical, not just
    approximately right."""
    from erigon_extract_spark.streaming import stream_ohlc

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = normalize_event_ts(batch_raw)
    stream = normalize_event_ts(
        spark.readStream.schema(batch_raw.schema).parquet(events_dir)
    )
    args = dict(
        time_col="ts", value_col="value", id_col="event_id",
        group_cols=["user_id"],
    )
    _run_available_now(stream_ohlc(stream, **args), "ohlc_t", "complete")
    key = lambda r: (r.user_id, r.window_start)
    val = lambda r: (r.open, r.high, r.low, r.close, r.n_events)
    got = {key(r): val(r) for r in spark.sql("SELECT * FROM ohlc_t").collect()}
    expect = {key(r): val(r) for r in stream_ohlc(batch, **args).collect()}
    assert got == expect and len(got) > 100

    # and the batch rollup query agrees on every overlapping column
    from erigon_extract_spark.queries import QUERIES

    q = {
        (r.user_id, r.hour): (r.open, r.high, r.low, r.close, r.n_events)
        for r in QUERIES["events_ohlc_hourly"](spark, sf_dir).collect()
    }
    got_rounded = {
        k: (round(o, 6), round(h, 6), round(lo, 6), round(c, 6), n)
        for k, (o, h, lo, c, n) in got.items()
    }
    assert got_rounded == q
