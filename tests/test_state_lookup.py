"""The keyed store lookup answered on the driver (plans/state.py) against
Spark's batch ``state_at`` over the same multi-segment Parquet store: every
key, at blocks before, inside and after its history, for accounts and
storage (several incarnations, zero tombstones, unknown keys)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from erigon_extract_spark import fixtures as fxmod
from erigon_extract_spark.plans import state
from erigon_extract_spark.plans.state import account_state_at, storage_state_at
from erigon_extract_spark.schemas import STATE_HISTORY, STATE_HISTORY_KEY
from erigon_extract_spark.sources.tables import write_sorted_parquet

UNKNOWN = b"\xee" * 20


@pytest.fixture(scope="module")
def fx():
    return fxmod.generate(seed=42, n_addresses=18, n_blocks=250, n_body_blocks=40)


@pytest.fixture(scope="module")
def store(spark, fx, tmp_path_factory):
    """Three segments split on block_from, the way appends grow a store;
    the last one is written with tiny row groups so pruning inside a file
    is exercised too."""
    rows = fxmod.expected_state_history(fx)
    root = tmp_path_factory.mktemp("store")
    cuts = [(-1, 80), (80, 160), (160, 10**9)]
    dirs = []
    for i, (lo, hi) in enumerate(cuts):
        seg = spark.createDataFrame([r for r in rows if lo < r[4] <= hi], STATE_HISTORY)
        path = str(root / f"seg{i}")
        if i < 2:
            write_sorted_parquet(seg, path, STATE_HISTORY_KEY, num_partitions=2)
        else:
            (seg.repartition(1).sortWithinPartitions(*STATE_HISTORY_KEY)
             .write.option("parquet.block.size", 1024).parquet(path))
        dirs.append(path)
    df = spark.read.parquet(*dirs)
    files = state._local_parquet_files(df)
    assert files and len(files) >= 3
    assert max(pq.ParquetFile(f).num_row_groups for f in files) > 1
    return df


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _schema(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


def test_keyed_lookup_matches_batch_state_at_on_every_key(store, fx):
    rows = fxmod.expected_state_history(fx)
    addresses = sorted({r[0] for r in rows}) + [UNKNOWN]
    first = {}  # storage key -> block of its first version
    for r in rows:
        if r[1] == 1:
            first[r[0], r[2], r[3]] = min(first.get((r[0], r[2], r[3]), r[4]), r[4])
    late = sorted(k for k, b in first.items() if b > 0)
    probed = set(late) | set(sorted(first)[::15])
    blocks = sorted({-1, 0, 79, 80, 81, 160, 200, fx.latest_block + 5}
                    | {first[k] - 1 for k in late[::4]})
    seen = {"tombstone": 0, "multi_inc": 0, "before_first": 0, "miss": 0}
    for block in blocks:
        batch_a = account_state_at(store, block)
        batch_s = storage_state_at(store, block)
        want_a, want_s = _rows(batch_a), _rows(batch_s)
        for addr in addresses:
            got = account_state_at(store, block, addr)
            assert _schema(got) == _schema(batch_a)
            assert _rows(got) == [r for r in want_a if r[0] == addr], (addr.hex(), block)

            got = storage_state_at(store, block, addr)
            assert _schema(got) == _schema(batch_s)
            want = [r for r in want_s if r[0] == addr]
            assert _rows(got) == want, (addr.hex(), block)
            seen["tombstone"] += any(r[4] == bytes(32) for r in want)
            seen["multi_inc"] += len({r[1] for r in want}) > 1
            seen["miss"] += not want
            for a, inc, slot in sorted(k for k in probed if k[0] == addr):
                got = _rows(storage_state_at(store, block, addr, slot))
                assert got == [r for r in want if r[2] == slot], (addr.hex(), slot.hex(), block)
                seen["before_first"] += block < first[a, inc, slot]
    assert all(seen.values()), seen


def test_keyed_lookup_is_a_local_relation_without_jobs(spark, store, fx):
    addr = fxmod.expected_state_history(fx)[0][0]
    sc = spark.sparkContext
    sc.setJobGroup("driver-lookup", "driver-lookup")
    try:
        q = account_state_at(store, 100, addr)
        assert q._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"
        assert q.collect()
        assert storage_state_at(store, 100, addr).collect() is not None
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup("driver-lookup") == []


def test_other_inputs_keep_the_spark_plan(spark, store, fx):
    """Filtered, in-memory and un-keyed inputs run operators.asof.state_at
    (a shuffle aggregate), with the same answer as the driver path."""
    rows = fxmod.expected_state_history(fx)
    addr = rows[0][0]
    in_memory = spark.createDataFrame(rows, STATE_HISTORY)
    filtered = store.filter("block_from >= 0")
    for df in (in_memory, filtered):
        assert state._local_parquet_files(df) is None
        q = account_state_at(df, 100, addr)
        assert "Aggregate" in q._jdf.queryExecution().analyzed().toString()
        assert _rows(q) == _rows(account_state_at(store, 100, addr))
    batch = account_state_at(store, 100)
    assert "Aggregate" in batch._jdf.queryExecution().analyzed().toString()

