"""build_full_history + write_full_history: full and pruned modes, manifest write."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from erigon_extract_spark import fixtures as fxmod
from erigon_extract_spark.plans.pipeline import (
    PipelineTables,
    build_full_history,
    latest_block,
    write_full_history,
)
from erigon_extract_spark.schemas import (
    ACCOUNT_CHANGESETS,
    PLAIN_CODE_HASH,
    PLAIN_STATE,
    STORAGE_CHANGESETS,
    SYNC_STAGE,
)


@pytest.fixture(scope="module")
def tables(spark):
    fx = fxmod.generate(seed=5, n_addresses=12, n_blocks=300, n_body_blocks=10)
    return fx, PipelineTables(
        sync_stage=spark.createDataFrame(fx.sync_stage, SYNC_STAGE),
        account_changesets=spark.createDataFrame(
            fx.account_changesets, ACCOUNT_CHANGESETS
        ),
        storage_changesets=spark.createDataFrame(
            fx.storage_changesets, STORAGE_CHANGESETS
        ),
        plain_state=spark.createDataFrame(fx.plain_state, PLAIN_STATE),
        plain_code_hash=spark.createDataFrame(fx.plain_code_hash, PLAIN_CODE_HASH),
    )


def test_latest_block_from_sync_stage(tables):
    fx, t = tables
    assert latest_block(t) == fx.latest_block


def test_full_mode_matches_oracle_counts(spark, tables):
    fx, t = tables
    sh = build_full_history(spark, t, num_partitions=4)
    expected = fxmod.expected_state_history(fx)
    assert sh.count() == len(expected)


def test_pruned_mode_drops_old_history(spark, tables):
    fx, t = tables
    # PRUNE_WINDOW > n_blocks here, so prune keeps everything — shrink the
    # window via monkeypatching semantics: filter manually instead
    from erigon_extract_spark.plans import pipeline as pl

    old = pl.PRUNE_WINDOW
    pl.PRUNE_WINDOW = 100
    try:
        sh_pruned = build_full_history(spark, t, prune=True, num_partitions=4)
        sh_full = build_full_history(spark, t, num_partitions=4)
        earliest = fx.latest_block - 100 + 1
        # pruned history only re-keys from changes within the window: every
        # retained CHANGE block (non-genesis block_from rows come from
        # in-window changesets or plain-state) respects the bound
        n_pruned, n_full = sh_pruned.count(), sh_full.count()
        assert n_pruned <= n_full
        # values as of latest must agree between full and pruned for
        # accounts changed within the window
        from erigon_extract_spark.plans.state import account_state_at

        at_full = {
            bytes(r["address"]): (r["nonce"], r["incarnation"])
            for r in account_state_at(sh_full, fx.latest_block + 1).collect()
        }
        at_pruned = {
            bytes(r["address"]): (r["nonce"], r["incarnation"])
            for r in account_state_at(sh_pruned, fx.latest_block + 1).collect()
        }
        for addr, v in at_pruned.items():
            assert at_full[addr] == v
    finally:
        pl.PRUNE_WINDOW = old


def test_write_and_manifest(spark, tables):
    fx, t = tables
    sh = build_full_history(spark, t, num_partitions=4)
    out = tempfile.mkdtemp(prefix="full_history_")
    try:
        manifest = write_full_history(sh, out, num_partitions=2)
        assert manifest["counts"]["total"] == sh.count()
        assert manifest["counts"]["kind_0"] > 0
        back = spark.read.parquet(out)
        assert back.count() == sh.count()
        from erigon_extract_spark.sources.tables import read_manifest

        assert read_manifest(spark, out) == manifest
    finally:
        shutil.rmtree(out, ignore_errors=True)
