"""Strict build + store write: every violation raises its named
AssertionViolation before anything is committed, a store already at the
output path survives a failed build byte for byte, a passing build
replaces it, the manifest counts come from the write job itself, and the
checks cost one extra Spark job (the PlainState key-length pre-check)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from erigon_extract_spark import fixture_store
from erigon_extract_spark import fixtures as fxmod
from erigon_extract_spark.operators.asserts import AssertionViolation
from erigon_extract_spark.plans.pipeline import (
    PipelineTables,
    build_full_history,
    write_full_history,
)
from erigon_extract_spark.schemas import (
    ACCOUNT_CHANGESETS,
    PLAIN_CODE_HASH,
    PLAIN_STATE,
    STORAGE_CHANGESETS,
    SYNC_STAGE,
)
from erigon_extract_spark.sources.tables import read_manifest, read_table

SCHEMAS = {
    "sync_stage": SYNC_STAGE,
    "account_changesets": ACCOUNT_CHANGESETS,
    "storage_changesets": STORAGE_CHANGESETS,
    "plain_state": PLAIN_STATE,
    "plain_code_hash": PLAIN_CODE_HASH,
}
BAD_ADDRESS = b"\xee" * 20


@pytest.fixture(scope="module")
def fx():
    return fxmod.generate(seed=5, n_addresses=12, n_blocks=300, n_body_blocks=10)


def make_tables(spark, fx, **extra) -> PipelineTables:
    """The fixture's raw tables, with ``extra`` rows appended per table
    (or the table emptied when ``extra`` maps it to None)."""
    frames = {}
    for name, schema in SCHEMAS.items():
        rows = list(getattr(fx, name))
        if name in extra:
            rows = [] if extra[name] is None else rows + extra[name]
        frames[name] = spark.createDataFrame(rows, schema)
    return PipelineTables(**frames)


def snapshot(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = f.read()
    return out


@pytest.fixture(scope="module")
def committed(spark, fx, tmp_path_factory):
    """A store committed by a passing strict build."""
    out = str(tmp_path_factory.mktemp("committed") / "store")
    write_full_history(build_full_history(spark, make_tables(spark, fx), num_partitions=2), out)
    return out


@pytest.mark.parametrize(
    "name, extra",
    [
        ("account decode", {"account_changesets": [(1, BAD_ADDRESS, b"\x10")]}),
        ("storage decode", {"storage_changesets": [(1, BAD_ADDRESS, 1, b"\x01" * 31)]}),
        ("storage decode", {"storage_changesets": [(1, BAD_ADDRESS, 1, b"\x01" * 65)]}),
        ("plain_state key lengths", {"plain_state": [(b"\x01" * 21, b"", 5)]}),
        (
            "code-hash consistency",
            {"account_changesets": [
                (1, BAD_ADDRESS, fxmod.encode_account_blob(1, 0, 0, b"\x11" * 32))
            ]},
        ),
    ],
)
def test_violation_raises_and_commits_nothing(spark, fx, committed, tmp_path, name, extra):
    out = str(tmp_path / "store")
    shutil.copytree(committed, out)
    before = snapshot(out)
    with pytest.raises(AssertionViolation) as err:
        sh = build_full_history(spark, make_tables(spark, fx, **extra), num_partitions=2)
        write_full_history(sh, out, num_partitions=2)
    assert err.value.name == name
    assert len(err.value.sample_rows) >= 1
    assert snapshot(out) == before
    assert os.listdir(tmp_path) == ["store"]  # no staging directory left


def test_passing_build_replaces_store(spark, fx, committed, tmp_path):
    out = str(tmp_path / "store")
    shutil.copytree(committed, out)
    with open(os.path.join(out, "stale.parquet"), "wb") as f:
        f.write(b"not parquet")
    sh = build_full_history(spark, make_tables(spark, fx), num_partitions=2)
    manifest = write_full_history(sh, out, num_partitions=2)
    assert "stale.parquet" not in os.listdir(out)
    assert read_manifest(spark, out) == manifest
    assert manifest["counts"]["total"] == spark.read.parquet(out).count()
    assert os.listdir(tmp_path) == ["store"]


def test_empty_changeset_table_builds(spark, fx, tmp_path):
    """A counter that no row reaches reports no metrics: not a violation."""
    out = str(tmp_path / "store")
    sh = build_full_history(
        spark, make_tables(spark, fx, storage_changesets=None), num_partitions=2
    )
    manifest = write_full_history(sh, out, num_partitions=2)
    assert manifest["counts"]["total"] == spark.read.parquet(out).count() > 0


def test_manifest_counts_equal_store_counts(spark, fx, tmp_path):
    """The per-kind counters run once per row written: below the range
    shuffle the sampling job would count rows twice."""
    out = str(tmp_path / "store")
    sh = build_full_history(spark, make_tables(spark, fx), num_partitions=4)
    manifest = write_full_history(sh, out, num_partitions=4)
    by_kind = spark.read.parquet(out).groupBy("kind").count().collect()
    want = {f"kind_{r['kind']}": r["count"] for r in by_kind}
    want["total"] = sum(want.values())
    assert manifest["counts"] == want


def test_strict_checks_cost_one_job(spark, tmp_path):
    """A strict build + write runs exactly one job more than a lax one: the
    PlainState key-length pre-check. The other checks ride on the write."""
    src = str(fixture_store.ensure())
    tables = PipelineTables(
        sync_stage=spark.createDataFrame([], SYNC_STAGE),
        **{n: read_table(spark, f"{src}/{n}.parquet", n) for n in fixture_store.RAW_TABLES},
    )
    sc = spark.sparkContext

    def jobs(strict: bool) -> int:
        group = f"strict-build-{strict}"
        sc.setJobGroup(group, group)
        try:
            sh = build_full_history(spark, tables, num_partitions=2, strict=strict)
            write_full_history(sh, str(tmp_path / f"store-{strict}"), num_partitions=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    lax = jobs(False)
    assert jobs(True) == lax + 1


def test_lax_build_skips_checks(spark, fx, tmp_path):
    bad = {"account_changesets": [(1, BAD_ADDRESS, b"\x10")]}
    sh = build_full_history(spark, make_tables(spark, fx, **bad), num_partitions=2, strict=False)
    write_full_history(sh, str(tmp_path / "store"), num_partitions=2)
    assert spark.read.parquet(str(tmp_path / "store")).filter(
        F.col("address") == BAD_ADDRESS
    ).count() >= 1
