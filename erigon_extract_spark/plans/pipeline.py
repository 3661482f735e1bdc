"""End-to-end pipeline orchestration — the engine's equivalent of the
reference's CLI entry point (erigon_extract.c:2595-2782) in full-history
mode and pruned mode (-P: last 90,000 blocks, erigon_extract.c:2721-2726),
driven from the raw tables to the sorted state-history store + manifest.

A user of the reference runs `erigon_extract [-P] <chaindata>`; a user
here calls ``build_full_history(spark, tables, prune=...)`` and then
``write_full_history(sh, out_path)``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from erigon_extract_spark.operators.asserts import AssertionViolation, assert_empty
from erigon_extract_spark.plans.extract import (
    code_hash_inconsistent,
    decode_account_changesets,
    decode_storage_changesets,
    plain_state_malformed,
    recover_code_hashes,
    split_plain_state,
)
from erigon_extract_spark.plans.transpose import build_state_history
from erigon_extract_spark.schemas import STATE_HISTORY_KEY
from erigon_extract_spark.sources import tables as tables_mod

PRUNE_WINDOW = 90_000  # reference README.md:24-27


@dataclass
class PipelineTables:
    sync_stage: DataFrame
    account_changesets: DataFrame
    storage_changesets: DataFrame
    plain_state: DataFrame
    plain_code_hash: DataFrame


@dataclass(frozen=True)
class StrictCheck:
    """A strict check that rides on the build instead of running its own
    job: ``counter`` counts the violating rows during the first action on
    the built frame; ``violations`` is a query for them, run with
    ``assert_empty`` only once the count is not zero."""

    name: str
    counter: Observation
    violations: DataFrame

    def failed(self) -> bool:
        # below a range shuffle the sampling job runs the counter too, so
        # it may count a row twice: compare with zero only
        return bool(tables_mod.observed_metrics(self.counter).get("violations"))


def _counted(df: DataFrame, name: str, bad: Column, checks: list[StrictCheck]) -> DataFrame:
    """``df`` with a counter of its rows where ``bad`` holds; appends the
    check to ``checks``."""
    counter = Observation()
    checks.append(StrictCheck(name, counter, df.filter(bad)))
    return df.observe(counter, F.count_if(bad).alias("violations"))


def latest_block(tables: PipelineTables) -> int:
    """S1/A4: the pipeline's upper bound — SyncStage["Execution"]
    (erigon_extract.c:1435-1467), falling back to max(block) in the data."""
    row = (
        tables.sync_stage.filter(F.col("stage_name") == "Execution")
        .select("block")
        .first()
    )
    if row is not None:
        return row["block"]
    return tables.account_changesets.agg(F.max("block")).first()[0]


def build_full_history(
    spark: SparkSession,
    tables: PipelineTables,
    prune: bool = False,
    num_partitions: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """Raw tables → sorted state_history (the reference's stages A+C+D+E).

    prune=True keeps only the trailing PRUNE_WINDOW blocks of history
    (earliest = latest - 90000 + 1), exactly the reference's -P semantics.

    strict=True enforces the reference's abort-on-violation invariants.
    Only the PlainState key-length check runs here, as its own job: it
    reads raw keys, and ``split_plain_state`` drops malformed keys, so no
    later counter could see them. Account-blob decode errors, the
    code-hash consistency rule and storage-blob decode errors are counted
    on the returned frame itself and raise in ``write_full_history``,
    before anything is committed; the frame carries them as
    ``strict_checks``, so pass it to ``write_full_history`` as returned.
    A counter keeps what the first action on the frame saw (Spark's
    ``Observation``), so run no partial action on it (``show``, ``take``,
    ``limit``) before the write; one that reads every row (``count``, a
    ``persist`` + ``count``) is fine. strict=False skips all four checks.
    """
    latest = latest_block(tables)
    earliest = latest - PRUNE_WINDOW + 1 if prune else None
    checks: list[StrictCheck] = []

    if strict:
        assert_empty(
            plain_state_malformed(tables.plain_state), "plain_state key lengths"
        )

    acct = decode_account_changesets(
        tables.account_changesets, block_start=earliest, block_end=latest
    )
    if strict:
        acct = _counted(acct, "account decode", F.col("decode_error").isNotNull(), checks)
    acct = recover_code_hashes(acct.drop("decode_error"), tables.plain_code_hash)
    if strict:
        acct = _counted(acct, "code-hash consistency", code_hash_inconsistent(), checks)

    stor = decode_storage_changesets(
        tables.storage_changesets, block_start=earliest, block_end=latest
    )
    if strict:
        stor = _counted(stor, "storage decode", F.col("decode_error").isNotNull(), checks)
    stor = stor.drop("decode_error")

    ps_a, ps_s = split_plain_state(tables.plain_state)
    ps_acct = recover_code_hashes(
        decode_account_changesets(ps_a).drop("decode_error"),
        tables.plain_code_hash,
    )
    ps_stor = decode_storage_changesets(ps_s).drop("decode_error")

    sh = build_state_history(
        acct, stor, ps_acct, ps_stor, num_partitions=num_partitions
    )
    sh.strict_checks = checks
    return sh


def write_full_history(
    sh: DataFrame, out_path: str, num_partitions: int | None = None
) -> dict:
    """Persist the state history sorted (Parquet row-group stats = the
    seekable-pages property) with its counts manifest (K3, with the
    reference's words[6] double-assignment defect fixed by construction),
    and return the manifest.

    One job writes the store and, on the way, runs the strict checks of a
    ``build_full_history(strict=True)`` frame and counts the rows per
    kind. The commit protocol:

    1. Write to a hidden staging directory beside ``out_path``.
    2. If any check counted a violation: delete the staging directory,
       re-run that check's query and raise its ``AssertionViolation``
       (name and sample rows). Only this failure path pays a second job.
    3. Otherwise write ``_manifest.json`` (the counts from the write job)
       into the staging directory and publish it at ``out_path`` by
       rename; a store already there is replaced only at this point.

    A failed write, check or rename leaves a store already at
    ``out_path`` as it was and removes the staging directory.
    """
    spark = sh.sparkSession
    checks = getattr(sh, "strict_checks", [])
    staging = tables_mod.sibling_path(out_path, "staging")
    counts = Observation()
    try:
        tables_mod.write_sorted_parquet(
            sh, staging, sort_cols=STATE_HISTORY_KEY,
            num_partitions=num_partitions, counts=counts,
        )
        failed = [c for c in checks if c.failed()]
        if not failed:
            manifest = tables_mod.write_manifest(
                spark, staging, tables_mod.observed_counts(counts)
            )
            tables_mod.replace_dir(spark, staging, out_path)
            return manifest
    finally:
        tables_mod.remove_dir(spark, staging)
    for check in failed:
        assert_empty(check.violations, check.name)
    raise AssertionViolation(failed[0].name, [])
