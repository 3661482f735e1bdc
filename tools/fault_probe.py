#!/usr/bin/env python
"""Task-retry purity probe: operators must be idempotent under Spark's
task re-execution.

At 1000 executors, task retries are not an edge case — they are steady
state (preemption, spot loss, stragglers re-launched by speculation).
Spark's recovery model assumes every task is a pure function of its
input split: a retried task recomputes and its output REPLACES the
failed attempt's. An operator that breaks that assumption (mutable
closure state, attempt-dependent output, batch-boundary-sensitive
results that change when a retry re-batches) produces silently wrong
results only on clusters — never on a retry-free local[32] run, which
is exactly why no prior ledger could catch it.

This probe injects a one-shot failure into the FIRST attempt of one
task (via a pass-through ``mapInPandas`` tap that consults
``TaskContext.attemptNumber()``) underneath representative Arrow-kernel
and shuffle operators, on a ``local[8,2]`` master (the second slot is
``maxFailures`` — plain ``local[N]`` fails fast and never retries).
Each operator's output with the injected retry must equal the
undisturbed run exactly.

Covered operators: the account-changeset decode (an Arrow UDF above the
tap), the state-history build (the transpose's range shuffle and the
re-key window above the tap), both over the raw fixture tables from
``fixture_store.ensure()``, and exact dedup (hash agg above the tap).

Usage: python tools/fault_probe.py [sf_dir]
Prints one PASS/FAIL line per operator and exits nonzero on any FAIL.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def flaky_tap(df, schema, acc):
    """Pass-through mapInPandas that fails the first attempt of the
    first task — forcing exactly one task retry per action. ``acc``
    counts RETRIED attempts (attemptNumber > 0) so the caller can PROVE
    a retry actually executed: counting the raise itself would be
    vacuous, because Spark discards accumulator updates from FAILED
    tasks — only the successful retry's update survives."""

    def tap(batches):
        from pyspark import TaskContext

        tc = TaskContext.get()
        if tc is not None and tc.partitionId() == 0:
            if tc.attemptNumber() == 0:
                raise RuntimeError("injected first-attempt failure")
            acc.add(1)
        yield from batches

    return df.mapInPandas(tap, schema=schema)


def rows(df):
    return sorted(map(tuple, df.collect()))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from erigon_extract_spark.session import get_spark

    # local[8,2]: 8 threads, maxFailures=2 — one retry budget, which is
    # exactly what the injected one-shot failure consumes
    spark = get_spark(app_name="fault_probe", master="local[8,2]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    from erigon_extract_spark import fixture_store
    from erigon_extract_spark.operators.dedup import exact_dedup
    from erigon_extract_spark.plans.extract import (
        decode_account_changesets,
        decode_storage_changesets,
    )
    from erigon_extract_spark.plans.transpose import build_state_history

    raw = fixture_store.ensure()
    acs = spark.read.parquet(f"{raw}/account_changesets.parquet")
    scs = spark.read.parquet(f"{raw}/storage_changesets.parquet")
    acs_schema = "block long, address binary, account_blob binary"

    def history(acs_df):
        return build_state_history(
            decode_account_changesets(acs_df).drop("decode_error"),
            decode_storage_changesets(scs).drop("decode_error"),
        )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    doc_schema = "doc_id long, text string"

    n_fail = 0
    acc = spark.sparkContext.accumulator(0)

    def check(name, clean_df, flaky_df):
        nonlocal n_fail
        want = rows(clean_df)
        before = acc.value
        got = rows(flaky_df)
        injected = acc.value - before
        ok = want == got and len(want) > 0 and injected >= 1
        print(f"{'PASS' if ok else 'FAIL'} {name}: "
              f"{len(got)} rows (clean {len(want)}), "
              f"{injected} retried tasks", flush=True)
        n_fail += not ok

    check(
        "decode_account_changesets",
        decode_account_changesets(acs),
        decode_account_changesets(flaky_tap(acs, acs_schema, acc)),
    )
    check(
        "build_state_history",
        history(acs),
        history(flaky_tap(acs, acs_schema, acc)),
    )
    check(
        "exact_dedup",
        exact_dedup(docs),
        exact_dedup(flaky_tap(docs, doc_schema, acc)),
    )

    print(f"== {'ALL PASS' if not n_fail else f'{n_fail} FAIL'} ==",
          flush=True)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
