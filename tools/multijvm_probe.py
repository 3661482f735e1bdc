#!/usr/bin/env python
"""Multi-executor-JVM correctness probe (VERDICT r10 "What's missing" #1).

Every prior correctness artifact runs on ``local[32]``: one JVM, one
process, where closure serialization, broadcast transport, and shuffle
block movement are all short-circuited in-memory. A real cluster crosses
process boundaries for all three — and bugs live exactly there (a
non-serializable closure capture, a broadcast that only worked because
the driver and executor shared a heap, a partitioner whose hash differs
across JVM instances).

Spark's ``local-cluster[N, cores, mem_mb]`` master is the closest
locally-actionable approximation: the driver spawns N REAL worker JVMs
(separate processes, separate heaps), executors register over TCP, task
binaries/broadcasts serialize for real, and shuffle blocks move through
the BlockManager transport rather than a shared reference. It is not
multi-NODE (one kernel, one filesystem, loopback network), so this
probe is evidence about process-boundary correctness, not about network
bandwidth or data locality — SCALE.md says exactly that next to the
ledger.

This probe runs the shuffle-heaviest oracle-backed gate of each family
(see DEFAULT_PROBE) through the IDENTICAL
driver-semantics compare (`run_gate.run_one`: type-tagged cells, column
order, value equality vs the DuckDB oracle) on a 2-worker x 8-core
local-cluster, and writes a driver-format ledger to MULTIJVM.json.

Usage: python tools/multijvm_probe.py [sf_dir] [out.json] [name ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from run_gate import run_one  # noqa: E402

from erigon_extract_spark import queries as q  # noqa: E402
from erigon_extract_spark.session import get_spark  # noqa: E402

# The shuffle/broadcast/serialization-heaviest gate per family — every
# mechanism class that behaves differently across a process boundary:
# range-repartition + window (transpose/rekey), broadcast join, SMJ
# explode join, mapInPandas Arrow batches (the archive's page-task
# reader), salted skew join and session windows.
DEFAULT_PROBE = [
    "erigon_state_history",       # K-way merge via ONE rangepartitioning
    "erigon_chained_increments",  # union + rekey window + broadcast semi
    "erigon_tx_bodies",           # explode(sequence) SMJ + RLP decode
    "j1_lookup_join",             # broadcast hash join
    "ref_dialect_decode",         # Arrow mapInPandas page tasks, map-only
    "join_salted_skew",           # salted two-phase join
    "sessionize_events",          # session windows over event time
]


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    out_path = args[1] if len(args) > 1 else str(
        Path(__file__).resolve().parent.parent / "MULTIJVM.json"
    )
    names = args[2:] or [n for n in DEFAULT_PROBE if n in q.QUERIES]

    # 2 worker JVMs x 8 cores: enough parallelism that every probe query
    # actually splits work across BOTH processes (verified via executor
    # count below), small enough to coexist with the sandbox's memory.
    master = os.environ.get("SPARK_GRAFT_MULTIJVM_MASTER",
                            "local-cluster[2,8,4096]")
    spark = get_spark(
        app_name="multijvm_probe",
        master=master,
        shuffle_partitions=16,
        extra_conf={
            # the probe's point is crossing process boundaries — make
            # sure python workers run under the same interpreter and can
            # import the package for mapInPandas closures
            "spark.pyspark.python": sys.executable,
            "spark.executorEnv.PYTHONPATH":
                str(Path(__file__).resolve().parent.parent),
            # use the worker allocation (default executor heap is 1g);
            # raise via env for 10x-data sweeps (sorts spill, but heap
            # headroom keeps Arrow batches off the GC cliff)
            "spark.executor.memory":
                os.environ.get("SPARK_GRAFT_MULTIJVM_EXEC_MEM", "3g"),
        },
    )
    sc = spark.sparkContext
    # prove the topology is real, from the TASK side: each executor JVM
    # runs its own pyspark daemon, and python workers are forked from
    # that daemon — so distinct worker PARENT pids count executor
    # processes. local[32] would show exactly one.
    daemon_pids = sorted(set(
        sc.parallelize(range(64), 16)
        .map(lambda _: __import__("os").getppid())
        .distinct()
        .collect()
    ))
    # and from the DRIVER side: BlockManagers registered beyond the
    # driver's own (getExecutorMemoryStatus includes the driver)
    n_block_managers = sc._jsc.sc().getExecutorMemoryStatus().size()
    print(f"# master={master} python_daemon_pids={len(daemon_pids)} "
          f"block_managers_incl_driver={n_block_managers}", flush=True)

    ledger: dict[str, dict] = {
        "_meta": {
            "master": master,
            "executor_processes": len(daemon_pids),
            "block_managers_incl_driver": n_block_managers,
            "sf_dir": sf_dir,
            "note": (
                "driver-semantics compare (run_gate.run_one) under real "
                "multi-process executors: separate JVM heaps, TCP "
                "executor registration, serialized closures/broadcasts, "
                "BlockManager shuffle transport. Same kernel/filesystem, "
                "so this is process-boundary evidence, not network "
                "evidence."
            ),
        }
    }
    n_pass = n_fail = 0
    for name in names:
        t0 = time.perf_counter()
        nm, ok, msg = run_one(spark, sf_dir, name)
        dt = time.perf_counter() - t0
        status = "PASS" if ok else "FAIL"
        print(f"{status} {nm}: {msg.splitlines()[0]} [{dt:.1f}s]",
              flush=True)
        ledger[nm] = {"pass": ok, "wall_s": round(dt, 2),
                      "detail": msg.splitlines()[0]}
        n_pass += ok
        n_fail += not ok
    with open(out_path, "w") as fh:
        json.dump(ledger, fh, indent=1)
    print(f"== {n_pass} pass, {n_fail} fail -> {out_path} ==", flush=True)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
