"""Archive benchmark: batch ETL with as-of point lookups, and incremental appends.

Run from the repository root:

    python3 archbench/run.py --workload build --seed 1 --seconds 30 --trace 0

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (and writes every span
to ``.archbench_out/``). The workloads, what each metric means on each of
them, and which layer should move which metric are in ``README.md`` beside
this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

E2E = {
    "setup_s": "s",
    "primary_p50_ms": "ms",
    "primary_tail_ms": "ms",
    "secondary_mid_ms": "ms",
    "secondary_tail_ms": "ms",
    "bytes_per_row": "B/row",
    "ok_frac": "fraction",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("build", "increment"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: minimal inputs that only exercise every path "
                        "(archbench/smoke.py)")
    return p.parse_args(argv)


def driver_memory_mb() -> int:
    """A quarter of physical memory, between 1 and 4 GiB: the inputs are a
    few MB and the machine is shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return max(1024, min(4096, total_kb // 1024 // 4))


def configure_runtime(work: Path) -> dict:
    """Environment for Spark, set before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    runtime = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_memory_mb()}m",
        # Spark's Python workers start from the JVM's environment, not
        # from this script's sys.path
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
    }
    os.environ.update(runtime)
    sys.path.insert(0, str(ROOT))
    return runtime


def spark_conf(work: Path) -> dict[str, str]:
    tmp = work / "tmp"
    return {
        # progress bars splice \r lines into standard output
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(b) -> dict[str, float]:
    from archbench.workloads import mid, tail

    prim = [t for _, t in b.primary]
    sec = [t for _, t in b.secondary]
    return {
        "setup_s": b.setup_s,
        "primary_p50_ms": statistics.median(prim) * 1e3,
        "primary_tail_ms": tail(prim) * 1e3,
        "secondary_mid_ms": mid(sec) * 1e3,
        "secondary_tail_ms": tail(sec) * 1e3,
        "bytes_per_row": b.per_layer["bytes_per_row"],
        "ok_frac": 1 - b.failed / b.attempted,
    }


def _div(a, b):
    return a / b if b else 0.0


# Operations whose traced and untraced runs do the same work, to measure
# the tracing overhead on: every build is alike; the two appends are not
# (a derived and the real tip snapshot), so on increment the fresh lookups
# stand in.
OVERHEAD_OF = {"build": "primary", "increment": "secondary"}


def per_layer(b, workload: str) -> dict[str, tuple[float, str]]:
    tr = b.tracer
    L = tr.layer
    dec, rec, chk = L("functions.decode"), L("plans.extract.recover"), L("plans.extract.check")
    tp, wr, man = L("plans.transpose"), L("sources.tables.write"), L("sources.tables.manifest")
    enc, pl, st = L("codec.refstream.encode"), L("codec.refstream.point_lookup"), L("plans.state.lookup")
    der, seam = L("plans.incremental.derive_snapshot"), L("plans.incremental.seam_check")
    cnt = L("bench.count")["counts"]
    # per traced primary operation (a build, an append; lookups are per lookup)
    ops = sum(1 for traced, _ in b.primary if traced)
    tot = tr.totals()
    calls = tot["calls"]
    archive = b.per_layer.get("archive")
    ops_for_overhead = getattr(b, OVERHEAD_OF[workload])
    untraced = [t for traced, t in ops_for_overhead if not traced]
    traced = [t for traced, t in ops_for_overhead if traced]
    m = {
        "functions.decode.self_s": (_div(dec["self_s"], ops), "s"),
        "functions.decode.rows_per_s": (_div(dec["counts"].get("rows", 0), dec["self_s"]), "rows/s"),
        "plans.extract.recover_s": (_div(rec["self_s"], ops), "s"),
        "plans.extract.recovered_frac": (
            _div(cnt.get("needs_recovery", 0) - cnt.get("unrecovered", 0),
                 cnt.get("needs_recovery", 0)), "fraction"),
        "plans.extract.check_s": (_div(chk["self_s"], ops), "s"),
        "plans.extract.check_jobs": (_div(chk["jobs"], ops), "count"),
        "plans.transpose.self_s": (_div(tp["self_s"], ops), "s"),
        "plans.transpose.shuffle_write_bytes": (_div(tp["shuffle_write_bytes"], ops), "B"),
        "plans.transpose.shuffle_read_bytes": (_div(tp["shuffle_read_bytes"], ops), "B"),
        "plans.transpose.partition_skew": (
            _div(cnt.get("skew_max", 0), cnt.get("skew_median", 0)), "ratio"),
        "sources.tables.write_s": (_div(wr["self_s"], ops), "s"),
        "sources.tables.bytes_written": (_div(wr["counts"].get("bytes", 0), ops), "B"),
        "sources.tables.files": (_div(wr["counts"].get("files", 0), ops), "count"),
        "sources.tables.manifest_s": (_div(man["self_s"], ops), "s"),
        "codec.refstream.encode_items_per_s": (
            _div(enc["counts"].get("items", 0), enc["self_s"]), "1/s"),
        "codec.refstream.pages": (archive[2] if archive else 0, "count"),
        "codec.refstream.archive_bytes_per_item": (
            _div(archive[1], archive[0]) if archive else 0, "B/item"),
        "codec.refstream.page_probes_per_lookup": (
            _div(pl["counts"].get("page_probes", 0), pl["spans"]), "count"),
        "codec.refstream.pages_decoded_per_lookup": (
            _div(pl["counts"].get("pages_decoded", 0), pl["spans"]), "count"),
        "codec.refstream.bytes_read_per_lookup": (
            _div(pl["counts"].get("bytes_read", 0), pl["spans"]), "B"),
        "plans.state.jobs_per_lookup": (_div(st["jobs"], st["spans"]), "count"),
        "plans.state.tasks_per_lookup": (_div(st["tasks"], st["spans"]), "count"),
        "plans.state.input_bytes_per_lookup": (_div(st["input_bytes"], st["spans"]), "B"),
        "plans.incremental.derive_snapshot_s": (_div(der["self_s"], ops), "s"),
        "plans.incremental.seam_check_s": (_div(seam["self_s"], ops), "s"),
        "plans.incremental.delta_rows": (
            _div(b.per_layer.get("delta_rows", 0), len(b.primary)), "count"),
        "plans.incremental.segments": (b.per_layer.get("segments", 0), "count"),
        "session.jobs": (_div(tot["jobs"], calls), "count"),
        "session.tasks": (_div(tot["tasks"], calls), "count"),
        "session.task_time_s": (_div(tot["task_time_ms"] / 1e3, calls), "s"),
        "session.gc_s": (_div(tot["gc_ms"] / 1e3, calls), "s"),
        "trace.overhead_frac": (
            _div(statistics.median(traced), statistics.median(untraced)) - 1
            if traced and untraced else 0, "fraction"),
    }
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".archbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    runtime = configure_runtime(work)
    spark = None
    try:
        try:
            from archbench import workloads as wl
            from erigon_extract_spark.session import get_spark
        except ImportError as e:
            print(f"archbench: cannot import the program under test: {e}", file=sys.stderr)
            return 2
        t0 = time.perf_counter()
        spark = get_spark(app_name="archbench", extra_conf=spark_conf(work))
        session_s = time.perf_counter() - t0
        b = wl.Bench(
            spark=spark, work=str(work), seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), sizes=wl.SCALES[args.scale],
            nproc=int(runtime["SPARK_GRAFT_CPUS"]), setup_s=session_s,
        )
        if b.trace:
            from archbench.trace import Tracer

            b.tracer = Tracer(spark)
        wl.WORKLOADS[args.workload](b)
        b.log("workload done")
        if args.trace:
            metrics = per_layer(b, args.workload)
            out = ROOT / ".archbench_out"
            out.mkdir(exist_ok=True)
            trace_path = out / f"trace-{args.workload}-seed{args.seed}.json"
            b.tracer.dump(str(trace_path), {
                "runtime": runtime,
                "layers": {k: v[0] for k, v in metrics.items()},
            })
            print(f"archbench: trace written to {trace_path}")
        else:
            metrics = {k: (v, E2E[k]) for k, v in end_to_end(b).items()}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    b.log("session stopped")
    print("archbench: runtime " + json.dumps(
        {**runtime, "session_start_s": round(session_s, 3)}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
