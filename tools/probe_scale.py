"""N-decade scale points for any scale-parameterized probe query:
run it at the given scales and record, per point, wall time AND total
shuffle read/write, disk-spill, and GC from the Spark REST stage
metrics — so a scaling claim rests on measured shuffle VOLUME (the
quantity a plan controls), not wall-clock alone (the quantity the box
controls; identical-code x100 walls spanned 110-419 s under co-tenants
with identical shuffle/spill readings — SCALE.md).

Usage: python tools/probe_scale.py <query> [scales...]  (default 1 10 100)
Generalizes tools/probe_dedup_100x.py to every probe taking ``scale=``
(dedup_scale, curation_scale, erigon_transpose_scale). Emits one JSON
line; per-run detail on stderr.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _api(base: str, path: str):
    with urllib.request.urlopen(f"{base}/api/v1/{path}", timeout=10) as r:
        return json.load(r)


def _stage_totals(spark) -> tuple[int, int, int, int]:
    """Sum shuffle read/write, spill, and GC over ALL completed stages."""
    base = spark.sparkContext.uiWebUrl
    app = _api(base, "applications")[0]["id"]
    rd = wr = sp = gc = 0
    for st in _api(base, f"applications/{app}/stages?status=complete"):
        rd += st.get("shuffleReadBytes", 0)
        wr += st.get("shuffleWriteBytes", 0)
        sp += st.get("diskBytesSpilled", 0)
        gc += st.get("jvmGcTime", 0)
    return rd, wr, sp, gc


def main(query: str, scales: list[int]) -> None:
    from erigon_extract_spark.queries import QUERIES
    from erigon_extract_spark.session import get_spark

    # the package session disables the UI; the REST stage metrics need it
    spark = get_spark(
        app_name=f"probe_scale_{query}",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4057"},
    )
    fn = QUERIES[query]
    # warm codegen/JIT on the smallest point so x1 isn't compile-bound
    fn(spark, "", scale=1).count()

    points = {}
    for s in scales:
        runs = 2 if s < 100 else 1  # min-of-2 sheds the GC tail cheaply
        best, n = float("inf"), 0
        rd0, wr0, sp0, gc0 = _stage_totals(spark)
        for _ in range(runs):
            t0 = time.perf_counter()
            n = fn(spark, "", scale=s).count()
            best = min(best, time.perf_counter() - t0)
        rd1, wr1, sp1, gc1 = _stage_totals(spark)
        points[f"x{s}"] = {
            "sec": round(best, 2),
            "rows": n,
            "shuffle_read_mb": round((rd1 - rd0) / runs / 1e6, 1),
            "shuffle_write_mb": round((wr1 - wr0) / runs / 1e6, 1),
            "disk_spill_mb": round((sp1 - sp0) / runs / 1e6, 1),
            "jvm_gc_sec": round((gc1 - gc0) / runs / 1e3, 1),
        }
        print(f"# {query} x{s}: {points[f'x{s}']}", file=sys.stderr)
    print(json.dumps({"probe": query, "points": points}))


if __name__ == "__main__":
    main(sys.argv[1], [int(a) for a in sys.argv[2:]] or [1, 10, 100])
