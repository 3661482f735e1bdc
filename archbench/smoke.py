"""Smoke test of the benchmark itself.

Runs every workload of ``BENCHMARK.json`` at tiny scale, untraced and
traced, and fails unless each run prints exactly the metric names (and
units) ``BENCHMARK.json`` lists for that mode, every value is a finite
number, and no operation failed. Run from the repository root:

    python3 archbench/smoke.py

It takes a few minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(ROOT / "archbench" / "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"exit {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def problems(result: dict, declared: list[dict]) -> list[str]:
    out = []
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if set(got) != set(want):
        out.append(f"missing {sorted(set(want) - set(got))}, "
                   f"undeclared {sorted(set(got) - set(want))}")
    out += [f"{k}: unit {got[k]!r} != {want[k]!r}" for k in want if k in got and got[k] != want[k]]
    out += [f"{k}: value {v['value']!r}" for k, v in result["metrics"].items()
            if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
    if result["failed"] or not result["correct"] or result["attempted"] < 1:
        out.append(f"attempted {result['attempted']}, failed {result['failed']}")
    if "ok_frac" in result["metrics"] and result["metrics"]["ok_frac"]["value"] != 1:
        out.append(f"ok_frac {result['metrics']['ok_frac']['value']}")
    return out


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = 0
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            try:
                found = problems(run(w["name"], trace), declared)
            except Exception as e:
                found = [f"run failed: {e}"]
            status = "ok" if not found else "FAIL"
            print(f"{w['name']} --trace {trace}: {status}", flush=True)
            for p in found:
                print(f"  {p}")
            bad += bool(found)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
