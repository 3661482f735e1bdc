"""The benchmark's own smoke run (``python3 archbench/smoke.py``) as a
test: every workload at tiny scale, untraced and traced, must emit exactly
the metrics ``BENCHMARK.json`` declares with no failed operation — so a
change that breaks a call the benchmark makes fails here, not only when
the benchmark runs."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_archbench_smoke():
    proc = subprocess.run(
        [sys.executable, "archbench/smoke.py"],
        cwd=ROOT, capture_output=True, text=True, timeout=2400,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr[-3000:]
