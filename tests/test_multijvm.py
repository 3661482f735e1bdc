"""Multi-process executor parity (tools/multijvm_probe.py as a CI pin).

The probe's full ledger (MULTIJVM.json, one row per DEFAULT_PROBE gate)
is a round artifact; this test keeps the MECHANISM from regressing: a
broadcast join and an Arrow ``mapInPandas`` kernel must stay hash-green
vs their DuckDB oracles when executors are real separate JVM processes
(serialized closures and broadcasts, BlockManager shuffle transport)
instead of threads inside the test session's single JVM.

Runs in a subprocess because a ``local-cluster`` master cannot coexist
with the suite's ``local[32]`` session in one JVM (getOrCreate would
return the existing session).
"""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_probe_gates_pass_on_separate_executor_jvms(tmp_path):
    out = tmp_path / "multijvm.json"
    env = dict(os.environ)
    # 2 workers x 4 cores is enough to split every probe stage across
    # both processes while staying light next to the suite's session
    env["SPARK_GRAFT_MULTIJVM_MASTER"] = "local-cluster[2,4,3072]"
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "multijvm_probe.py"),
            "/root/testdata/sf0.001",
            str(out),
            "j1_lookup_join",          # broadcast hash join across JVMs
            "ref_dialect_decode",      # Arrow mapInPandas page tasks
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    ledger = json.loads(out.read_text())
    # the topology must be REAL: two executor processes beyond the driver
    assert ledger["_meta"]["executor_processes"] == 2
    assert ledger["_meta"]["block_managers_incl_driver"] == 3
    for name in ("j1_lookup_join", "ref_dialect_decode"):
        assert ledger[name]["pass"], ledger[name]
