"""Task-retry purity (tools/fault_probe.py as a CI pin).

Spark's recovery model assumes every task is a pure function of its
input split; an operator that violates it is wrong ONLY on clusters,
where retries are steady state — never on the suite's retry-free
``local[32]`` session (plain ``local[N]`` has maxFailures=1 and fails
fast, which is why this runs in a subprocess on ``local[8,2]``).

The probe injects a first-attempt failure into one task underneath the
archive's account-changeset decode (an Arrow UDF), its state-history
build (range shuffle and re-key window) and exact dedup (a hash shuffle),
asserts output equality with the undisturbed run, and PROVES each retry
executed via
an accumulator incremented only on attemptNumber > 0 (updates from
failed tasks are discarded, so counting the raise would be vacuous —
the probe's own development caught exactly that).
"""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_operators_idempotent_under_task_retry():
    proc = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "fault_probe.py"),
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "== ALL PASS ==" in proc.stdout
    # every check must have seen a real retry, not a no-op injection
    for line in proc.stdout.splitlines():
        if line.startswith("PASS"):
            assert "0 retried tasks" not in line, line
