"""Physical-plan regression guard: run tools/plan_audit.py in-process.

The audit asserts the plan properties the 100 TB design claims (pushdown,
column pruning, broadcast joins, single-shuffle as-of join, no stray
cartesian products). Running it under pytest turns a silent plan
regression (e.g. a lost broadcast hint after a refactor) into a test
failure.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_plan_audit_passes(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "plan_audit.py")],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    assert proc.returncode == 0, (
        "plan audit failed:\n" + proc.stdout + "\n" + proc.stderr[-2000:]
    )
    # the audit's index scratch lives in one temporary directory that it
    # removes on exit
    assert not [p for p in os.listdir(tmp_path) if p.startswith("cvs_plan_")]
