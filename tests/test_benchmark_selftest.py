"""The benchmark's own end-to-end checks stay green against the program.

``perfbench/selftest.py`` runs both workloads at tiny scale, each in its
own process, and checks silver rows against generator truth, gold keys,
outlier rejection and the BQ answers, plus the metric names and units
``BENCHMARK.json`` declares. It exits 0 only if every check passed.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "selftest.py")],
        cwd=ROOT, capture_output=True, text=True, timeout=1200,
    )
    assert proc.returncode == 0, f"{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"
