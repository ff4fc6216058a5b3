"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs ``mobility_backfill`` untraced and ``gold_reports`` traced on a
2x2-municipality grid with a warm-up day, two days of bronze history, one
timed day, a 2,000-row events table and one request block,
each in its own process (one Spark session per process), and checks that
each result carries exactly the metrics BENCHMARK.json names for its
mode, with their units, that every check passed on the default seed and
that ``error_rate`` is 0. Exits 1 on any mismatch.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_SEED = 1
CASES = (("mobility_backfill", 0, "end_to_end"), ("gold_reports", 1, "per_layer"))


def run_case(workload: str, trace: bool) -> None:
    """Child process: one tiny run, result JSON as the last stdout line."""
    import run

    run.prepare_env()
    import workloads

    tiny = workloads.Profile(days=2, grid=2, history=2, events=2000, blocks=1, hot_areas=None)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(HERE, ".work"))
    try:
        result = workloads.run(workload, TINY_SEED, trace, work, time.perf_counter(), profile=tiny)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


def main() -> int:
    if len(sys.argv) == 4 and sys.argv[1] == "--case":
        run_case(sys.argv[2], sys.argv[3] == "1")
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload, trace, kind in CASES:
        proc = subprocess.run(
            [sys.executable, __file__, "--case", workload, str(trace)],
            capture_output=True, text=True, timeout=600,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            problems.append(f"{workload}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            continue
        result = json.loads(lines[-1])
        want = {m["name"]: m["unit"] for m in spec[kind]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            diff = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            problems.append(f"{workload}: metrics or units differ: {diff}")
        if not all(math.isfinite(v["value"]) for v in result["metrics"].values()):
            problems.append(f"{workload}: non-finite metric value")
        if not result["correct"] or result["failed"] or result["attempted"] < 1:
            problems.append(f"{workload}: correct={result['correct']} failed={result['failed']}")
        if trace and result["metrics"]["error_rate"]["value"] != 0:
            problems.append(f"{workload}: error_rate {result['metrics']['error_rate']['value']}")
        print(f"{workload} trace={trace}: {len(got)} metrics, "
              f"{result['attempted']} operations, {result['failed']} failed", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
