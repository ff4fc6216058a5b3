"""Benchmark entry point.

    python3 perfbench/run.py --workload mobility_backfill --seed 1 --seconds 25 --trace 0

Runs one workload of the lakehouse daily cycle (see README.md in this
directory) from the root of a checkout and prints, as its last line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
ones with ``--trace 1``). Every file it writes stays under
``perfbench/.work`` (removed at exit) and ``perfbench/.out`` (span dumps).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time starts with the process

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def prepare_env() -> None:
    """Make the package importable here and in the pandas-UDF workers
    Spark starts, whatever directory the benchmark is launched from."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["mobility_backfill", "gold_reports"])
    p.add_argument("--seed", type=int, required=True)
    # Part of the benchmark's command line; a run does a fixed amount of
    # work (see README.md), so every run of a workload measures the same.
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    prepare_env()
    import lakehouse_spain_mobility_spark  # noqa: F401  (fail fast outside a checkout)
    import workloads

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(HERE, ".work"))
    spans = None
    if args.trace:
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        spans = os.path.join(HERE, ".out", f"spans-{args.workload}-{args.seed}.jsonl")
    try:
        result = workloads.run(
            args.workload, args.seed, bool(args.trace), work, T_START, spans_path=spans,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
