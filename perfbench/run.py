"""Benchmark entry point.

    python3 perfbench/run.py --workload query-suite --seed 1 --seconds 20 --trace 0

Runs one workload in one process on ``local[<cores>]`` against the
package in the checkout that holds this directory.  Inputs are made
from ``--seed``; every file the run reads or writes lives under
``.perfbench_work/`` in the checkout and is deleted when the run ends.

Standard error carries the readable report (the workload's own metric
names, the host-noise anchors, every figure).  The last line of
standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {
    "query-suite": "qsuite",
    "rainstorm-lines": "lines",
    "stream-live": "live",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="rainstorm-pyspark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    import importlib

    from harness import PACKAGE, ROOT, Run, child_subreaper

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    # a terminated run still stops its session and processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    child_subreaper()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.prepare_dirs()
    try:
        importlib.import_module(WORKLOADS[args.workload]).run(run)
        result = run.result()
    finally:
        run.cleanup()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
