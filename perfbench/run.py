"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload batch_sf01 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
under ``.perfbench/`` in the checkout, which also holds every run's
full record (all samples, probes, versions) in ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import Run  # noqa: E402  (starts the setup clock)

WORKLOADS = {
    "batch_sf01": "perfbench.batch",
    "wire_bulk": "perfbench.wire",
    "sql_interactive": "perfbench.interactive",
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smallest inputs (smoke test)")
    args = ap.parse_args()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.record["tiny"] = args.tiny
    try:
        __import__(WORKLOADS[args.workload], fromlist=["run"]).run(run, tiny=args.tiny)
    finally:
        run.stop()  # after an error; a finished run has stopped already


if __name__ == "__main__":
    main()
