"""Smoke test of the benchmark itself at the smallest sizes.

    python3 perfbench/smoke.py

Runs every workload (``wire_bulk`` too) untraced and traced with
``--tiny`` (sf0.001 tables, 10k/40k-row payloads, one cycle) and
asserts that the result line names every metric of BENCHMARK.json with
its unit and that every output check passed. Exits non-zero on the
first problem.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import WORKLOADS  # noqa: E402

ROOT = os.getcwd()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in WORKLOADS:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "7",
                 "--seconds", "1", "--trace", str(trace), "--tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            assert out.returncode == 0, f"{w} trace={trace}: exit {out.returncode}"
            res = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metric set differs: " + str(
                set(got) ^ set(want))
            assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            print(f"ok {w} trace={trace}: {res['attempted']} ops, "
                  f"{len(got)} metrics", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
