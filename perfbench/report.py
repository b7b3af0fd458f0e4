"""Traced-run report from the run records under ``.perfbench/runs/``.

    python3 perfbench/report.py

For each workload: the median of every end-to-end metric over all its
untraced full-size run records in the checkout, the latest traced run's value and
the difference (the tracing overhead), then that traced run's
per-layer self time and counts.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.getcwd()


def main() -> int:
    records = []
    paths = glob.glob(os.path.join(ROOT, ".perfbench", "runs", "*.json"))
    for path in sorted(paths, key=os.path.getmtime):
        with open(path) as f:
            rec = json.load(f)
        if not rec.get("tiny"):  # smoke-test runs are not measurements
            records.append(rec)
    if not records:
        print("no run records: run perfbench/run.py first", file=sys.stderr)
        return 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = [m["name"] for m in json.load(f)["end_to_end"]]
    for w in sorted({r["workload"] for r in records}):
        plain = [r for r in records if r["workload"] == w and "setup_s" in r["metrics"]]
        traced = [r for r in records if r["workload"] == w and "traced.setup_s" in r["metrics"]]
        print(f"\n== {w}: {len(plain)} untraced run(s), {len(traced)} traced")
        if not traced:
            continue
        t = traced[-1]["metrics"]
        print(f"{'metric':<14}{'untraced p50':>14}{'traced':>14}{'overhead':>12}")
        for name in e2e:
            tv = t[f"traced.{name}"]
            if plain:
                base = statistics.median(r["metrics"][name] for r in plain)
                print(f"{name:<14}{base:>14.4g}{tv:>14.4g}{tv - base:>+12.4g}")
            else:
                print(f"{name:<14}{'-':>14}{tv:>14.4g}")
        print("per-layer self time (s):")
        for k, v in sorted(t.items()):
            if k.startswith("self.") and v:
                print(f"  {k[5:-2]:<12}{v:>10.3f}")
        print("per-layer counts and totals:")
        for k, v in sorted(t.items()):
            if not k.startswith(("self.", "traced.", "q.")) and v:
                print(f"  {k:<34}{v:>16.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
