"""Smoke run of the benchmark: every workload, untraced and traced, on the
sf0.001 fixtures. Asserts that each run exits 0, reports no failed
operation (``run.fail_ratio`` is 0), emits exactly the metrics
BENCHMARK.json names, each with its declared unit, and that the traced run
reconciles (``trace.reconcile_err`` at most 1, ``trace.job_mismatch`` 0).

    python3 perfbench/smoke.py            # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, "perfbench/run.py", "--workload", wl,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--data", "sf0.001"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=300)
            label = f"{wl} trace={trace}"
            if proc.returncode != 0:
                bad.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want[trace]:
                bad.append(f"{label}: metrics/units differ from BENCHMARK.json: "
                           f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            if result["failed"] or not result["correct"]:
                bad.append(f"{label}: {result['failed']} failed of "
                           f"{result['attempted']}")
            if trace:
                m = result["metrics"]
                if (m["run.fail_ratio"]["value"] != 0
                        or m["trace.reconcile_err"]["value"] > 1
                        or m["trace.job_mismatch"]["value"] != 0):
                    bad.append(f"{label}: fail ratio, reconciliation or job "
                               "attribution out of tolerance")
            print(f"ok {label}: {result['attempted']} ops", flush=True)
    for b in bad:
        print("FAIL", b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
