"""Benchmark self-test at self-test sizes.

    python3 perfbench/selftest.py [--seed 5]

Runs each workload twice, traced, at the self-test sizes (``--tiny``) with
a fixed number of units per timed pass and the same seed.  Passes when
every answer check passes in all runs and every count the two runs of a
workload report (jobs, tasks, windows, rows, bytes, files) is identical.
Exits 0 on pass, 1 on fail.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.run import PER_LAYER  # noqa: E402

# counts and bytes depend only on the seed and the number of units
COUNT_UNITS = ("count", "B")


def traced_run(workload: str, seed: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", "1", "--tiny", "--fixed-units", "1",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{workload}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=5)
    args = p.parse_args()
    counts = [k for k, u in PER_LAYER.items() if u in COUNT_UNITS]
    ok = True
    for workload in sorted(WORKLOADS):
        a, b = traced_run(workload, args.seed), traced_run(workload, args.seed)
        for r in (a, b):
            if not r["correct"] or r["failed"]:
                print(f"{workload}: {r['failed']} of {r['attempted']} operations failed")
                ok = False
        diff = [
            k for k in counts
            if a["metrics"][k]["value"] != b["metrics"][k]["value"]
        ]
        for k in diff:
            print(
                f"{workload}: {k} differs: "
                f"{a['metrics'][k]['value']} vs {b['metrics'][k]['value']}"
            )
        ok = ok and not diff
        print(f"{workload}: {len(counts) - len(diff)}/{len(counts)} counts repeat")
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
