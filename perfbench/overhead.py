"""Tracing overhead: the end-to-end metrics of a traced run against an
untraced run of the same workload and seed.

    python3 perfbench/overhead.py --workload query --seed 1 --seconds 10

Runs `perfbench/run.py` twice, untraced then traced, and prints one JSON
object: per end-to-end metric the untraced value, the traced value (from the
trace file the traced run writes) and traced / untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    plain = run(args, 0)["metrics"]
    run(args, 1)
    path = os.path.join(ROOT, ".perfbench", "traces",
                        f"{args.workload}-seed{args.seed}.json")
    with open(path) as f:
        traced = json.load(f)["end_to_end_traced"]
    print(json.dumps({
        k: {"untraced": v["value"], "traced": traced[k],
            "traced_over_untraced": traced[k] / v["value"]}
        for k, v in plain.items()}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
