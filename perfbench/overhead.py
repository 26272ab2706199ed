"""Tracing overhead: traced minus untraced end-to-end values.

    python3 perfbench/overhead.py --workload kb_serve --seed 1 [--seconds 5]

Runs the workload twice with the same seed, untraced then traced, and
prints one JSON line with both runs' end-to-end values and their
difference (traced - untraced) per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600, check=True,
    )
    detail = json.loads(proc.stdout.strip().splitlines()[-2])
    return {k: v["value"] for k, v in detail["end_to_end"].items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5)
    a = p.parse_args()
    plain = end_to_end(a.workload, a.seed, a.seconds, 0)
    traced = end_to_end(a.workload, a.seed, a.seconds, 1)
    print(json.dumps({
        "workload": a.workload, "seed": a.seed, "untraced": plain, "traced": traced,
        "overhead": {k: traced[k] - plain[k] for k in plain},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
