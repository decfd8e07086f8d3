"""Tracing overhead: run one workload untraced and traced at the same seed.

    python3 geobench/overhead.py --workload knn_uniform --seed 1 --seconds 15

Prints the median measured-op wall time and the whole-run wall time of both
runs (from their run records) and the traced minus untraced difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_record(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    return json.loads(out[-2].removeprefix("run record: "))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    args = ap.parse_args()
    plain, traced = (run_record(args.workload, args.seed, args.seconds, t) for t in (0, 1))
    for key in ("op_wall_s", "run_wall_s"):
        print(f"{key}: untraced {plain[key]:.3f}  traced {traced[key]:.3f}  "
              f"overhead {traced[key] - plain[key]:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
