"""Paired geobench runs of two checkouts: the parent commit and a change.

    python3 scripts/geobench_pairs.py PARENT_DIR CHANGE_DIR --workload knn_metro --seeds 1-10

For each seed it runs ``geobench/run.py --trace 0`` once in each checkout,
one after the other, alternating which side runs first (the parent on even
seeds), so host drift falls on both sides alike. Each checkout runs its own
copy of geobench, unchanged; the run length (``run_seconds``) and the
metrics' units, directions and bounds come from PARENT_DIR/BENCHMARK.json.

It prints one line per run (side, seed, ``correct``, ``failed``, metrics) as
the run finishes, then one row per end-to-end metric: each side's median and
quartiles, the change's wins out of the pairs (ties count for neither side),
the change of the median relative to the parent's, and a verdict:

- ``claim`` when there are at least ten pairs, the change wins at least
  nine tenths of them and the medians differ by more than the parent's
  interquartile range, and the change's runs fail no more operations and
  are no less often correct than the parent's (``claim (more failures)``
  otherwise: a gain that costs correctness is not a gain);
- ``worse`` when the change's median is worse than the parent's by more than
  the metric's bound;
- ``unresolved`` when either side's interquartile range, relative to its
  median, is wider than the bound, unless every run of the change reads
  better than every run of the parent;
- ``within`` otherwise.

``--out FILE`` also writes every run's result line, as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def parse_seeds(text: str) -> list[int]:
    """``1-10`` or ``1,4,7`` (or a mix, ``1-3,9``) -> seeds in order."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced geobench run in ``checkout`` -> its result line, or a
    failed stand-in when the run crashed before printing one."""
    cmd = [sys.executable, os.path.join("geobench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-4000:])
        return {"correct": False, "attempted": 0, "failed": 1, "metrics": {},
                "crashed": proc.returncode}


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return (vals[0],) * 3
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def summarize(name: str, spec: dict, pairs: list[dict[str, dict]],
              more_failures: bool) -> str | None:
    """The report row of one metric over the pairs where both sides have it;
    ``more_failures`` withholds a ``claim`` from a change that fails more."""
    got = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
           for p in pairs
           if name in p["parent"]["metrics"] and name in p["change"]["metrics"]]
    if not got:
        return None
    par, chg = [a for a, _ in got], [b for _, b in got]
    sign = 1 if spec["better"] == "lower" else -1
    wins = sum(sign * (a - b) > 0 for a, b in got)
    (p1, pm, p3), (c1, cm, c3) = quartiles(par), quartiles(chg)
    rel = (cm - pm) / pm if pm else 0.0
    bound = spec["bound"]
    spread = max((p3 - p1) / abs(pm) if pm else 0.0, (c3 - c1) / abs(cm) if cm else 0.0)
    every_run_better = all(sign * (a - b) > 0 for a in par for b in chg)
    if len(got) >= 10 and wins >= 0.9 * len(got) and abs(cm - pm) > p3 - p1:
        verdict = "claim (more failures)" if more_failures else "claim"
    elif sign * rel > bound:
        verdict = "worse"
    elif spread > bound and not every_run_better:
        verdict = "unresolved"
    else:
        verdict = "within"
    parent, change = f"{pm:.4g} [{p1:.4g}, {p3:.4g}]", f"{cm:.4g} [{c1:.4g}, {c3:.4g}]"
    return (f"{name:24s} {spec['unit']:5s} {parent:28s} {change:28s} {wins:2d}/{len(got):<3d}"
            f" {100 * rel:+7.1f}%  {verdict} (bound {bound:g}, {spec['better']} is better)")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="checkout of the parent commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 1-10")
    ap.add_argument("--out", help="also write every run's result as JSON lines here")
    args = ap.parse_args()

    with open(os.path.join(args.parent, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    dirs = {"parent": args.parent, "change": args.change}
    out = open(args.out, "a") if args.out else None
    pairs: list[dict[str, dict]] = []
    try:
        for seed in args.seeds:
            pair = {}
            for side in SIDES if seed % 2 == 0 else SIDES[::-1]:
                res = pair[side] = run_once(dirs[side], args.workload, seed, seconds)
                vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()}
                print(f"run {side:6s} seed {seed:3d} correct {res['correct']} "
                      f"failed {res['failed']}/{res['attempted']} {json.dumps(vals)}", flush=True)
                if out:
                    out.write(json.dumps({"side": side, "seed": seed,
                                          "workload": args.workload, **res}) + "\n")
                    out.flush()
            pairs.append(pair)
    finally:
        if out:
            out.close()

    print(f"\n{args.workload}: {len(pairs)} pairs, seeds {args.seeds[0]}-{args.seeds[-1]}, "
          f"{seconds:g} s windows; medians [q1, q3], inclusive quartiles")
    print(f"{'metric':24s} {'unit':5s} {'parent':28s} {'change':28s} {'wins':6s} {'median':>8s}")
    totals = {side: (sum(p[side]["correct"] for p in pairs), sum(p[side]["failed"] for p in pairs))
              for side in SIDES}
    more_failures = (totals["change"][0] < totals["parent"][0]
                     or totals["change"][1] > totals["parent"][1])
    for spec in bench["end_to_end"]:
        row = summarize(spec["name"], spec, pairs, more_failures)
        if row:
            print(row)
    for side in SIDES:
        correct, failed = totals[side]
        print(f"{side}: {correct}/{len(pairs)} runs correct, {failed} failed of "
              f"{sum(p[side]['attempted'] for p in pairs)} ops")
    return 0


if __name__ == "__main__":
    sys.exit(main())
