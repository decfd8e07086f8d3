"""Geo-engine benchmark: one seeded workload per run.

    python3 geobench/run.py --workload knn_uniform --seed 1 --seconds 10 --trace 0

Runs the workload against the engine in this checkout on ``local[nproc]``
(one driver, one client, closed loop), checks every output against an
independent oracle and prints, as the last stdout line, one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it is the run record (per-batch latencies). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import launch

E2E_UNITS = {
    "setup_s": "s",
    "knn_exact_p50_s": "s",
    "knn_tree_p50_s": "s",
    "knn_tree_recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}
LAYERS = (
    "geotag", "geo_encode", "pip", "tiles", "cell_state", "tree_build",
    "lut_update", "tree_append", "cell_knn", "knn_tree",
)
EXTRA_UNITS = {
    "geotag.tagged_ratio": "ratio",
    "pip.rows_out": "count",
    "tiles.rows_out": "count",
    "cell_state.files_written": "count",
    "cell_state.bytes_written": "bytes",
    "tree_build.blobs": "count",
    "tree_build.blob_bytes": "bytes",
    "tree_append.groups_rebuilt_ratio": "ratio",
    "cell_knn.plan_radius_s": "s",
    "cell_knn.probe_rank_s": "s",
    "cell_knn.prune_parents": "count",
    "cell_knn.fanin_spread": "count",
    "cell_knn.task_skew": "ratio",
    "knn_tree.task_skew": "ratio",
    "trace.op_wall_s": "s",
}
METRIC_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "task_s": "s", "gc_s": "s",
                "shuffle_bytes": "bytes", "spill_bytes": "bytes", "driver_idle_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = {"session.wall_s": "s", "sources.wall_s": "s"}
    for layer in LAYERS:
        for m, u in METRIC_UNITS.items():
            units[f"{layer}.{m}"] = u
    units.update(EXTRA_UNITS)
    return units


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    t_start = time.perf_counter()
    work = launch.prepare(args.workload)
    import workloads  # needs the engine on sys.path, which prepare() sets
    from spans import Tracer, layer_metrics

    trace = bool(args.trace)
    tracer = Tracer(None, trace)
    spark = None
    try:
        if args.workload not in workloads.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        with launch.RssSampler() as rss:
            with tracer.span("session"):
                spark = launch.start_session(work, trace)
            tracer.spark = spark
            lc = workloads.run(
                workloads.WORKLOADS[args.workload], spark, tracer, work,
                args.seed, args.seconds, t_start,
            )
            launch.stop_session(spark)
            spark = None
        res = workloads.end_to_end(lc)
        res["peak_rss_mb"] = rss.peak_bytes / 2**20
        if trace and not lc.crashed:
            values = per_layer_values(lc, tracer, layer_metrics(tracer.spans, os.path.join(work, "events")))
            units = per_layer_units()
        else:  # a crashed run reports the end-to-end metrics it measured
            values, units = res, {k: u for k, u in E2E_UNITS.items() if k in res}
    finally:
        if spark is not None:
            launch.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    c = lc.counters
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "ops_failed_frac": c.failed / c.attempted, "op_wall_s": lc.op_wall_s,
              "run_wall_s": time.perf_counter() - t_start, "peak_rss_procs": rss.peak_procs,
              "batches": c.batches,
              "ingest_s": lc.ingest_s, "append_s": lc.append_s,
              "spans": [(s.layer, round(s.wall_s, 3)) for s in tracer.spans]}
    print("run record: " + json.dumps(record))
    print(json.dumps({
        "correct": c.failed == 0,
        "attempted": c.attempted,
        "failed": c.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


def per_layer_values(lc, tracer, layers: dict[str, dict[str, float]]) -> dict[str, float]:
    out = {"session.wall_s": statistics.median(tracer.walls("session")),
           "sources.wall_s": statistics.median(tracer.walls("sources"))}
    for layer in LAYERS:  # a layer the workload does not call reads 0
        for m in METRIC_UNITS:
            out[f"{layer}.{m}"] = layers.get(layer, {}).get(m, 0.0)
    out.update(lc.extras)
    timings = lc.knn_timings
    out["cell_knn.plan_radius_s"] = statistics.median(t.get("plan_radius", 0.0) for t in timings)
    out["cell_knn.probe_rank_s"] = statistics.median(t.get("round_probe_rank", 0.0) for t in timings)
    out["cell_knn.prune_parents"] = statistics.median(
        sum(v for k, v in t.items() if k.startswith("prune_parents_round")) for t in timings
    )
    out["cell_knn.fanin_spread"] = max(
        max((v for k, v in t.items() if k.startswith("fanin_spread_round")), default=0)
        for t in timings
    )
    out["cell_knn.task_skew"] = layers["cell_knn"]["task_skew"]
    out["knn_tree.task_skew"] = layers["knn_tree"]["task_skew"]
    out["trace.op_wall_s"] = lc.op_wall_s
    return out


if __name__ == "__main__":
    sys.exit(main())
