"""The benchmark's workloads: one index lifecycle, then served batches.

Every run builds the geo index from a seeded crawl (``geotag`` ->
``geo_encode`` -> [``pip``/``tiles``] -> ``cell_state`` -> ``tree_build``),
in one workload applies an append batch (``lut_update``, ``tree_append``),
and serves one small untimed batch on both paths to warm them up; that is
set-up. The measured window then serves kNN batches in a closed loop, each on
both paths (``cell_knn`` exact, ``knn_tree`` budgeted), so every run reports
every end-to-end metric. The workload picks the query batches, how many at
least, and which of the build's optional steps it runs:

- ``knn_uniform``: 32 queries, half near cities, half uniform, plus pole and
  antimeridian cases; the build runs ``pip`` and ``tiles``.
- ``knn_metro``: 32 queries drawn from the densest parent cell, so that
  candidates pile into a few hot cells; the index takes the append batch
  first and is served in its appended state.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle
from spans import Tracer

from countrymaam_spark.functions import geo
from countrymaam_spark.operators import index_build, knn, pip, tiles
from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.plans import pipeline

RES = 7  # cell index resolution
PARTITION_RES = 3  # directory partition of the cell corpus snapshot
TREE_PARENT_RES = 4  # tree index group resolution (index_build default)
ZOOMS = [4, 8, 12]
# salt_hot_cells' target group size: the hot cities' parents split into
# several (parent, salt) groups at this crawl size (its default, 20 000, is
# above any parent here)
GROUP_ROWS = 1_000
K = 10
BATCH = 32  # queries per batch
SEARCH_K = 256
BASE_PAGES = 20_000
APPEND_PAGES = 10_000
LUT_LEVELS = list(range(RES, RES - 5, -1))  # the radius planner's lut levels
# the warm-up batch: the first call of each path after the build pays for
# code generation and JIT (on the 4-core machine of README.md's sizing, a
# cold 32-query uniform exact batch took 9-10 s against 5-6 s warm); a small
# batch that holds the pole and antimeridian cases warms the same plans for
# less
WARM_QUERIES = 8
OP_TIMEOUT_S = 60.0


@dataclass(frozen=True)
class Workload:
    name: str
    queries: str  # "uniform" or "metro"
    # the window holds at least this many batches even when they outlast
    # --seconds, so that its latencies are medians
    min_batches: int
    polygons: bool  # whether the build runs pip and tiles
    append: bool  # whether the index takes the append batch before serving


WORKLOADS = {
    w.name: w
    for w in (
        # each optional build step runs in one workload's set-up only, so
        # that what one run costs is bounded: pip and tiles (~4 s) before
        # the dearer uniform batches, the append (~9 s) before the cheaper
        # metro ones
        Workload("knn_uniform", "uniform", min_batches=2, polygons=True, append=False),
        Workload("knn_metro", "metro", min_batches=3, polygons=False, append=True),
    )
}


@dataclass
class Counters:
    attempted: int = 0
    failed: int = 0
    batches: list[dict] = field(default_factory=list)  # the run record

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


class Lifecycle:
    """Index state of one run, versioned on disk under ``work``."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, w: Workload):
        self.spark, self.tracer, self.work, self.seed, self.w = spark, tracer, work, seed, w
        self.truth = oracle.Truth()
        self.counters = Counters()
        self.extras: dict[str, float] = {"tree_append.groups_rebuilt_ratio": 0.0}
        self.append_s: float | None = None  # wall of the append batch
        self.version = "v0"  # the tree index version served
        self.exact_walls: list[float] = []
        self.tree_walls: list[float] = []
        self.recalls: list[float] = []
        self.knn_timings: list[dict] = []  # cell_knn's timings= dicts
        self.n_batches = 0
        self.setup_s: float | None = None
        self.ingest_s: float | None = None  # wall of the base build
        self.crashed = False  # an operation raised; the run stopped there
        self.op_wall_s = 0.0  # median wall of the measured operation

    # ------------------------------------------------------------- inputs
    def _path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def make_inputs(self) -> None:
        with self.tracer.span("sources"):
            self.base = gen.pages(self.seed, 0, BASE_PAGES, 0)
            self._write_crawl(self.base.table, "pages")
            self.edges = gen.polygons(self.seed)
            pq.write_table(self.edges, self._path("edges.parquet"))
        self.truth.add(0, self.base.lat, self.base.lon, self.base.table["url"].to_pylist())

    def _write_crawl(self, table, name: str) -> str:
        """Write a crawl slice as one parquet file. Not sharded: each shard
        would become its own file under every parent directory of the cell
        corpus, multiplying the files every serving call opens."""
        path = self._path(f"{name}.parquet")
        pq.write_table(table, path)
        return path

    def _delta(self) -> str:
        d = gen.pages(self.seed, 1, APPEND_PAGES, BASE_PAGES)
        self.truth.add(BASE_PAGES, d.lat, d.lon, d.table["url"].to_pylist())
        return self._write_crawl(d.table, "delta")

    def queries(self, batch: int, size: int):
        if self.w.queries == "metro":
            return gen.metro_queries(self.seed, batch, size, self.base, PARTITION_RES).to_pandas()
        return gen.uniform_queries(self.seed, batch, size).to_pandas()

    # -------------------------------------------------------------- build
    def build(self) -> None:
        """Index the base crawl; the wall time of its layers is ``ingest_s``."""
        spark, span = self.spark, self.tracer.span
        t0 = time.perf_counter()
        with span("geotag"):
            pages = spark.read.parquet(self._path("pages.parquet"))
            extract_geo(pages).select("url", "lat", "lon").write.parquet(self._path("geo0"))
        geo_df = spark.read.parquet(self._path("geo0"))
        with span("geo_encode"):
            geo_df.filter(F.col("lat").isNotNull()).select(
                "url", "lat", "lon", geo.encode_cell(F.col("lat"), F.col("lon"), RES).alias("cell")
            ).write.parquet(self._path("snapshot"))
        snap = spark.read.parquet(self._path("snapshot"))
        pip_rows = tile_rows = []
        if self.w.polygons:
            with span("pip"):
                edges = spark.read.parquet(self._path("edges.parquet"))
                pip_rows = pip.point_in_polygon(snap, edges).collect()
            with span("tiles"):
                tile_rows = tiles.tile_counts(snap, ZOOMS).collect()
        with span("cell_state"):
            pipeline.build_cell_pipeline(
                spark, snap, self._path("cell"), res=RES, cell_col="cell",
                partition_parent_res=PARTITION_RES,
            )
        with span("tree_build"):
            index_build.salt_hot_cells(
                index_build.encode_pages(snap, RES, TREE_PARENT_RES), GROUP_ROWS
            ).write.parquet(self._path("v0", "cells"))
            cells = spark.read.parquet(self._path("v0", "cells"))
            index_build.build_tree_blobs(cells).write.parquet(self._path("v0", "trees"))
        self.ingest_s = time.perf_counter() - t0

        n_tagged = geo_df.filter(F.col("lat").isNotNull()).count()
        self.extras["geotag.tagged_ratio"] = n_tagged / BASE_PAGES
        self.extras["pip.rows_out"] = len(pip_rows)
        self.extras["tiles.rows_out"] = len(tile_rows)
        files = [
            os.path.join(d, f) for d, _, fs in os.walk(self._path("cell")) for f in fs
            if f.endswith(".parquet")
        ]
        self.extras["cell_state.files_written"] = len(files)
        self.extras["cell_state.bytes_written"] = sum(os.path.getsize(f) for f in files)
        if self.tracer.enabled:
            with pipeline.load_trees(spark, self._path("v0")) as trees:
                blobs = trees.select(F.count("*").alias("n"), F.sum(F.length("blob")).alias("b")).first()
            self.extras["tree_build.blobs"] = blobs["n"]
            self.extras["tree_build.blob_bytes"] = blobs["b"]
            if self.w.append:
                self.lineage = _lineage(spark, self._path("v0"))
        with self.tracer.span("oracle"):
            self.counters.op(
                n_tagged == int((~np.isnan(self.base.lat)).sum())
                and (
                    not self.w.polygons
                    or oracle.pip_check(pip_rows, self.truth, self.edges)
                    and oracle.tiles_check(tile_rows, self.truth, ZOOMS)
                )
            )
        self.lut = spark.read.parquet(self._path("cell", "cell_lut"))

    # ------------------------------------------------------------- append
    def append(self) -> None:
        """Apply the append batch: tree index version v0 -> v1."""
        spark, span = self.spark, self.tracer.span
        delta = self._delta()
        prev, cur = self._path("v0"), self._path("v1")
        t0 = time.perf_counter()
        with span("lut_update"):
            extract_geo(spark.read.parquet(delta)).select("url", "lat", "lon").write.parquet(
                self._path("geo1")
            )
            new_geo = spark.read.parquet(self._path("geo1"))
            knn.update_cell_lut(self.lut, new_geo, RES).write.parquet(os.path.join(cur, "lut"))
            new_geo.filter(F.col("lat").isNotNull()).select(
                "url", "lat", "lon",
                geo.encode_cell(F.col("lat"), F.col("lon"), RES).alias("cell"),
                geo.cell_parent(
                    geo.encode_cell(F.col("lat"), F.col("lon"), RES), PARTITION_RES, RES
                ).alias("parent"),
            ).write.mode("append").partitionBy("parent").parquet(
                self._path("cell", "cell_corpus")
            )
        with span("tree_append"), pipeline.load_trees(spark, prev) as trees_old:
            cells_new, trees_new = index_build.incremental_add(
                spark.read.parquet(os.path.join(prev, "cells")), trees_old, new_geo,
                res=RES, parent_res=TREE_PARENT_RES,
            )
            cells_new.write.parquet(os.path.join(cur, "cells"))
            trees_new.write.parquet(os.path.join(cur, "trees"))
        self.append_s = time.perf_counter() - t0
        self.lut = spark.read.parquet(os.path.join(cur, "lut"))
        self.version = "v1"
        if self.tracer.enabled:
            new = _lineage(spark, cur)
            rebuilt = sum(self.lineage.get(g) != v for g, v in new.items())
            self.extras["tree_append.groups_rebuilt_ratio"] = rebuilt / len(new)

    def check_appended_state(self) -> bool:
        """The appended state equals the state rebuilt from the union of all
        pages so far — rebuilt from the planted points, not from anything the
        engine computed: the planning lut row for row, and every (parent,
        salt) group of the tree index lineage, with its row count and url
        checksum."""
        lut = {(r["lv"], r["cell"]): r["cnt"] for r in self.lut.collect()}
        lineage = {g: (n, checksum) for g, (n, _, checksum) in _lineage(self.spark, self._path("v1")).items()}
        return (
            lut == oracle.lut_rows(self.truth, RES, LUT_LEVELS)
            and oracle.tree_groups(self.truth, TREE_PARENT_RES, GROUP_ROWS, BASE_PAGES) == lineage
        )

    # -------------------------------------------------------------- serve
    def open_state(self) -> None:
        """Open the served cell corpus once, as a server holds its table: a
        read lists every parent directory (a Spark job)."""
        self.cells = self.spark.read.parquet(self._path("cell", "cell_corpus"))

    def serve(self, timed: bool = True) -> None:
        """One query batch on both paths; an untimed one is the warm-up,
        checked like any other but traced as ``warm_up``."""
        spark, span = self.spark, self.tracer.span
        qpdf = self.queries(self.n_batches, BATCH if timed else WARM_QUERIES)
        self.n_batches += 1
        q = spark.createDataFrame(qpdf)
        timings: dict = {}
        t0 = time.perf_counter()
        with span("cell_knn" if timed else "warm_up"):
            exact_rows = _guarded(spark, lambda: knn.cell_knn(
                self.cells, q, k=K, res=RES, cell_col="cell", stats=self.lut,
                partition_parent_res=PARTITION_RES, timings=timings,
            ).collect())
        t_exact = time.perf_counter() - t0
        t0 = time.perf_counter()
        with span("knn_tree" if timed else "warm_up"), pipeline.load_trees(
            spark, self._path(self.version)
        ) as trees:
            tree_rows = _guarded(spark, lambda: index_build.knn_tree(
                trees, q, k=K, search_k=SEARCH_K, parent_res=TREE_PARENT_RES, ring=1
            ).collect())
        t_tree = time.perf_counter() - t0
        ok_exact = exact_rows is not None and all(
            oracle.knn_check(exact_rows, qpdf, self.truth, K, exact=True)[0]
        )
        recall = 0.0
        ok_tree = tree_rows is not None
        if ok_tree:
            passed, rec = oracle.knn_check(tree_rows, qpdf, self.truth, K, exact=False)
            ok_tree = all(passed)
            recall = statistics.fmean(rec)
        self.counters.op(ok_exact)
        self.counters.op(ok_tree)
        self.counters.batches.append(
            {"batch": self.n_batches - 1, "timed": timed, "exact_s": round(t_exact, 4),
             "tree_s": round(t_tree, 4), "recall": round(recall, 4), "exact_ok": ok_exact,
             "tree_ok": ok_tree}
        )
        if timed:
            self.exact_walls.append(t_exact)
            self.tree_walls.append(t_tree)
            self.recalls.append(recall)
            self.knn_timings.append(timings)


def _lineage(spark, version_dir: str) -> dict[tuple[int, int], tuple]:
    with pipeline.load_trees(spark, version_dir) as trees:
        rows = index_build.lineage(trees).collect()
    return {(r["parent"], r["salt"]): (r["n_rows"], r["seed"], r["checksum"]) for r in rows}


def _guarded(spark, fn):
    """Run ``fn``; cancel its Spark jobs after OP_TIMEOUT_S. -> result, or
    None when it raised or timed out (the caller counts a failed op)."""
    timer = threading.Timer(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    try:
        return fn()
    except Exception:  # an op failure is a measured outcome, not a crash
        traceback.print_exc(file=sys.stderr)
        return None
    finally:
        timer.cancel()


def run(w: Workload, spark, tracer: Tracer, work: str, seed: int, seconds: float,
        t_start: float) -> Lifecycle:
    """Run workload ``w``: set-up (inputs, build, the append and its check
    where the workload has them, the warm-up batch), then query batches
    while ``seconds`` have not passed. An exception ends the run as one more
    failed operation."""
    lc = Lifecycle(spark, tracer, work, seed, w)
    try:
        lc.make_inputs()
        lc.build()
        if w.append:
            lc.append()
            with tracer.span("oracle"):
                lc.counters.op(lc.check_appended_state())
        lc.open_state()
        lc.serve(timed=False)
        lc.setup_s = time.perf_counter() - t_start
        t_window = time.perf_counter()
        while len(lc.exact_walls) < w.min_batches or time.perf_counter() - t_window < seconds:
            lc.serve()
    except Exception:  # an op failure is a measured outcome, not a crash
        traceback.print_exc(file=sys.stderr)
        lc.counters.op(False)
        lc.crashed = True
    if lc.exact_walls:
        lc.op_wall_s = statistics.median(e + t for e, t in zip(lc.exact_walls, lc.tree_walls))
    return lc


def end_to_end(lc: Lifecycle) -> dict[str, float]:
    """The end-to-end metrics but peak RSS; a run that crashed has only
    those measured before the crash."""
    out = {"setup_s": lc.setup_s}
    if lc.exact_walls:
        out["knn_exact_p50_s"] = statistics.median(lc.exact_walls)
        out["knn_tree_p50_s"] = statistics.median(lc.tree_walls)
        out["knn_tree_recall_at_10"] = statistics.fmean(lc.recalls)
    return {k: v for k, v in out.items() if v is not None}
