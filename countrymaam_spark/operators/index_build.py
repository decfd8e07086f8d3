"""Distributed cell-index build: the partition-parallel stage of the north
star. Pages are encoded to cells, hot parent cells are salted, the corpus is
range-partitioned + sorted on (parent, salt, cell), and each (parent, salt)
group builds a seeded kd-tree inside ``applyInPandas`` — countrymaam's
forest build (/root/reference/index/bsp_tree_index.go:128-159) with Spark
tasks in place of goroutines, plus per-group lineage rows (group key, row
count, checksum, seed) for the resumable-checkpoint contract.

Skew: Zipf-hot city cells would give one task a huge group (AQE cannot split
``applyInPandas`` groups), so groups above ``target_group_rows`` are salted by
url hash — queries later fan out over every salt of a parent.

The tree-serving path (``knn_tree``) plans on the driver, like cell_knn: it
collects the batch, enumerates each query's ring of parent cells in numpy
and ships one route row per parent; the routes join the blob table on
``parent``, each blob runs best-first budgeted search over its routed
queries (mapInPandas; blobs never leave their partition), and the union is
exact-haversine re-ranked — the reference's candidate-stream -> re-rank ->
top-k lifecycle (/root/reference/countrymaam.go:38-69) with ``search_k`` as
the recall knob. cell_knn (operators/knn.py) remains the
exactness-guaranteed path; knn_tree is the budget-bounded approximate path.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo
from countrymaam_spark.operators import kdtree
from countrymaam_spark.operators.adaptive import gate_broadcast
from countrymaam_spark.operators.knn import _cell_xy, _query_batch
from countrymaam_spark.operators.topk import topk_per_group

TREE_SCHEMA = (
    "parent long, salt int, n_rows long, seed long, checksum string, blob binary"
)
ROUTE_SCHEMA = "parent long, qid array<long>, qlat array<double>, qlon array<double>"
CAND_SCHEMA = (
    "query_id long, url string, lat double, lon double, qlat double, qlon double"
)


def encode_pages(pages_geo: DataFrame, res: int = 7, parent_res: int = 4) -> DataFrame:
    """pages -> (url, lat, lon, cell, parent): the index's base table."""
    return (
        geo.located(pages_geo)
        .select("url", "lat", "lon")
        .withColumn("cell", geo.encode_cell(F.col("lat"), F.col("lon"), res))
        .withColumn("parent", geo.cell_parent(F.col("cell"), parent_res, res))
    )


def salt_hot_cells(cells: DataFrame, target_group_rows: int = 20_000) -> DataFrame:
    """Add a salt column splitting parents larger than ``target_group_rows``.

    Per-parent counts -> salt factor ceil(n/target); salt = url-hash mod
    factor. The counts table is tiny (#parents) and broadcast.
    """
    counts = cells.groupBy("parent").agg(F.count("*").alias("_n"))
    factor = F.greatest(
        F.ceil(F.col("_n") / F.lit(target_group_rows)).cast("int"), F.lit(1)
    )
    return (
        cells.join(F.broadcast(counts.withColumn("_f", factor).drop("_n")), "parent")
        .withColumn("salt", F.pmod(F.xxhash64("url"), F.col("_f")).cast("int"))
        .drop("_f")
    )


def _group_seed(parent: int, salt: int, seed: int) -> int:
    return (parent * 1_000_003 + salt * 7919 + seed) % (2**31 - 1)


def build_tree_blobs(
    salted: DataFrame,
    seed: int = 42,
    leaf_size: int = kdtree.LEAF_SIZE,
    kind: str = "kd",
    n_trees: int = 1,
) -> DataFrame:
    """(parent, salt) groups -> one row each: kd-tree blob + lineage fields.

    ``groupBy`` already hash-partitions on the group key — adding a range
    partition here would double-shuffle the corpus (plus a sampling pass).
    """
    prepared = salted

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by url: applyInPandas group row order follows scan order, which
        # is not deterministic — sorting makes the blob a pure function of
        # (row set, seed), so rebuilds (and incremental_add) are reproducible
        pdf = pdf.sort_values("url", kind="stable").reset_index(drop=True)
        parent = int(pdf["parent"].iloc[0])
        salt = int(pdf["salt"].iloc[0])
        gseed = _group_seed(parent, salt, seed)
        lat = pdf["lat"].to_numpy(dtype=np.float64)
        lon = pdf["lon"].to_numpy(dtype=np.float64)
        # local equirectangular scaling: lon compressed by cos(mean lat) so
        # in-tree L2 approximates km geometry (exact re-rank happens later)
        cos0 = float(np.cos(np.radians(lat.mean()))) if len(lat) else 1.0
        pts = np.stack([lat, lon * max(cos0, 0.05)], axis=1)
        # randomized forest: independent trees, seeds offset per tree
        # (reference: BspTreeIndexBuilder trees param,
        # /root/reference/index/bsp_tree_index.go:128-159)
        trees = [
            kdtree.build(pts, leaf_size=leaf_size, seed=gseed + 7 * t, kind=kind)
            for t in range(n_trees)
        ]
        urls = pdf["url"].to_numpy(dtype=object)
        checksum = hashlib.sha256("\n".join(sorted(map(str, urls))).encode()).hexdigest()[:16]
        # compact v2 payload: urls stay compressed inside the blob, tree
        # arrays downcast — ~2.4x fewer bytes streamed per probe (tree
        # serving is membw-bound; see kdtree.pack_payload)
        blob = kdtree.pack_payload(trees, urls, lat, lon, cos0)
        return pd.DataFrame(
            {
                "parent": [parent],
                "salt": [salt],
                "n_rows": [len(pdf)],
                "seed": [gseed],
                "checksum": [checksum],
                "blob": [blob],
            }
        )

    return prepared.groupBy("parent", "salt").applyInPandas(build_group, TREE_SCHEMA)


def incremental_add(
    cells_old: DataFrame,
    trees_old: DataFrame,
    new_geo: DataFrame,
    res: int = 7,
    parent_res: int = 4,
    seed: int = 42,
    leaf_size: int = kdtree.LEAF_SIZE,
    kind: str = "kd",
    n_trees: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """MutableIndex.Add, distributed (reference: flat-only append,
    /root/reference/index/flat_index.go:88-90; here the tree index is
    incrementally maintainable too). Returns (cells_new, trees_new).

    New pages are encoded and salted with each parent's EXISTING salt factor
    (so group membership of old rows never moves), then ONLY the (parent,
    salt) groups that received rows are rebuilt — an Iceberg append plus a
    partial blob refresh keyed by the lineage group ids. Because blob builds
    are a pure function of (row set, seed) (rows are sorted inside the build
    UDF), an incremental add is bit-equivalent to a from-scratch build
    whenever the salt factors are unchanged (tests/test_index_build.py).
    """
    factors = trees_old.groupBy("parent").agg(
        (F.max("salt") + 1).alias("_f")
    )
    new_cells = (
        encode_pages(new_geo, res, parent_res)
        .join(F.broadcast(factors), "parent", "left")
        .withColumn("_f", F.coalesce(F.col("_f"), F.lit(1)).cast("int"))
        .withColumn("salt", F.pmod(F.xxhash64("url"), F.col("_f")).cast("int"))
        .drop("_f")
    )
    cells_new = cells_old.unionByName(new_cells.select(cells_old.columns))
    affected = new_cells.select("parent", "salt").distinct()
    rebuilt = build_tree_blobs(
        cells_new.join(affected, ["parent", "salt"], "semi"),
        seed=seed, leaf_size=leaf_size, kind=kind, n_trees=n_trees,
    )
    trees_new = trees_old.join(affected, ["parent", "salt"], "anti").unionByName(
        rebuilt
    )
    return cells_new, trees_new


def lineage(trees: DataFrame) -> DataFrame:
    """Per-partition lineage rows (no blob): the auditable build record."""
    return trees.select("parent", "salt", "n_rows", "seed", "checksum")


def _plan_routes(batch: pd.DataFrame, parent_res: int, ring: int | None) -> pd.DataFrame:
    """The batch's routes: one row per parent cell, holding the queries
    whose ring of parents contains it -> (parent, qid[], qlat[], qlon[]).

    A query's ring is ``geo.ring_cells`` of its parent cell: x wraps, y
    clips at the poles, one entry per (query, parent). ``ring=None`` is a
    ring wide enough to hold every parent of the grid."""
    nx, ny = 2 << parent_res, 1 << parent_res
    r = nx if ring is None else ring
    qlat, qlon = batch["lat"].to_numpy(np.float64), batch["lon"].to_numpy(np.float64)
    qx, qy = _cell_xy(qlat, qlon, parent_res)
    # offsets past a full wrap would repeat columns: take each column once
    dx = np.arange(-r, r + 1) if 2 * r + 1 < nx else np.arange(nx)
    y = qy[:, None] + np.arange(-min(r, ny), min(r, ny) + 1)
    qi, yj = np.nonzero((y >= 0) & (y < ny))
    x = (qx[qi, None] + dx) % nx
    parent = (parent_res * geo._R_SHIFT + x * geo._X_SHIFT + y[qi, yj][:, None]).ravel()
    q = np.repeat(qi, len(dx))
    order = np.lexsort((q, parent))
    parents, starts = np.unique(parent[order], return_index=True)
    groups = np.split(q[order], starts[1:]) if len(order) else []
    qid = batch["query_id"].to_numpy(np.int64)
    return pd.DataFrame({
        "parent": parents,
        "qid": [qid[g] for g in groups],
        "qlat": [qlat[g] for g in groups],
        "qlon": [qlon[g] for g in groups],
    })


def knn_tree(
    trees: DataFrame,
    queries: DataFrame,
    k: int = 10,
    search_k: int = 64,
    parent_res: int = 4,
    ring: int | None = 1,
) -> DataFrame:
    """Approximate kNN served from tree blobs -> (query_id, rk, url, dist_km).

    The driver plans the routes: it collects the batch (a query with a NULL
    or NaN coordinate gets no rows) and enumerates each query's
    (2*ring+1)^2 parent cells in numpy (:func:`_plan_routes`; ``ring=None``
    -> every parent: full coverage, and with ``search_k`` >= blob leaves
    the result is EXACT — reference invariant 3,
    /root/reference/countrymaam_test.go:212). ``parent_res`` must be the
    blob table's. The route table, one row of query arrays per parent, is
    broadcast while its (query, parent) count fits the shared gate
    (operators/adaptive.py) and is otherwise a shuffle join; it joins the
    blob table on ``parent`` alone, so every salt of a parent meets the
    parent's queries. Inside ``mapInPandas`` each blob searches its whole
    query batch vectorized: a numpy brute top-k when the budget covers the
    blob's leaves, else the BATCHED box-bound kd descent
    (kdtree.search_batch) with the ``search_k`` leaf budget — no per-query
    Python walk either way. Each candidate carries its query's coordinates,
    so the union is exact-haversine re-ranked without a re-join. Recall is
    monotone in ``search_k`` and ``ring`` (reference budget semantics)."""
    spark = trees.sparkSession
    routes = _plan_routes(_query_batch(queries), parent_res, ring)
    n_routes = int(routes["qid"].map(len).sum())
    probed = trees.join(
        gate_broadcast(spark.createDataFrame(routes, ROUTE_SCHEMA), n_routes), "parent"
    )

    def gen(batches):
        for pdf in batches:
            outs = []
            for blob, qid, qla, qlo in zip(pdf["blob"], pdf["qid"], pdf["qlat"], pdf["qlon"]):
                qid = np.asarray(qid, dtype=np.int64)
                qla = np.asarray(qla, dtype=np.float64)
                qlo = np.asarray(qlo, dtype=np.float64)
                payload = kdtree.unpack_payload(blob)
                trees_l = payload["trees"]
                url_buf, url_off = payload["url_buf"], payload["url_off"]
                lat, lon, cos0 = payload["lat"], payload["lon"], payload["cos0"]
                n = len(lat)
                if n == 0:
                    continue
                sc = max(cos0, 0.05)
                pts = np.stack([lat, lon * sc], axis=1)
                qpts = np.stack([qla, qlo * sc], axis=1)
                n_leaves = max(
                    int(((t["left"] == 0) & (t["right"] == 0)).sum()) for t in trees_l
                )
                rows_q, rows_i = [], []
                if search_k >= n_leaves:
                    # budget covers every leaf -> exact within the blob. Rank
                    # by the TRUE great-circle ordering, not the scaled-L2
                    # build metric — per-blob L2 top-k can drop a true
                    # neighbor and break the full-budget-exact invariant.
                    # Ranking trick: haversine and 3D CHORD distance are both
                    # strictly monotone in the central angle, so top-k by
                    # chord == top-k by haversine EXACTLY — and chord is one
                    # unit-vector matmul (BLAS) per chunk instead of six
                    # transcendentals per (query, point). Tie-inclusive
                    # (>= kth_dot - eps) so the Spark-side exact-haversine
                    # re-rank sees a strict superset of the global top-k.
                    kk = min(k, n)
                    qra, qro = np.radians(qla), np.radians(qlo)
                    pla = np.radians(np.asarray(lat, dtype=np.float64))
                    plo = np.radians(np.asarray(lon, dtype=np.float64))
                    X = np.stack(
                        [np.cos(pla) * np.cos(plo), np.cos(pla) * np.sin(plo), np.sin(pla)],
                        axis=1,
                    )  # (n, 3) unit vectors — transcendentals O(n), once per blob
                    Qm = np.stack(
                        [np.cos(qra) * np.cos(qro), np.cos(qra) * np.sin(qro), np.sin(qra)],
                        axis=1,
                    )
                    Xt = X.T.copy()
                    nd_buf = np.empty((min(256, len(qra)), n))
                    for s in range(0, len(qra), 256):
                        # reused out= buffer: fresh mmap-sized temporaries
                        # first-touch-fault at seconds-per-40MB on this box
                        # (see kdtree.search_batch) — allocate once per blob
                        nd = nd_buf[: min(256, len(qra) - s)]
                        np.matmul(Qm[s : s + 256], Xt, out=nd)
                        np.negative(nd, out=nd)  # ascending == nearer first
                        # per-row partition loop, NOT np.partition(axis=1):
                        # the axis-1 introselect is ~9x slower than C
                        # contiguous per-row partitions (microbenchmarked);
                        # this loop costs ~15 ms per 256-query chunk
                        for r in range(nd.shape[0]):
                            kth = np.partition(nd[r], kk - 1)[kk - 1] if kk < n else nd[r].max()
                            sel = np.flatnonzero(nd[r] <= kth + 1e-12)
                            rows_q.append(np.full(len(sel), s + r))
                            rows_i.append(sel)
                else:
                    # batched budgeted descent: the whole query batch runs
                    # against each tree in vectorized numpy (box-bound leaf
                    # selection; no per-query Python heap walk — the serving
                    # constant behind the r2 sweep's 0.59 efficiency)
                    tq, ti = [], []
                    for tree in trees_l:  # forest union, dedup by id below
                        bq, bi = kdtree.search_batch(
                            tree, pts, qpts, k, max_leaves=search_k
                        )
                        tq.append(bq)
                        ti.append(bi)
                    aq = np.concatenate(tq) if tq else np.empty(0, np.int64)
                    ai = np.concatenate(ti) if ti else np.empty(0, np.int64)
                    if len(aq):
                        uniq = np.unique(aq * np.int64(n) + ai)
                        rows_q.append(uniq // n)
                        rows_i.append(uniq % n)
                if not rows_q:
                    continue
                qsel = np.concatenate(rows_q)
                isel = np.concatenate(rows_i)
                outs.append(
                    pd.DataFrame(
                        {
                            "query_id": qid[qsel],
                            # decode ONLY the candidate urls out of the
                            # packed buffer — per-probe decode cost scales
                            # with candidates, not blob rows
                            "url": kdtree.decode_urls(url_buf, url_off, isel),
                            "lat": np.asarray(lat, dtype=np.float64)[isel],
                            "lon": np.asarray(lon, dtype=np.float64)[isel],
                            "qlat": qla[qsel],
                            "qlon": qlo[qsel],
                        }
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(
                    {"query_id": pd.Series(dtype="int64"), "url": pd.Series(dtype=object),
                     "lat": pd.Series(dtype="float64"), "lon": pd.Series(dtype="float64"),
                     "qlat": pd.Series(dtype="float64"), "qlon": pd.Series(dtype="float64")}
                )
            )

    cands = probed.select("blob", "qid", "qlat", "qlon").mapInPandas(gen, CAND_SCHEMA)
    scored = cands.withColumn(
        "dist_km",
        geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")),
    )
    # a url sits in one blob and a blob meets each query once: no dedup
    out = topk_per_group(
        scored.select("query_id", "url", "dist_km"), ["query_id"], "dist_km", "url", k,
        dedup=False,
    )
    return out.select("query_id", "rk", "url", F.round("dist_km", 6).alias("dist_km"))
