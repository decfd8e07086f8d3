"""kNN joins over geotagged pages.

Two paths, mirroring the reference's index zoo:

- ``flat_knn`` — exact brute force: broadcast the query set against the full
  corpus and re-rank. The Spark form of ``FlatIndex.SearchChannel``
  (/root/reference/index/flat_index.go:26-82) + the top-k finalizer
  (/root/reference/countrymaam.go:38-69). This is the permanent verification
  oracle, and the right plan when |queries| is small enough to broadcast —
  one pass over the corpus, no shuffle of the big side.

- ``cell_knn`` — candidate generation via a cell probe + exact haversine
  re-rank, the Spark form of best-first tree descent + re-rank (reference
  index/bsp_tree_index.go:35-92). The driver plans each query's probe from
  the per-cell counts (the reference plans from subtree counts,
  bsp_tree/bsp_tree.go:22-60): the smallest ring holding k points bounds
  the k-th distance by D, and the probe is every non-empty cell whose
  sound lower bound is <= D — the reference's leaf pruning by a lower
  bound, with the bound known up front — so ONE probe is exact while
  touching only candidate cells. It has no candidate budget: the
  reference's recall-vs-effort knob (countrymaam.go:40-45) is
  ``index_build.knn_tree(search_k=)``.

A query or page with a NULL or NaN coordinate has no location
(``geo.located``): every kNN path here returns no rows for such a query and
never returns such a page, and the DuckDB oracles drop both the same way.

Corpus urls are keys. Every corpus row is a candidate and no path
deduplicates (query_id, url) before its top-k, so a url stored twice is
two candidates, and both can be returned, by ``flat_knn``, ``cell_knn``
and ``index_build.knn_tree`` alike (the tree blobs hold each corpus row
exactly once, pytest-pinned).

Scale notes (100 TB corpus):
- EVERY corpus probe is a hash equi-join on ``cell`` — never a per-pair
  predicate scan and never a per-row explode of the corpus: ``cell_knn``
  ships one (query, cell) row per probed non-empty cell, so its probe table
  is never larger than the candidates it yields; the radius joins explode
  each query's ring of cells.
- the (query, cell) side is broadcast while small (sized exactly from the
  plan) and becomes a distributed shuffle join beyond ~1M rows; the corpus
  side never shuffles (at cluster scale it is a cell-bucketed table).
- the plan runs on the driver: the batch and the ``lv == res`` slice of the
  count lut are collected, and the dense count grid and its summed-area
  table take 2^(2 res + 1) int64 each (256 KB at res 7, 64 MB at res 11).
"""

from __future__ import annotations

import math
import time

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from countrymaam_spark.functions import geo
from countrymaam_spark.operators.adaptive import gate_broadcast
from countrymaam_spark.operators.topk import topk_per_group


def _widen(narrow: DataFrame) -> DataFrame:
    """Repartition an under-partitioned narrow corpus projection up to the
    session parallelism.

    A few-MB geo snapshot yields 1-3 parquet splits; a crossJoin then
    amplifies |queries|x rows INSIDE those few tasks, and the window's
    partial top-k sorts millions of rows single-threaded per task (measured:
    13s of a 14s flat_knn at sf0.1 in 3 tasks). The 3 MB shuffle that fixes
    the layout is noise. A 100 TB corpus scan arrives well-partitioned, so
    this only ever triggers on small/compacted inputs.
    """
    spark = narrow.sparkSession
    target = spark.sparkContext.defaultParallelism
    if narrow.rdd.getNumPartitions() < max(2, target // 2):
        return narrow.repartition(target)
    return narrow


def _query_batch(queries: DataFrame) -> pd.DataFrame:
    """The valid queries collected to the driver as pandas (query_id, lat,
    lon as doubles): the one job a driver-planned serving call spends on
    its batch."""
    return geo.located(queries).select(
        "query_id", F.col("lat").cast("double"), F.col("lon").cast("double")
    ).toPandas()


def _cell_xy(lat: np.ndarray, lon: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """(x, y) of the cell at ``res`` holding each point, by
    ``geo.encode_cell``'s exact float arithmetic (numpy, for driver plans)."""
    cd = geo.cell_deg(res)
    x = np.clip(np.floor((lon + 180.0) / cd), 0, (2 << res) - 1).astype(np.int64)
    y = np.clip(np.floor((lat + 90.0) / cd), 0, (1 << res) - 1).astype(np.int64)
    return x, y


def flat_knn(pages_geo: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact kNN: (query_id, rk, url, dist_km). pages_geo needs url/lat/lon;
    queries needs query_id/lat/lon."""
    q = F.broadcast(
        geo.located(queries).select(
            "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
        )
    )
    pairs = (
        _widen(geo.located(pages_geo).select("url", "lat", "lon"))
        .crossJoin(q)
        .withColumn(
            "dist_km",
            geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")),
        )
    )
    # pairs are unique by construction (unique urls x unique queries):
    # dedup=False skips a full shuffle of the pair set (explain-verified).
    # Project to the 3 columns the top-k needs BEFORE the window: the partial
    # WindowGroupLimit sorts the full pair set per task, and sort cost here is
    # row-width-bound (guide §2.3 "project before the exchange"; measured ~2x
    # on the 20M-pair metro probe for the cell_knn sibling of this window).
    out = topk_per_group(
        pairs.select("query_id", "url", "dist_km"),
        ["query_id"], "dist_km", "url", k, dedup=False,
    )
    return out.select(
        "query_id", "rk", "url", F.round("dist_km", 6).alias("dist_km")
    )


def flat_knn_sql(pages_rel: str, queries_rel: str, k: int = 10) -> str:
    """DuckDB oracle: identical semantics, identical haversine formula."""
    hav = geo.haversine_km_sql("p.lat", "p.lon", "q.lat", "q.lon")
    return f"""
        SELECT query_id, rk, url, ROUND(dist_km, 6) AS dist_km
        FROM (
            SELECT q.query_id, p.url,
                   {hav} AS dist_km,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {hav} ASC, p.url ASC
                   ) AS rk
            FROM {pages_rel} p, {queries_rel} q
            WHERE {geo.valid_point_sql('p.lat', 'p.lon')}
              AND {geo.valid_point_sql('q.lat', 'q.lon')}
        ) t
        WHERE rk <= {k}
    """


def build_cell_stats(pages_geo: DataFrame, res: int, cell_col: str | None = None) -> DataFrame:
    """Per-cell page counts at the index resolution — the cell index's
    STATISTICS STATE (cell, cnt).

    The Spark analog of the reference's subtree sizes
    (reference bsp_tree/bsp_tree.go:22-60): node ranges ARE counts, and
    they are built once at index-build time, not per query. The index
    persists only their multi-level rollup (:func:`build_cell_lut`, whose
    ``lv == res`` slice is this table); the plain table still serves
    ``cell_knn(stats=...)`` and :func:`cell_density` directly. At 10^12 rows
    the per-batch corpus ``groupBy(cell)`` either replaces is a full-table
    shuffle per query batch.
    """
    cell = F.col(cell_col) if cell_col else geo.encode_cell(
        F.col("lat"), F.col("lon"), res
    )
    return (
        geo.located(pages_geo)
        .select(cell.alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("cnt"))
    )


def update_cell_stats(
    stats_old: DataFrame, new_pages_geo: DataFrame, res: int, cell_col: str | None = None
) -> DataFrame:
    """Merge an append batch into the cell-count statistics state.

    The incremental-maintenance half of :func:`build_cell_stats` — the cell
    index's MutableIndex.Add (reference: flat-only append,
    /root/reference/index/flat_index.go:88-90). An Iceberg append of new
    pages only ever touches per-cell DELTAS: aggregate the batch (|batch|
    rows, not the corpus), then one outer merge against the ~|cells|-row
    stats table. Commutative and associative, so any append order yields the
    same state, and the result is exactly ``build_cell_stats`` over the
    unioned corpus (pytest-pinned).
    """
    return merge_counts(
        stats_old, build_cell_stats(new_pages_geo, res, cell_col=cell_col), ["cell"], "cnt"
    )


def merge_counts(old: DataFrame, delta: DataFrame, keys: list[str], cnt: str) -> DataFrame:
    """``old`` plus ``delta``, two count tables keyed by ``keys``: one
    full-outer join, and the ``cnt`` columns added with a missing side
    counting 0. Commutative and associative, so any order of appends gives
    the same table as one count over all of them."""
    return (
        old.withColumnRenamed(cnt, "_a")
        .join(delta.withColumnRenamed(cnt, "_b"), keys, "full_outer")
        .select(
            *keys,
            (F.coalesce(F.col("_a"), F.lit(0)) + F.coalesce(F.col("_b"), F.lit(0))).alias(cnt),
        )
    )


def _plan_levels(res: int) -> list[int]:
    """The levels of the count lut (finest first). ``cell_knn`` plans from
    the finest, ``lv == res``."""
    return [lv for lv in range(res, res - 5, -1) if lv >= 0]


def lut_rows(df: DataFrame, res: int, *carry: str) -> DataFrame:
    """(*carry, lv, cell): each row of ``df`` (a ``cell`` at ``res``)
    exploded into one row per lut level, holding its ancestor cell at that
    level. The lut is these rows counted per (lv, cell), whether a batch
    build sums them (:func:`build_cell_lut`) or a stream counts them
    (``streaming.maintain.maintain_cell_lut_stream``)."""
    lc = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(lv).alias("lv"),
                    geo.cell_parent(F.col("cell"), lv, res).alias("cell"),
                )
                for lv in _plan_levels(res)
            ]
        )
    ).alias("lc")
    return df.select(*carry, lc).select(
        *carry, F.col("lc.lv").alias("lv"), F.col("lc.cell").alias("cell")
    )


def build_cell_lut(stats: DataFrame, res: int) -> DataFrame:
    """Multi-level count lookup table (lv, cell, cnt): the per-cell counts
    of :func:`build_cell_stats` and their rollups to the 4 coarser levels
    (<= 5x|cells| rows, one shuffle to build).

    The index persists THIS table; pass it as ``cell_knn(stats=...)`` and
    the planner detects the ``lv`` column and collects only its
    ``lv == res`` slice. Appends maintain it the same way as the stats
    table: roll up the batch's delta lut and merge per (lv, cell). Built
    in ONE shuffle: the explode of :func:`lut_rows` and a single groupBy."""
    return lut_rows(stats, res, "cnt").groupBy("lv", "cell").agg(F.sum("cnt").alias("cnt"))


def update_cell_lut(
    lut_old: DataFrame, new_pages_geo: DataFrame, res: int, cell_col: str | None = None
) -> DataFrame:
    """Merge an append batch into the multi-level planning lut.

    Counts are additive at every level, so the delta lut of the batch
    (|batch distinct cells| x 5 rows) merges with one outer join per
    (lv, cell) — the same commutative contract as :func:`update_cell_stats`;
    the result equals ``build_cell_lut`` over the unioned corpus
    (pytest-pinned)."""
    delta = build_cell_lut(build_cell_stats(new_pages_geo, res, cell_col=cell_col), res)
    return merge_counts(lut_old, delta, ["lv", "cell"], "cnt")


def _cell_corpus(pages_geo: DataFrame, res: int, cell_col: str | None = None) -> DataFrame:
    """(url, lat, lon, cell) of every geotagged page, widened: ``cell`` is
    ``cell_col`` of a corpus already encoded at ``res`` (index state: no
    per-batch encode) or ``geo.encode_cell`` at ``res``."""
    cell = F.col(cell_col) if cell_col else geo.encode_cell(F.col("lat"), F.col("lon"), res)
    return _widen(
        geo.located(pages_geo).select("url", "lat", "lon", cell.alias("cell"))
    )


def _plan_rings(
    qlat: np.ndarray, qlon: np.ndarray, cells: np.ndarray, cnts: np.ndarray,
    res: int, k: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-query distance bound (D, ry) from the per-cell counts: the k
    nearest points lie within D of the query, and every cell holding a point
    within D lies in rows ``qy - ry .. qy + ry``.

    1. The count ring: the smallest Chebyshev ring r around the query cell
       holding >= k points, found by a binary search over a summed-area
       table of the count grid (longitude wraps, latitude clips at the
       poles) — countrymaam's descent by subtree counts
       (bsp_tree/bsp_tree.go:22-60), as one table lookup per step.
    2. Its k points lie within D of the query: for any point of the ring,
       hav(d) <= hav(dphi_max) + cos(qlat) * maxcos * hav(dlam_max), with
       the largest latitude / wrapped longitude offsets and the largest
       cos(lat) over the ring's rows.
    3. ry from the meridian bound: a row more than ry rows away is more than
       ry * cd degrees of latitude, so more than D, from the query.

    A corpus with fewer than k points gives D = inf and every row. Counts
    that trail the corpus's only widen D; counts ABOVE the corpus's would
    break exactness, so ``stats`` must never lead the corpus it describes."""
    nx, ny = 2 << res, 1 << res
    cd = geo.cell_deg(res)
    n = len(qlat)
    if int(cnts.sum()) < k:  # the whole globe: every point is a neighbour
        return np.full(n, np.inf), np.full(n, ny, np.int64)
    grid = np.zeros((ny, nx), np.int64)
    np.add.at(grid, (cells % geo._X_SHIFT, (cells % geo._R_SHIFT) // geo._X_SHIFT), cnts)
    sat = np.zeros((ny + 1, nx + 1), np.int64)
    sat[1:, 1:] = grid.cumsum(0).cumsum(1)
    qx, qy = _cell_xy(qlat, qlon, res)

    def ring_count(r: np.ndarray) -> np.ndarray:
        y0 = np.maximum(qy - r, 0)
        y1 = np.minimum(qy + r, ny - 1) + 1

        def left_of(x):  # the ring's rows, columns < x
            return sat[y1, x] - sat[y0, x]

        lo, hi = (qx - r) % nx, (qx + r + 1) % nx
        part = np.where(lo < hi, left_of(hi) - left_of(lo), left_of(nx) - left_of(lo) + left_of(hi))
        return np.where(2 * r + 1 >= nx, left_of(nx), part)

    lo, hi = np.zeros(n, np.int64), np.full(n, ny, np.int64)  # ring ny: every cell
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = ring_count(mid) >= k
        lo, hi = np.where(ok, lo, mid + 1), np.where(ok, mid, hi)
    r = lo

    lat_lo = np.maximum((qy - r) * cd - 90.0, -90.0)
    lat_hi = np.minimum((qy + r + 1) * cd - 90.0, 90.0)
    dphi = np.maximum(qlat - lat_lo, lat_hi - qlat)
    dlam = np.where(
        2 * r + 1 >= nx, 180.0,
        np.minimum(
            np.maximum(qlon - ((qx - r) * cd - 180.0), (qx + r + 1) * cd - 180.0 - qlon), 180.0
        ),
    )
    maxcos = np.where(
        (lat_lo <= 0) & (lat_hi >= 0), 1.0,
        np.cos(np.radians(np.minimum(np.abs(lat_lo), np.abs(lat_hi)))),
    )
    hav = (np.sin(np.radians(dphi) / 2) ** 2
           + np.cos(np.radians(qlat)) * maxcos * np.sin(np.radians(dlam) / 2) ** 2)
    d = 2.0 * geo.EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(hav, 1.0)))
    # slack far above float error in the engine's haversine, the cell floors
    # and the probe's lower bound
    d = d * (1 + 1e-9) + 1e-6
    ry = np.minimum(np.floor(d / (cd * geo.KM_PER_DEG)).astype(np.int64) + 1, ny)
    return d, ry


def _probe_table(
    batch: pd.DataFrame, d: np.ndarray, ry: np.ndarray, cells: np.ndarray, res: int
) -> pd.DataFrame:
    """The probe (query_id, qlat, qlon, cell): every cell of ``cells`` (the
    non-empty cells at ``res``) in the query's rows ``qy +- ry`` whose lower
    bound ``geo.bbox_min_dist_km_np`` is <= the query's D — every cell that
    can hold one of its k nearest points, and no empty one.

    Vectorized over the batch: with the cells sorted by (y, x), one
    ``searchsorted`` slice per query holds its rows."""
    nx, ny = 2 << res, 1 << res
    cd = geo.cell_deg(res)
    x, y = (cells % geo._R_SHIFT) // geo._X_SHIFT, cells % geo._X_SHIFT
    order = np.argsort(y * nx + x)
    cells, x, y = cells[order], x[order], y[order]
    qlat, qlon = batch["lat"].to_numpy(float), batch["lon"].to_numpy(float)
    _, qy = _cell_xy(qlat, qlon, res)
    key = y * nx + x
    lo = np.searchsorted(key, np.maximum(qy - ry, 0) * nx)
    n = np.searchsorted(key, (np.minimum(qy + ry, ny - 1) + 1) * nx) - lo
    # bound the (query, cell) pairs in slices of the batch holding about
    # max(|cells|, |batch|) pairs each, so the transient stays a small
    # multiple of the arrays already on the driver (a 19.6k-query self-join
    # has 3.7M pairs)
    block = (np.cumsum(n) - n) // max(len(cells), len(batch))
    kept = []
    for qs in np.split(np.arange(len(batch)), np.flatnonzero(np.diff(block)) + 1):
        q = np.repeat(qs, n[qs])
        i = np.arange(len(q)) - np.repeat(np.cumsum(n[qs]) - n[qs], n[qs]) + lo[q]
        lb = geo.bbox_min_dist_km_np(
            qlat[q], qlon[q], y[i] * cd - 90.0, (y[i] + 1) * cd - 90.0,
            x[i] * cd - 180.0, (x[i] + 1) * cd - 180.0,
        )
        keep = lb <= d[q]
        kept.append((q[keep], i[keep]))
    q, i = (np.concatenate(a) for a in zip(*kept))
    return pd.DataFrame({
        "query_id": batch["query_id"].to_numpy()[q], "qlat": qlat[q], "qlon": qlon[q],
        "cell": cells[i],
    })


def _parent_cover(probe: pd.DataFrame, res: int, ppr: int) -> list[int]:
    """The distinct parent cells at ``ppr`` of the probed cells: exactly the
    directories the probe reads rows from."""
    c, d = probe["cell"].to_numpy(np.int64), res - ppr
    return np.unique(
        ppr * geo._R_SHIFT + (((c % geo._R_SHIFT) // geo._X_SHIFT) >> d) * geo._X_SHIFT
        + ((c % geo._X_SHIFT) >> d)
    ).tolist()


def cell_knn(
    pages_geo: DataFrame,
    queries: DataFrame,
    k: int = 10,
    res: int = 7,
    timings: dict | None = None,
    cell_col: str | None = None,
    stats: DataFrame | None = None,
    partition_parent_res: int | None = None,
) -> DataFrame:
    """Exact kNN via ONE count-bounded cell probe + re-rank.

    The driver plans the batch: it collects the queries (a query with a NULL
    or NaN coordinate gets no rows) and the per-cell counts, bounds each
    query's k-th distance by D (:func:`_plan_rings`) and probes exactly the
    non-empty cells whose lower bound is <= D (:func:`_probe_table`), which
    provably hold the exact top-k. The returned DataFrame is lazy: the
    probe, the exact haversine and the top-k run in the caller's action.
    There is no candidate budget; ``index_build.knn_tree`` is the budgeted
    path.

    The counts come from ``stats`` — the planning lut from
    :func:`build_cell_lut` (its ``lv == res`` slice) that
    ``load_cell_state`` returns, or a plain :func:`build_cell_stats` table —
    or, without ``stats``, from one aggregation over the corpus. Every cell
    the corpus holds a page in must have a positive count: the probe reads
    only counted cells. Index-state serving (the production shape) passes
    ``stats`` plus ``cell_col`` naming a column of ``pages_geo`` already
    encoded at ``res`` (the persisted, cell-bucketed corpus table): serving
    then performs NO per-batch corpus encode and NO corpus aggregation; only
    the probe touches the corpus. Both are opt-in and explicit because a
    stray ``cell`` column encoded at a different resolution would silently
    corrupt candidate generation. Results are bit-identical to the
    stateless path (pytest-pinned).

    ``partition_parent_res``: when the persisted corpus is
    directory-partitioned on a coarse ``parent`` cell
    (``build_cell_pipeline(partition_parent_res=...)``), pass that res here
    and the probe reads ONLY the directories of its probed cells — a
    literal ``parent IN (...)`` planned on the driver from the distinct
    parents of the probe's cells (the IVF probed-list prune, spatially). A
    metro-concentrated batch then scans that metro's files instead of the
    whole corpus. The prune is skipped when the cover reaches half the
    parent grid (a scan is cheaper than a 1000-term IN).

    ``timings`` receives ``plan_radius`` (the driver plan's seconds),
    ``probe_rows`` (the probe table's rows), ``cands_per_query_p50`` and
    ``cands_per_query_max`` (the counted pages of each query's probed
    cells: the candidates it examines) and, when a prune cover is planned,
    ``prune_parents_round0`` (its size).
    """
    t0 = time.time()
    spark = pages_geo.sparkSession
    if partition_parent_res is not None:
        if cell_col is None or "parent" not in pages_geo.columns:
            raise ValueError(
                "partition_parent_res needs the persisted parent-partitioned "
                "corpus (cell_col= plus a 'parent' column)"
            )
        if partition_parent_res > res:
            raise ValueError("partition_parent_res must be <= res")

    qid = queries.schema["query_id"]
    batch = _query_batch(queries)
    if batch.empty:
        return spark.createDataFrame([], StructType([
            StructField("query_id", qid.dataType), StructField("rk", IntegerType()),
            StructField("url", StringType()), StructField("dist_km", DoubleType()),
        ]))
    if stats is not None and "lv" in stats.columns:
        counts = stats.filter(F.col("lv") == res)
    elif stats is not None:
        counts = stats
    else:
        counts = build_cell_stats(pages_geo, res, cell_col=cell_col)
    counts = counts.select("cell", "cnt").toPandas()
    cells, cnts = counts["cell"].to_numpy(np.int64), counts["cnt"].to_numpy(np.int64)
    if (cells // geo._R_SHIFT != res).any():
        raise ValueError(f"stats cells are not at res {res}")
    d, ry = _plan_rings(
        batch["lat"].to_numpy(float), batch["lon"].to_numpy(float), cells, cnts, res, k
    )
    probe = _probe_table(batch, d, ry, cells, res)
    source = pages_geo
    if partition_parent_res is not None:
        probed = _parent_cover(probe, res, partition_parent_res)
        if timings is not None:
            timings["prune_parents_round0"] = len(probed)
        if 2 * len(probed) <= (2 << partition_parent_res) << partition_parent_res:
            # filter BEFORE the narrow projection: the prune column is the
            # directory key and must reach the scan to prune at plan time
            source = pages_geo.filter(F.col("parent").isin(probed))
    if timings is not None:
        seen = probe["cell"].map(pd.Series(cnts, index=cells)).groupby(probe["query_id"]).sum()
        seen = seen.reindex(batch["query_id"], fill_value=0)
        timings.update(
            plan_radius=time.time() - t0, probe_rows=len(probe),
            cands_per_query_p50=float(seen.median()), cands_per_query_max=int(seen.max()),
        )

    # ONE hash equi-join on cell probes the whole batch: the shipped probe
    # table holds one row per (query, probed cell)
    probe_df = spark.createDataFrame(
        probe,
        StructType([
            StructField("query_id", qid.dataType), StructField("qlat", DoubleType()),
            StructField("qlon", DoubleType()), StructField("cell", LongType()),
        ]),
    )
    cands = (
        gate_broadcast(probe_df, len(probe))
        .join(_cell_corpus(source, res, cell_col), "cell")
        .withColumn(
            "dist_km",
            geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")),
        )
    )
    # probed cells are distinct per query and urls unique per cell -> (query,
    # url) pairs are unique; no dedup shuffle. Project to the 3 columns the
    # top-k needs BEFORE the window (measured 7.3 s -> 3.9 s on the 20M-pair
    # metro probe).
    ranked = topk_per_group(
        cands.select("query_id", "url", "dist_km"), ["query_id"], "dist_km", "url", k,
        dedup=False,
    )
    return ranked.select("query_id", "rk", "url", F.round("dist_km", 6).alias("dist_km"))


def _radius_ring(q: DataFrame, radius_km: Column, res: int) -> DataFrame:
    """Each row of ``q`` (point columns ``qlat``/``qlon``) times every cell
    of its ring sized for the per-row ``radius_km``: each point within that
    great-circle distance of the row's point lies in one of the ring's
    cells. -> ``q``'s columns + ``cell``, broadcast while the table is
    small (:func:`adaptive.gate_broadcast`).

    The ring inverts the cell pruning bound for the radius, so it is sized
    analytically, per row, with no driver loop:

    - ``ry`` (latitude cells) depends only on the radius: the meridian
      guarantee ``ry*cd*KM_PER_DEG > radius`` holds with
      ``ry = ceil(radius_deg/cd) + 1`` (the +1 keeps it strict when the
      radius is an exact cell multiple).
    - ``rx`` (longitude cells) inverts the band-edge bound
      ``2R*cmin*sin(rx*cd/2)``, with ``cmin`` the cosine at the ring's
      pole-ward edge: ``rx = ceil(2*asin(radius/(2R*cmin))/cd) + 1``. Once
      the argument leaves asin's domain (``cmin`` -> 0 near the poles, or a
      radius near antipodal) the ring is the full-wrap latitude band.

    One small driver action sizes the exploded table (an upper bound) for
    the gate.
    """
    nx, ny = 2 << res, 1 << res
    cd = geo.cell_deg(res)
    ry = F.least(
        (F.ceil(radius_km / F.lit(geo.KM_PER_DEG) / F.lit(cd)) + 1).cast("long"),
        F.lit(ny).cast("long"),
    )
    cmin = F.greatest(
        F.cos(
            F.radians(
                F.least(
                    F.abs(F.col("qlat")) + (ry + 1).cast("double") * F.lit(cd),
                    F.lit(90.0),
                )
            )
        ),
        F.lit(0.0),
    )
    s = radius_km / F.lit(2.0 * geo.EARTH_RADIUS_KM) / F.greatest(cmin, F.lit(1e-15))
    rx_needed = (
        F.ceil(F.degrees(F.asin(F.least(s, F.lit(1.0))) * 2.0) / F.lit(cd)) + 1
    ).cast("long")
    rx = F.when(s >= 1.0, F.lit(nx // 2).cast("long")).otherwise(
        F.least(rx_needed, F.lit(nx // 2).cast("long"))
    )
    sized = q.withColumn("_rx", rx).withColumn("_ry", ry)
    est = sized.agg(
        F.sum(
            F.least(F.col("_rx") * 2 + 1, F.lit(nx))
            * F.least(F.col("_ry") * 2 + 1, F.lit(ny))
        )
    ).collect()[0][0]
    qcell = geo.encode_cell(F.col("qlat"), F.col("qlon"), res)
    exploded = sized.select(
        *q.columns,
        F.explode(geo.ring_cells_xy(qcell, res, F.col("_rx"), F.col("_ry"))).alias("cell"),
    )
    return gate_broadcast(exploded, int(est or 0))


def radius_join(
    pages_geo: DataFrame,
    queries: DataFrame,
    radius_km: float,
    res: int = 7,
    cell_col: str | None = None,
) -> DataFrame:
    """Exact within-distance spatial join: every (query, page) pair with
    ``haversine <= radius_km`` — (query_id, url, dist_km).

    The range-query sibling of :func:`cell_knn` (the reference exposes only
    kNN, /root/reference/index/bsp_tree_index.go:35-92, but its
    candidates-then-verify pattern IS the range join once the pruning bound
    is inverted): where the kNN bounds its k-th distance from the cell
    counts first, the fixed radius sizes each query's ring analytically
    (:func:`_radius_ring`), so every point outside the enumerated ring is
    provably farther than the radius. One probe, no driver loop.

    Scale shape (that of the ``cell_knn`` probe): the exploded
    (query, cell) table is the ONLY thing that moves — estimate-gated
    broadcast, shuffle equi-join past ``adaptive.BROADCAST_STRUCT_LIMIT``
    structs (the one threshold; no per-call override); the corpus is probed by
    a hash equi-join on ``cell`` (cell-bucketed at cluster scale, never
    shuffled), then the exact haversine filter keeps pairs within the
    radius. For planet-sized radii prefer a coarser ``res``: exactness
    never depends on the resolution (cells only gate candidates), only the
    enumeration width does.

    Pass ``cell_col`` to serve from a pre-encoded corpus (index state), as
    with ``cell_knn``.
    """
    pages_cells = _cell_corpus(pages_geo, res, cell_col)
    q = queries.select(
        "query_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    # ring cells are array_distinct and urls unique -> pairs unique; no dedup
    cand = _radius_ring(q, F.lit(radius_km), res).join(pages_cells, "cell")
    dist = geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon"))
    return (
        cand.withColumn("dist_km", dist)
        .filter(F.col("dist_km") <= F.lit(radius_km))
        .select("query_id", "url", F.round("dist_km", 6).alias("dist_km"))
    )


def radius_join_sql(pages_rel: str, queries_rel: str, radius_km: float) -> str:
    """DuckDB oracle: brute-force pair filter, identical haversine formula."""
    hav = geo.haversine_km_sql("p.lat", "p.lon", "q.lat", "q.lon")
    return f"""
        SELECT q.query_id, p.url, ROUND({hav}, 6) AS dist_km
        FROM {pages_rel} p, {queries_rel} q
        WHERE {geo.valid_point_sql('p.lat', 'p.lon')} AND {hav} <= {radius_km!r}
    """


def geo_near_pairs(
    pages_geo: DataFrame,
    radius_km: float,
    res: int = 7,
    cell_col: str | None = None,
) -> DataFrame:
    """Geographic self-join: every unordered page pair within ``radius_km``
    -> (url_a, url_b, dist_km), ``url_a < url_b``.

    The self-join sibling of :func:`radius_join` (the page-page analogue of
    the reference's candidates-then-verify pattern): co-located pages from
    different hosts are the geo signal for scraped/mirrored local-business
    and event content, the spatial counterpart of ``simhash_near_pairs``.

    Composed over ``radius_join`` with the corpus on BOTH sides: the probe
    side explodes each page's analytically-sized ring (one probe round —
    the fixed radius sizes (rx, ry) so the ring guarantee exceeds it, see
    ``radius_join``), the build side is probed by a hash equi-join on
    ``cell``. Each ordered pair is generated at most once (ring cells are
    distinct, home cells unique per url), so the unordered pair survives
    the ``url_a < url_b`` trim exactly once — no distinct/dedup shuffle.

    Scale shape: the exploded table is |corpus| x |ring| rows — past the
    gate it is a plain shuffle equi-join, both sides cell-partitioned; at
    cluster scale a cell-bucketed corpus makes it co-located. Full rings
    from both endpoints do 2x the candidate work of a half-space emission;
    the trade is zero wrap/pole corner cases (the half-space tie-breaks at
    dx == nx/2 and inside the polar full-wrap band need their own dedup,
    exactly the rows where a miss is silent).
    """
    both = geo.located(pages_geo)
    qs = both.select(F.col("url").alias("query_id"), "lat", "lon")
    pairs = radius_join(both, qs, radius_km, res=res, cell_col=cell_col)
    return pairs.filter(F.col("query_id") < F.col("url")).select(
        F.col("query_id").alias("url_a"),
        F.col("url").alias("url_b"),
        "dist_km",
    )


def geo_near_pairs_sql(pages_rel: str, radius_km: float) -> str:
    """DuckDB oracle: brute self-join, identical haversine + trim.

    The latitude band is a SOUND prune, not an approximation: haversine's
    ``a >= sin^2(dlat/2)`` and asin is monotone, so any pair within
    ``radius_km`` has ``|dlat| <= radius_km / KM_PER_DEG``. It only turns the
    O(n^2) scan into a range (IE) join the oracle can afford; the surviving
    predicate is the identical full haversine.
    """
    hav = geo.haversine_km_sql("a.lat", "a.lon", "b.lat", "b.lon")
    band = radius_km / geo.KM_PER_DEG
    return f"""
        SELECT a.url AS url_a, b.url AS url_b, ROUND({hav}, 6) AS dist_km
        FROM {pages_rel} a, {pages_rel} b
        WHERE {geo.valid_point_sql('a.lat', 'a.lon')}
          AND {geo.valid_point_sql('b.lat', 'b.lon')}
          AND b.lat BETWEEN a.lat - {band!r} AND a.lat + {band!r}
          AND a.url < b.url AND {hav} <= {radius_km!r}
    """


def cell_density(stats: DataFrame, res: int, radius: int = 1) -> DataFrame:
    """Smoothed per-cell density surface from the cell-count statistics
    state: (cell, density) where density = sum of page counts over the
    cell's Chebyshev-``radius`` neighborhood (uniform box kernel).

    Raster analytics over INDEX STATE: the input is the ~|cells|-row
    :func:`build_cell_stats` table, never the corpus — the convolution is a
    scatter (each count contributes to its (2r+1)^2 neighbors) + one
    groupBy, O(|cells| * (2r+1)^2) rows through one exchange. Scatter ==
    gather here because the Chebyshev ring is symmetric (longitude wrap is
    mod-nx both ways; latitude clamping drops the same out-of-range pairs
    from either view). Cells whose own count is zero but whose neighbors
    are populated DO appear — the output is the density surface's support,
    not the corpus's cell set.
    """
    contrib = stats.select(
        F.explode(geo.ring_cells(F.col("cell"), res, radius)).alias("cell"),
        F.col("cnt"),
    )
    return contrib.groupBy("cell").agg(F.sum("cnt").alias("density"))


def cell_density_sql(pages_rel: str, res: int, radius: int = 1) -> str:
    """DuckDB oracle: identical counts + scatter over an offsets range, with
    the identical wrap/clamp arithmetic (cell ids decode via the same
    packing constants). SUM is cast to BIGINT (DuckDB widens to HUGEINT)."""
    nx, ny = 2 << res, 1 << res
    cell = geo.encode_cell_sql("lat", "lon", res)
    return f"""
        WITH c AS (
            SELECT {cell} AS cell, COUNT(*) AS cnt
            FROM {pages_rel} WHERE {geo.valid_point_sql('lat', 'lon')} GROUP BY 1
        ),
        d AS (
            SELECT cell, cnt,
                   (cell % {geo._R_SHIFT}) // {geo._X_SHIFT} AS x,
                   cell % {geo._X_SHIFT} AS y
            FROM c
        )
        SELECT CAST({res} AS BIGINT) * {geo._R_SHIFT}
               + ((x + dx.r + {nx}) % {nx}) * {geo._X_SHIFT}
               + (y + dy.r) AS cell,
               CAST(SUM(cnt) AS BIGINT) AS density
        FROM d, range(-{radius}, {radius + 1}) dx(r), range(-{radius}, {radius + 1}) dy(r)
        WHERE y + dy.r >= 0 AND y + dy.r < {ny}
        GROUP BY 1
    """


def idw_estimate(
    pages_geo: DataFrame,
    queries: DataFrame,
    k: int = 10,
    res: int = 7,
    value_col: str | None = None,
) -> DataFrame:
    """Inverse-distance-weighted spatial interpolation (Shepard 1968,
    public): estimate an integer page attribute at each query point as the
    1/(1+d)^2-weighted mean of its exact k nearest pages.
    -> (query_id, n_nbrs, est).

    Candidates come from :func:`cell_knn` (exact at any budget), so the
    scale shape is the audited serving path; the estimator adds one values
    join on url and one per-query aggregate. Weights are integer
    micro-units w = round(1e9 / (1+d)^2) over the kNN's 6-dp-rounded
    dist_km, so every weighted sum stays < 2^53 and SUM order cannot
    perturb the estimate (the BM25/PageRank exact-integer-accumulation
    pattern); `est` is the ROUND(.,4) ratio of two exact integers —
    bit-identical in the DuckDB oracle. Default value: LENGTH(text)
    (chars), the density-ish attribute every pages table has.
    """
    v = (
        F.coalesce(F.length(F.col("text")), F.lit(0)).cast("long")
        if value_col is None
        else F.col(value_col).cast("long")
    )
    vals = pages_geo.select("url", v.alias("v"))
    nn = cell_knn(pages_geo, queries, k=k, res=res)
    d1 = F.col("dist_km") + F.lit(1.0)
    w = F.round(F.lit(1e9) / (d1 * d1)).cast("long")
    return (
        nn.join(vals, "url")
        .withColumn("w", w)
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_nbrs"),
            F.round(F.sum(F.col("w") * F.col("v")) / F.sum("w"), 4).alias("est"),
        )
    )


def idw_estimate_sql(pages_rel: str, queries_rel: str, k: int = 10) -> str:
    """Oracle: brute-force kNN (flat_knn_sql) + the identical integer-micro
    weighted mean. LENGTH counts characters in both engines."""
    knn = flat_knn_sql(pages_rel, queries_rel, k=k)
    return f"""
        WITH nn AS ({knn}), vals AS (
            SELECT url, CAST(COALESCE(LENGTH(text), 0) AS BIGINT) AS v
            FROM {pages_rel}
        ), j AS (
            SELECT nn.query_id,
                   CAST(ROUND(1e9 / ((1.0 + nn.dist_km) * (1.0 + nn.dist_km))) AS BIGINT) AS w,
                   vals.v
            FROM nn JOIN vals USING (url)
        )
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_nbrs,
               ROUND(CAST(SUM(w * v) AS DOUBLE) / SUM(w), 4) AS est
        FROM j GROUP BY query_id
    """


def knn_join(
    pages_geo: DataFrame,
    k: int = 10,
    res: int = 7,
    query_mod: int | None = None,
    salt: str = "kj0",
    **cell_kw,
) -> DataFrame:
    """Geo kNN SELF-join: for each page, its k nearest OTHER pages —
    (query_id, rk, url, dist_km), the classic distributed spatial kNN-join
    (every record is simultaneously a query and a corpus point; the batch
    analog of the reference's serve loop where |Q| = |corpus|).

    Exactness: the join is :func:`cell_knn` at k+1 (exact by its
    count-bounded probe); the self match sits at distance 0 so it is
    always inside the exact top-(k+1), and dropping it leaves the exact
    top-k over the other pages. Self-identity — and the stable query key —
    is the engine-portable ``tok_hash(salt || url)`` (an 8-byte shuffle key
    instead of the url string; the measured agg-hashmap tradeoff from
    ``_dup_starts`` applies to the per-query windows here too). Ranks are
    renumbered AFTER the self filter in cell_knn's own (dist, url) order,
    so no re-comparison of rounded distances can perturb the boundary.

    ``query_mod`` keeps every url with ``query_id % query_mod == 0`` on the
    query side — the deterministic, partitioning-independent way to run the
    join on a 1/mod slice (progressive backfill of a 10^12-page corpus: mod
    128 gives 128 disjoint, individually-resumable slices; the DuckDB
    oracle selects the same slice by construction).

    Scale shape: |Q| ~ |corpus|/mod is far past any broadcast threshold, so
    this is exactly the regime cell_knn's gated-broadcast serving was built
    for — the probe side takes the shuffle equi-join against the
    cell-bucketed corpus, and state serving (``cell_col``/``stats`` via
    ``**cell_kw``) skips the per-batch encode entirely.
    """
    from countrymaam_spark.functions import text as T

    qid = T.tok_hash(F.concat(F.lit(salt), F.col("url")))
    q = geo.located(pages_geo).select(
        qid.alias("query_id"), "lat", "lon"
    )
    if query_mod is not None:
        q = q.filter(F.col("query_id") % F.lit(query_mod) == 0)
    raw = cell_knn(pages_geo, q, k=k + 1, res=res, **cell_kw)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("rk")
    return (
        raw.filter(
            T.tok_hash(F.concat(F.lit(salt), F.col("url"))) != F.col("query_id")
        )
        .withColumn("nrk", F.row_number().over(w))
        .filter(F.col("nrk") <= k)
        .select("query_id", F.col("nrk").alias("rk"), "url", "dist_km")
    )


def knn_join_sql(
    pages_rel: str,
    k: int = 10,
    query_mod: int | None = None,
    salt: str = "kj0",
) -> str:
    """DuckDB oracle: brute-force self-join with the identical portable
    hash key, self-exclusion, slice filter, and (dist, url) tie-break."""
    from countrymaam_spark.functions import text as T

    qh = T.tok_hash_sql(f"'{salt}' || url")
    ph = T.tok_hash_sql(f"'{salt}' || p.url")
    hav = geo.haversine_km_sql("p.lat", "p.lon", "q.lat", "q.lon")
    mod = f"AND {qh} % {query_mod} = 0" if query_mod is not None else ""
    return f"""
        SELECT query_id, rk, url, ROUND(dist_km, 6) AS dist_km
        FROM (
            SELECT q.query_id, p.url,
                   {hav} AS dist_km,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {hav} ASC, p.url ASC
                   ) AS rk
            FROM {pages_rel} p,
                 (SELECT {qh} AS query_id, lat, lon
                  FROM {pages_rel}
                  WHERE {geo.valid_point_sql('lat', 'lon')} {mod}) q
            WHERE {geo.valid_point_sql('p.lat', 'p.lon')} AND {ph} <> q.query_id
        ) t
        WHERE rk <= {k}
    """


def radius_join_var(
    points: DataFrame,
    probes: DataFrame,
    res: int = 7,
    cell_col: str | None = None,
) -> DataFrame:
    """:func:`radius_join` with a PER-ROW radius: ``probes`` carries
    (probe_id, lat, lon, radius_km) and every (probe, point) pair with
    ``haversine <= radius_km(probe)`` comes back as
    (probe_id, url, dist_km). A NULL radius means unbounded (the probe
    matches every point) — the ring degrades to the exact full-wrap
    latitude band covering the whole grid, no special-case join.

    Same one-probe-round shape as the fixed-radius join: each probe's ring
    is sized from its own radius (:func:`_radius_ring`), the exploded
    (probe, cell) table is the only thing that moves (estimate-gated), and
    points are probed by a hash equi-join on ``cell``.
    """
    pages_cells = _cell_corpus(points, res, cell_col)
    q = probes.select(
        "probe_id",
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
        F.col("radius_km").cast("double").alias("radius_km"),
    )
    # NULL radius -> beyond-antipodal sentinel: the ring takes the full-wrap
    # branch and ry clamps to the pole, so "unbounded" needs no extra path
    ring_km = F.coalesce(F.col("radius_km"), F.lit(4.0 * geo.EARTH_RADIUS_KM * math.pi))
    cand = _radius_ring(q, ring_km, res).join(pages_cells, "cell")
    dist = geo.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon"))
    # compare at the engine's 6-dp distance contract: per-row radii normally
    # COME from engine outputs (knn_join's rounded dist_km), so a raw-vs-
    # rounded compare would break exact ties by sub-micrometre noise; the
    # ring guarantee has whole-cell slack, so the 1e-6 km widening never
    # admits a point outside the enumerated ring
    return (
        cand.withColumn("dist_km", F.round(dist, 6))
        .filter(
            F.col("radius_km").isNull() | (F.col("dist_km") <= F.col("radius_km"))
        )
        .select("probe_id", "url", "dist_km")
    )


def reverse_knn(
    pages_geo: DataFrame,
    queries: DataFrame,
    k: int = 10,
    res: int = 7,
    target_mod: int | None = None,
    salt: str = "kj0",
    **cell_kw,
) -> DataFrame:
    """Reverse kNN (influence sets, Korn & Muthukrishnan 2000): for each
    query q, the corpus pages p that q would DISPLACE INTO — i.e.
    ``dist(p, q) <= r_k(p)`` with ``r_k(p)`` the distance from p to its
    k-th nearest OTHER corpus page -> (query_id, url, dist_km). The
    monitoring question kNN cannot answer: "whose neighborhoods does this
    new point enter", with |RkNN| naturally varying per query (0 in dense
    regions far from q, unbounded around isolated points).

    Ties INCLUDE: dist(p,q) == r_k(p) counts as entering (q ties the k-th
    neighbor); the oracle applies the identical rule.

    Two stages, both already-audited shapes:

    1. ``r_k`` per target from :func:`knn_join` (the exact cell-indexed
       self-join) — one row at rank k. Targets with fewer than k other
       pages have NO rank-k row: their k-th neighbor does not exist, so
       EVERY query enters — the left join leaves their radius NULL and the
       variable-radius join treats NULL as unbounded.
    2. :func:`radius_join_var` with the per-target radius: targets probe
       their analytically-sized rings against the (small) query-point
       table. The exploded ring table is the only moving object —
       estimate-gated; at production target counts it is the shuffle
       equi-join regime, cell-partitioned on both sides.

    ``target_mod`` runs the operator on the deterministic 1/mod hash slice
    of the corpus (same progressive-backfill contract as ``knn_join``).
    """
    from countrymaam_spark.functions import text as T

    radii = (
        knn_join(
            pages_geo, k=k, res=res, query_mod=target_mod, salt=salt, **cell_kw
        )
        .filter(F.col("rk") == k)
        .select(F.col("query_id").alias("_tid"), F.col("dist_km").alias("radius_km"))
    )
    qid = T.tok_hash(F.concat(F.lit(salt), F.col("url")))
    targets = geo.located(pages_geo).select(
        qid.alias("_tid"), F.col("url").alias("_turl"), "lat", "lon"
    )
    if target_mod is not None:
        targets = targets.filter(F.col("_tid") % F.lit(target_mod) == 0)
    probes = targets.join(radii, "_tid", "left").select(
        F.col("_turl").alias("probe_id"), "lat", "lon", "radius_km"
    )
    qpts = queries.select(
        F.col("query_id").alias("url"), "lat", "lon"
    )
    out = radius_join_var(qpts, probes, res=res)
    return out.select(
        F.col("url").alias("query_id"),
        F.col("probe_id").alias("url"),
        "dist_km",
    )


def reverse_knn_sql(
    pages_rel: str,
    queries_rel: str,
    k: int = 10,
    target_mod: int | None = None,
    salt: str = "kj0",
) -> str:
    """DuckDB oracle: brute k-th-distance window per (sliced) target over
    the full corpus, then the identical <=-radius filter against the query
    points; targets lacking a rank-k row match every query (LEFT JOIN +
    NULL-radius pass-through)."""
    from countrymaam_spark.functions import text as T

    th = T.tok_hash_sql("'" + salt + "' || t.url")
    ph = T.tok_hash_sql("'" + salt + "' || p.url")
    mod = f"AND {th} % {target_mod} = 0" if target_mod is not None else ""
    hav_tp = geo.haversine_km_sql("p.lat", "p.lon", "t.lat", "t.lon")
    hav_tq = geo.haversine_km_sql("q.lat", "q.lon", "t.lat", "t.lon")
    return f"""
        WITH rk_t AS (
            SELECT url, lat, lon FROM {pages_rel} t
            WHERE {geo.valid_point_sql('lat', 'lon')} {mod}
        ),
        rk_r AS (
            SELECT url, radius_km FROM (
                SELECT t.url, ROUND({hav_tp}, 6) AS radius_km,
                       ROW_NUMBER() OVER (
                           PARTITION BY t.url
                           ORDER BY {hav_tp} ASC, p.url ASC
                       ) AS rk
                FROM rk_t t, {pages_rel} p
                WHERE {geo.valid_point_sql('p.lat', 'p.lon')} AND {ph} <> {th}
            ) WHERE rk = {k}
        )
        SELECT q.query_id AS query_id, t.url AS url,
               ROUND({hav_tq}, 6) AS dist_km
        FROM rk_t t
        LEFT JOIN rk_r r ON t.url = r.url
        CROSS JOIN {queries_rel} q
        WHERE {geo.valid_point_sql('q.lat', 'q.lon')}
          AND (r.radius_km IS NULL OR ROUND({hav_tq}, 6) <= r.radius_km)
    """
