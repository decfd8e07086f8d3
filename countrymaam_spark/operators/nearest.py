"""Nearest-polygon join: for each query point, the k closest polygons by
boundary distance (min point-to-segment distance over the polygon's edges).

The reference's search pattern — cheap bound-driven candidate pruning, then
an exact kernel re-rank (/root/reference/index/bsp_tree_index.go:35-92 for
the bounded descent, /root/reference/index/flat_index.go:26-82 for the exact
scan) — applied to the point->polygon metric:

1. **Bound stage.** Each polygon's bbox (a ~|polys|-row aggregate of the
   edge table, broadcast) gives a SOUND great-circle lower bound
   ``lb = bbox_min_dist_km`` per (query, polygon) pair. The pair table is a
   broadcast fan-out of |polys| rows per query — no shuffle of the query
   side; the dim table stays driver-sized (polygon sets are dimension
   tables; for a polygon table too large to broadcast-cross, generate
   candidates from the cover cells + cell rings instead:
   ``nearest_polygon_cells``).
2. **Upper bound.** The argmin-lb polygon per query is evaluated exactly
   (min over its edges) -> ``ub``; any polygon with ``lb > ub`` cannot be
   the nearest (nor in the top-k once k-th best is <= ub).
3. **Exact stage.** Surviving pairs join their edges and re-rank by the
   exact metric; window top-k with (dist, poly_id) tie-break.

Exactness: lb is a true lower bound (property-tested), ub is an achieved
distance, so pruning ``lb > ub + eps`` never discards a top-1 polygon. For
k > 1 the prune keeps every polygon with lb <= ub where ub is the top-1
bound — a superset of the true top-k ONLY when their distances are <= ub;
polygons with dist > ub but rank <= k are re-admitted by the fallback:
queries whose surviving-pair count is < k re-run unpruned (driver-free —
an anti-join + union).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo

_EPS_KM = 1e-6  # float-noise slack on the lb <= ub prune

# at or below this many polygons the bound/prune machinery costs more than
# it saves (each bound stage is an exchange + an AQE sync + a codegen'd
# heavy expression; the full cross of a dim-sized polygon set is thousands
# of array projections): score every pair in ONE window pass instead
SMALL_POLY_BRUTE_LIMIT = 256


def _poly_bboxes(edges: DataFrame) -> DataFrame:
    return edges.groupBy("poly_id").agg(*geo.edge_bbox_aggs())


def _exact_pair_dist(pairs: DataFrame, edges: DataFrame) -> DataFrame:
    """(query_id, qlat, qlon, poly_id) -> + dist (min over the poly's edges,
    unrounded double — rounding happens once at the output). The caller
    decides the edge table's join strategy (gate_broadcast / F.broadcast) —
    no unconditional broadcast here."""
    seg = geo.point_segment_dist_km(
        F.col("qlat"), F.col("qlon"),
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
    )
    return (
        pairs.join(edges, "poly_id")
        .groupBy("query_id", "qlat", "qlon", "poly_id")
        .agg(F.min(seg).alias("dist"))
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("dist"), 6).asc(), F.col("poly_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "rk", "poly_id", F.round("dist", 6).alias("dist_km")
        )
    )


def _polys_with_segs(edges: DataFrame) -> DataFrame:
    """One row per polygon: bbox + the edge list as an array<struct> — built
    in the SAME single aggregation as the bboxes, so the per-pair exact
    kernel becomes a pure projection (``array_min`` over the segs) instead
    of an edges join + a (query, poly)-keyed aggregation exchange."""
    return edges.groupBy("poly_id").agg(
        *geo.edge_bbox_aggs(),
        F.collect_list(F.struct("lat1", "lon1", "lat2", "lon2")).alias("segs"),
    )


def _segs_min_dist():
    """Exact boundary distance as a projection: min over the row's edge
    array of the identical point-to-segment kernel (order-independent, so
    collect_list's nondeterministic edge order cannot perturb it)."""
    return F.array_min(
        F.transform(
            F.col("segs"),
            lambda e: geo.point_segment_dist_km(
                F.col("qlat"), F.col("qlon"),
                e["lat1"], e["lon1"], e["lat2"], e["lon2"],
            ),
        )
    )


def nearest_polygon(
    queries: DataFrame, edges: DataFrame, k: int = 1, prune: bool = True
) -> DataFrame:
    """-> (query_id, rk, poly_id, dist_km): the ``k`` polygons nearest each
    query point by boundary distance. ``prune=False`` scores every
    (query, polygon) pair — the oracle shape, and the correct plan when
    |polys| is tiny (a dim-sized set also short-circuits there on its own,
    see SMALL_POLY_BRUTE_LIMIT).

    This is the documented DIM-TABLE path (the bbox cross join is only sane
    for a broadcastable polygon set; nearest_polygon_cells is the non-dim
    plan), so the polygon table broadcasts unconditionally, WITH its edge
    arrays: every exact distance is then a projection — the former
    per-stage edges join + (query, poly) aggregation exchange is gone
    (r6: 2.7-4.4 s -> ~1 s at 200 queries x 30 polygons; the stage was
    exchange-count-bound, not compute-bound)."""
    q = queries.select(
        "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
    )
    polys = _polys_with_segs(
        edges.select("poly_id", "lat1", "lon1", "lat2", "lon2")
    )
    # dim-table-sized count (the same magnitude every serving path's
    # broadcast-gate estimate pays): picks brute vs pruned
    n_polys = polys.count()
    pe = F.broadcast(polys)
    dist = _segs_min_dist()
    if not prune or n_polys <= SMALL_POLY_BRUTE_LIMIT:
        scored = q.join(pe, how="cross").select(
            "query_id", "poly_id", dist.alias("dist")
        )
        return _topk(scored, k)

    lb = geo.bbox_min_dist_km(
        F.col("qlat"), F.col("qlon"),
        F.col("lat_lo"), F.col("lat_hi"), F.col("lon_lo"), F.col("lon_hi"),
    )
    pairs = q.join(pe, how="cross").select(
        "query_id", "qlat", "qlon", "poly_id", lb.alias("lb")
    )
    w_lb = Window.partitionBy("query_id").orderBy(
        F.col("lb").asc(), F.col("poly_id").asc()
    )
    seed = (
        pairs.withColumn("_r", F.row_number().over(w_lb))
        .filter(F.col("_r") == 1)
        .select("query_id", "qlat", "qlon", "poly_id")
    )
    ub = seed.join(pe.select("poly_id", "segs"), "poly_id").select(
        "query_id", dist.alias("ub")
    )
    survivors = (
        pairs.join(F.broadcast(ub), "query_id")
        .filter(F.col("lb") <= F.col("ub") + F.lit(_EPS_KM))
        .select("query_id", "qlat", "qlon", "poly_id")
    )
    scored = survivors.join(pe.select("poly_id", "segs"), "poly_id").select(
        "query_id", "qlat", "qlon", "poly_id", dist.alias("dist")
    )
    if k > 1:
        # top-1-bound pruning can under-fill ranks 2..k: re-score unpruned
        # for the (rare) queries whose surviving pool is smaller than k
        short = (
            scored.groupBy("query_id")
            .count()
            .filter(F.col("count") < k)
            .select("query_id")
        )
        refill = (
            q.join(short, "query_id", "left_semi")
            .join(pe, how="cross")
            .select("query_id", "qlat", "qlon", "poly_id", dist.alias("dist"))
        )
        scored = (
            scored.join(short, "query_id", "left_anti")
            .unionByName(refill)
        )
    return _topk(scored.select("query_id", "poly_id", "dist"), k)


def nearest_polygon_sql(queries_rel: str, edges_rel: str, k: int = 1) -> str:
    """DuckDB oracle: brute-force min over every (query, polygon, edge)."""
    seg = geo.point_segment_dist_km_sql(
        "q.lat", "q.lon", "e.lat1", "e.lon1", "e.lat2", "e.lon2"
    )
    return f"""
        SELECT query_id, rk, poly_id, dist_km
        FROM (
            SELECT query_id, poly_id,
                   ROUND(dist, 6) AS dist_km,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY ROUND(dist, 6), poly_id
                   ) AS rk
            FROM (
                SELECT q.query_id, e.poly_id, MIN({seg}) AS dist
                FROM {queries_rel} q, {edges_rel} e
                GROUP BY q.query_id, e.poly_id
            ) d
        ) r
        WHERE rk <= {k}
    """


def nearest_polygon_cells(
    queries: DataFrame,
    edges: DataFrame,
    k: int = 1,
    res: int = 5,
    init_radius: int = 2,
    max_rounds: int = 6,
) -> DataFrame:
    """:func:`nearest_polygon` for polygon sets too large to broadcast-cross:
    every stage is a hash EQUI-join against the polygon COVER-CELL table
    (the plan has no BroadcastNestedLoopJoin — pytest-pinned).

    1. **Seed.** Ring-probe the cover around each query cell, escalating the
       radius (x4 per driver round, the cell_knn pattern) until every query
       has >= k distinct candidate polygons; unresolved queries after
       ``max_rounds`` fall back to the full-wrap latitude band (still an
       equi-join).
    2. **Bound.** Exact boundary distance to the seed polygons; the k-th
       smallest per query is a sound upper bound ``ub`` on the true k-th
       nearest distance.
    3. **Complete.** Any polygon with boundary distance <= ub has a cover
       cell containing a boundary point within ub of the query, and the
       ring sized analytically for radius ub (``knn._radius_ring``, the
       radius joins' ring) enumerates every cell containing any point
       within ub — so the ring-probe candidate set provably contains the true
       top-k. Exact re-rank + window top-k finishes.

    Results are identical to :func:`nearest_polygon` (equality pinned in
    pytest at k=1 and k=3).
    """
    from countrymaam_spark.operators.adaptive import gate_broadcast
    from countrymaam_spark.operators.knn import _radius_ring
    from countrymaam_spark.operators.pip import _cover_cells

    nx, ny = 2 << res, 1 << res
    cover = _cover_cells(edges, res).localCheckpoint(eager=True)
    # estimate-gated: a non-dim polygon set's edge table joins as a shuffle
    e = gate_broadcast(
        edges.select("poly_id", "lat1", "lon1", "lat2", "lon2"),
        edges.count(),
    )
    n_polys = cover.select("poly_id").distinct().count()
    target = min(k, n_polys)

    q = queries.select(
        "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
    ).localCheckpoint(eager=True)
    if target == 0 or q.isEmpty():
        # no polygons (or no queries): zero rows, the brute path's semantics
        return _topk(
            q.select("query_id", "qlat", "qlon", F.lit(0).alias("poly_id"),
                     F.lit(0.0).alias("dist")).limit(0),
            k,
        )
    qcell = geo.encode_cell(F.col("qlat"), F.col("qlon"), res)

    def probe(pend: DataFrame, rx, ry) -> DataFrame:
        """(query, poly) distinct pairs whose cover cells meet the ring."""
        exploded = pend.select(
            "query_id", "qlat", "qlon",
            F.explode(geo.ring_cells_xy(qcell, res, rx, ry)).alias("cell"),
        )
        return (
            exploded.join(cover, "cell")
            .select("query_id", "qlat", "qlon", "poly_id")
            .distinct()
        )

    # 1. seed escalation (driver loop; per-round state is O(|pending|))
    pending = q
    seeds = None
    r = init_radius
    for _ in range(max_rounds):
        if pending.isEmpty():
            break
        found = probe(pending, min(r, nx // 2), min(r, ny)).localCheckpoint(
            eager=True
        )
        enough = (
            found.groupBy("query_id")
            .agg(F.countDistinct("poly_id").alias("_n"))
            .filter(F.col("_n") >= target)
            .select("query_id")
        )
        done = found.join(enough, "query_id", "left_semi")
        seeds = done if seeds is None else seeds.unionByName(done)
        pending = pending.join(enough, "query_id", "left_anti").localCheckpoint(
            eager=True
        )
        r *= 4
    if not pending.isEmpty():
        # full-wrap band: every polygon with a cover cell anywhere is seen
        allp = probe(pending, nx // 2, ny)
        seeds = allp if seeds is None else seeds.unionByName(allp)

    # 2. exact distance to seeds; k-th smallest per query = ub
    seed_d = _exact_pair_dist(seeds, e)
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc())
    ub = (
        seed_d.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == target)
        .select("query_id", (F.col("dist") + F.lit(1e-6)).alias("ub"))
    )

    # 3. completion ring sized for ub: every cell containing any point
    #    within ub is enumerated
    cand = (
        _radius_ring(q.join(ub, "query_id"), F.col("ub"), res)
        .join(cover, "cell")
        .select("query_id", "qlat", "qlon", "poly_id")
        .distinct()
    )

    # 4. exact re-rank
    return _topk(_exact_pair_dist(cand, e), k)


def corridor_join(
    pages_geo: DataFrame,
    routes: DataFrame,
    radius_km: float,
    res: int = 6,
) -> DataFrame:
    """Corridor (buffer) join: every page within ``radius_km`` of a route's
    polyline -> (route_id, url, dist_km) with dist = min point-to-segment
    distance over the route's edges.

    Candidates: each edge's bbox EXPANDED by the radius (latitude margin =
    radius in degrees; longitude margin scaled by the band-edge cosine at
    the farthest reachable latitude, degrading to the full wrap near the
    poles — the same sound bound radius_join inverts) is bbox-filled into
    cover cells; pages equi-join on their cell. Exact: the shared
    point-to-segment kernel filters to the true corridor. Every join is a
    hash equi-join; the route cover is estimate-gated for broadcast.

    ``routes`` shares the polygon-edge schema (route_id|poly_id, seq,
    lat1, lon1, lat2, lon2) — a closed ring is just a closed route, so the
    same operator answers "pages near this boundary".
    """
    id_col = "route_id" if "route_id" in routes.columns else "poly_id"
    e = routes.select(
        F.col(id_col).alias("route_id"), "lat1", "lon1", "lat2", "lon2"
    )
    nx, ny = 2 << res, 1 << res
    cd = geo.cell_deg(res)
    r_deg = radius_km / geo.KM_PER_DEG

    lat_lo = F.least(F.col("lat1"), F.col("lat2")) - F.lit(r_deg)
    lat_hi = F.greatest(F.col("lat1"), F.col("lat2")) + F.lit(r_deg)
    # band-edge cosine at the farthest reachable |lat|; near-pole -> wrap
    reach = F.least(
        F.greatest(F.abs(lat_lo), F.abs(lat_hi)), F.lit(89.999)
    )
    cosb = F.cos(F.radians(reach))
    lon_margin = F.lit(r_deg) / F.greatest(cosb, F.lit(1e-9))
    full_wrap = lon_margin >= F.lit(180.0)
    lon_lo = F.when(full_wrap, F.lit(-180.0)).otherwise(
        F.least(F.col("lon1"), F.col("lon2")) - lon_margin
    )
    lon_hi = F.when(full_wrap, F.lit(180.0)).otherwise(
        F.greatest(F.col("lon1"), F.col("lon2")) + lon_margin
    )
    step = F.lit(cd)
    x_lo = F.greatest(F.floor((lon_lo + 180.0) / step).cast("long"), F.lit(0))
    x_hi = F.least(F.floor((lon_hi + 180.0) / step).cast("long"), F.lit(nx - 1))
    y_lo = F.greatest(F.floor((lat_lo + 90.0) / step).cast("long"), F.lit(0))
    y_hi = F.least(F.floor((lat_hi + 90.0) / step).cast("long"), F.lit(ny - 1))
    base = F.lit(res) * F.lit(2**53)
    cover = (
        e.select(
            "route_id",
            F.explode(F.sequence(x_lo, x_hi)).alias("cx"),
            y_lo.alias("y_lo"),
            y_hi.alias("y_hi"),
        )
        .select(
            "route_id", "cx",
            F.explode(F.sequence(F.col("y_lo"), F.col("y_hi"))).alias("cy"),
        )
        .select(
            "route_id",
            (base + F.col("cx") * F.lit(2**26) + F.col("cy")).alias("cell"),
        )
        .distinct()
    )
    n_cover = cover.count()
    from countrymaam_spark.operators.adaptive import gate_broadcast

    pages_cells = (
        pages_geo.filter(F.col("lat").isNotNull())
        .select("url", "lat", "lon")
        .withColumn("cell", geo.encode_cell(F.col("lat"), F.col("lon"), res))
    )
    cand = pages_cells.join(gate_broadcast(cover, n_cover), "cell").select(
        "route_id", "url", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
    ).distinct()
    seg = geo.point_segment_dist_km(
        F.col("qlat"), F.col("qlon"),
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
    )
    scored = (
        cand.join(gate_broadcast(e, routes.count()), "route_id")
        .groupBy("route_id", "url")
        .agg(F.min(seg).alias("dist"))
    )
    return (
        scored.filter(F.col("dist") <= F.lit(radius_km))
        .select("route_id", "url", F.round("dist", 6).alias("dist_km"))
    )


def corridor_join_sql(pages_rel: str, routes_rel: str, radius_km: float) -> str:
    """DuckDB oracle: brute min-over-edges within-distance filter."""
    seg = geo.point_segment_dist_km_sql(
        "p.lat", "p.lon", "e.lat1", "e.lon1", "e.lat2", "e.lon2"
    )
    return f"""
        SELECT route_id, url, ROUND(dist, 6) AS dist_km
        FROM (
            SELECT e.poly_id AS route_id, p.url, MIN({seg}) AS dist
            FROM {pages_rel} p, {routes_rel} e
            WHERE p.lat IS NOT NULL
            GROUP BY e.poly_id, p.url
        ) d
        WHERE dist <= {radius_km!r}
    """
