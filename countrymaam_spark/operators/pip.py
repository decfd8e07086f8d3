"""Point-in-polygon join: candidates-then-verify, the countrymaam pattern
(coarse candidate generation -> exact verification) applied to containment.

Coarse stage: each polygon's bbox is covered by quad-cells at ``res``; pages
equi-join on cell (only the covered slice of the corpus is touched — at 100 TB
this is the partition-pruning stage). Exact stage: ray-cast crossing parity
as a higher-order expression over the polygon's edge array, evaluated per
candidate row. No UDFs anywhere, and one plan (:func:`_contained`) serves
every entry point, batch and streaming.

Limitation (documented): polygons must not cross the antimeridian (the
fixture generator guarantees this); split such polygons upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo


def _cover_cells(edges: DataFrame, res: int) -> DataFrame:
    """polygon bbox -> exploded cover cells (poly_id, cell)."""
    nx, ny = 2 << res, 1 << res
    step = F.lit(geo.cell_deg(res))
    bbox = edges.groupBy("poly_id").agg(*geo.edge_bbox_aggs())
    x_lo = F.greatest(F.floor((F.col("lon_lo") + 180.0) / step).cast("long"), F.lit(0))
    x_hi = F.least(F.floor((F.col("lon_hi") + 180.0) / step).cast("long"), F.lit(nx - 1))
    y_lo = F.greatest(F.floor((F.col("lat_lo") + 90.0) / step).cast("long"), F.lit(0))
    y_hi = F.least(F.floor((F.col("lat_hi") + 90.0) / step).cast("long"), F.lit(ny - 1))
    base = F.lit(res) * F.lit(2**53)
    return (
        bbox.select(
            "poly_id",
            F.explode(F.sequence(x_lo, x_hi)).alias("cx"),
            y_lo.alias("y_lo"),
            y_hi.alias("y_hi"),
        )
        .select(
            "poly_id",
            "cx",
            F.explode(F.sequence(F.col("y_lo"), F.col("y_hi"))).alias("cy"),
        )
        .select(
            "poly_id",
            (base + F.col("cx") * F.lit(2**26) + F.col("cy")).alias("cell"),
        )
    )


def _edges_arrays(edges: DataFrame) -> DataFrame:
    """(poly_id, edges_arr) — each polygon's edge list as one array column."""
    return edges.groupBy("poly_id").agg(
        F.collect_list(
            F.struct(
                F.col("lat1").alias("lat1"), F.col("lon1").alias("lon1"),
                F.col("lat2").alias("lat2"), F.col("lon2").alias("lon2"),
            )
        ).alias("edges_arr")
    )


def _crossing_pred(e):
    """Ray-cast crossing predicate for one edges-array element against the
    row's (lat, lon) point columns (half-open boundary rule)."""
    return (
        (e["lat1"] > F.col("lat")) != (e["lat2"] > F.col("lat"))
    ) & (
        F.col("lon")
        < (e["lon2"] - e["lon1"])
        * (F.col("lat") - e["lat1"])
        / (e["lat2"] - e["lat1"])
        + e["lon1"]
    )


def _contained(cells: DataFrame, cover: DataFrame, edges: DataFrame) -> DataFrame:
    """The containment plan: ``cells`` rows (a ``cell`` key and the point's
    ``lat``/``lon``) that lie inside a polygon, with that polygon's
    ``poly_id`` added to the caller's columns.

    ``cover`` (poly_id, cell) and the per-polygon edge arrays are broadcast
    dim tables, so the page side flows through two broadcast joins and a
    filter: no exchange of the candidates, and — the parity being a pure
    expression — legal inside a stream-static join. ``cover`` must give
    each (row, polygon) pair at most one candidate row, or the pair comes
    back once per copy.
    """
    cand = cells.join(F.broadcast(cover), "cell").join(
        F.broadcast(_edges_arrays(edges)), "poly_id"
    )
    # size(filter(...)), NOT aggregate(...): with an ArrowEvalPython stage
    # (the geotag UDF) in the lineage, Spark 4.1's optimizer mis-binds the
    # 3-arg aggregate HOF's outer references during python-UDF extraction
    # ([INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND lat] evaluated against the
    # broadcast side); the 2-arg filter HOF binds correctly
    crossings = F.size(F.filter(F.col("edges_arr"), _crossing_pred))
    return cand.filter(crossings % 2 == 1).drop("edges_arr")


def point_in_polygon(pages_geo: DataFrame, edges: DataFrame, res: int = 6) -> DataFrame:
    """-> (poly_id, url) pairs where the page's point lies inside the ring
    (ray-casting crossing parity; boundary points follow the half-open rule).

    Polygons are a dim table: the cover cells and the edge arrays broadcast
    and the page scan never shuffles. A polygon set whose full cover is too
    large to broadcast goes through :func:`point_in_polygon_compact`."""
    pages_cells = (
        geo.located(pages_geo)
        .select("url", "lat", "lon")
        .withColumn("cell", geo.encode_cell(F.col("lat"), F.col("lon"), res))
    )
    return _contained(pages_cells, _cover_cells(edges, res), edges).select("poly_id", "url")


def compact_cover(cover: DataFrame, res: int, min_res: int = 0) -> DataFrame:
    """H3-style ``compact``: replace every complete 2x2 sibling block in a
    cover set by its parent cell, recursively up to ``min_res``.

    Input rows are (poly_id, cell) with every cell at resolution ``res`` and
    DISTINCT per polygon (``_cover_cells`` enumerates a bbox rectangle, so
    this holds by construction). Output cells live at mixed resolutions in
    [min_res, res]; per polygon they are *disjoint* (no output cell is an
    ancestor of another) and their res-level descendants reproduce the input
    set exactly — so a multi-level candidate join against the compact cover
    sees each (page, polygon) pair exactly once.

    Scale: every step aggregates the COVER table only (|cells| rows, never
    the corpus). For a large polygon the compact cover is O(perimeter)
    fine cells + O(area / coarse_cell^2) coarse cells instead of the full
    O(area / fine_cell^2) rectangle — the reduction that keeps country-sized
    polygon sets inside the broadcast regime. The level loop is a fixed
    ``res - min_res`` driver iterations over a lazily-composed plan (no
    action per step); mirrors the reference's coarse-to-fine BSP node
    collapsing (/root/reference/bsp_tree/bsp_tree.go:22-60) as set algebra.
    """
    if min_res > res:
        raise ValueError("min_res must be <= res")
    # per-level frames keep every DataFrame referenced O(1) times; the naive
    # out = rest U kept U promoted recursion re-embeds the whole prior plan
    # 3x per level (3^depth plan blow-up). Each level's parented table is
    # pinned (localCheckpoint, GC-released — repo convention for tiny
    # build-time tables) so the two consumers (promoted / kept) share one
    # materialization and the final union's plan is flat.
    done: list[DataFrame] = []
    cur = cover.select("poly_id", "cell")
    for child_res in range(res, min_res, -1):
        parented = cur.withColumn(
            "parent", geo.cell_parent(F.col("cell"), child_res - 1, child_res)
        ).localCheckpoint(eager=True)
        promoted = (
            parented.groupBy("poly_id", "parent")
            .count()
            .filter(F.col("count") == 4)
            .select("poly_id", F.col("parent").alias("cell"))
        )
        kept = parented.join(
            promoted.select("poly_id", F.col("cell").alias("parent")),
            ["poly_id", "parent"],
            "left_anti",
        ).select("poly_id", "cell")
        done.append(kept)
        cur = promoted
    out = cur
    for frame in done:
        out = out.unionByName(frame)
    return out


def uncompact_cover(compact: DataFrame, res: int) -> DataFrame:
    """Inverse of :func:`compact_cover`: expand every cell to its full set of
    ``res``-level descendants. Expression-only (sequence + explode)."""
    with_span = compact.withColumn(
        "_span",
        F.expr(
            f"cast(shiftleft(1, {res} - cast(cell div {2**53} as int)) as long)"
        ),
    )
    span = F.col("_span")
    x0, y0 = geo.cell_x(F.col("cell")) * span, geo.cell_y(F.col("cell")) * span
    base = F.lit(res) * F.lit(2**53)
    return (
        with_span.select(
            "poly_id",
            F.explode(F.sequence(x0, x0 + span - 1)).alias("cx"),
            y0.alias("y0"),
            span.alias("span"),
        )
        .select(
            "poly_id",
            "cx",
            F.explode(F.sequence(F.col("y0"), F.col("y0") + F.col("span") - 1)).alias("cy"),
        )
        .select("poly_id", (base + F.col("cx") * F.lit(2**26) + F.col("cy")).alias("cell"))
    )


def point_in_polygon_compact(
    pages_geo: DataFrame, edges: DataFrame, res: int = 6, min_res: int = 3
) -> DataFrame:
    """:func:`point_in_polygon` with the coarse stage joined against the
    COMPACT cover: pages encode one cell per level in [min_res, res] (an
    array of ``res - min_res + 1`` longs, exploded JVM-side) and equi-join
    the mixed-resolution cover on the packed cell id (the id encodes its
    resolution, so one join covers every level).

    Same candidate set as the full-res cover — each page hits exactly one
    of {cell, its ancestors} per polygon (compact disjointness) — so results
    are identical; what changes is the size of the broadcast cover, which
    is the binding constant for country-scale polygon tables. The page side
    carries #levels rows per page through the join; with min_res chosen ~3
    levels up that is a 4x row fan-out against a cover shrunk by orders of
    magnitude on large polygons.
    """
    pages_cells = (
        geo.located(pages_geo)
        .select("url", "lat", "lon")
        .select(
            "url", "lat", "lon",
            F.explode(F.array(*[
                geo.encode_cell(F.col("lat"), F.col("lon"), r)
                for r in range(min_res, res + 1)
            ])).alias("cell"),
        )
    )
    cover = compact_cover(_cover_cells(edges, res), res, min_res)
    return _contained(pages_cells, cover, edges).select("poly_id", "url")


def point_in_polygon_sql(pages_rel: str, edges_rel: str) -> str:
    """Oracle: brute-force pages x edges ray cast (no coarse stage)."""
    return f"""
        SELECT poly_id, url
        FROM (
            SELECT e.poly_id, p.url,
                   SUM(CASE WHEN ((e.lat1 > p.lat) <> (e.lat2 > p.lat))
                             AND (p.lon < (e.lon2 - e.lon1) * (p.lat - e.lat1)
                                          / (e.lat2 - e.lat1) + e.lon1)
                            THEN 1 ELSE 0 END) AS crossings
            FROM {pages_rel} p, {edges_rel} e
            WHERE {geo.valid_point_sql('p.lat', 'p.lon')}
            GROUP BY e.poly_id, p.url
        ) t
        WHERE crossings % 2 = 1
    """


def polygon_page_counts(pages_geo: DataFrame, edges: DataFrame, res: int = 6) -> DataFrame:
    """Aggregate flavor: pages contained per polygon (empty polygons -> 0)."""
    inside = point_in_polygon(pages_geo, edges, res)
    polys = edges.select("poly_id").distinct()
    return (
        polys.join(inside, "poly_id", "left")
        .groupBy("poly_id")
        .agg(F.count("url").alias("n_pages"))
    )


def zonal_stats(pages_geo: DataFrame, edges: DataFrame, res: int = 6) -> DataFrame:
    """Zonal statistics: per-polygon page aggregate over the PIP join —
    (poly_id, n_pages, n_domains, n_langs), one row per polygon with zeros
    for polygons containing no page.

    The vector-overlay analog of raster zonal stats: the containment join
    supplies the zone assignment, the attribute projection (domain parsed
    from url, lang) rides in on a url equi-join, and one partial-agg shuffle
    on poly_id produces the rollup.  Scale shape: the join-back touches only
    CONTAINED pages (|inside| ≤ corpus; for a polygon dim table usually a
    small fraction), both sides hash-partition on url, AQE picks the
    strategy; the corpus scan itself is never shuffled — the attribute side
    is a narrow projection of the same scan.  All-exact output columns
    (bigint), so the DuckDB oracle matches bit-for-bit.
    """
    inside = point_in_polygon(pages_geo, edges, res)
    attrs = geo.located(pages_geo).select(
        "url",
        F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1).alias("_domain"),
        "lang",
    )
    polys = edges.select("poly_id").distinct()
    return (
        polys.join(inside.join(attrs, "url"), "poly_id", "left")
        .groupBy("poly_id")
        .agg(
            F.count("url").alias("n_pages"),
            F.countDistinct("_domain").alias("n_domains"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def zonal_stats_sql(pages_rel: str, edges_rel: str) -> str:
    """Oracle: brute-force PIP composed with the same attribute rollup."""
    return f"""
        SELECT p.poly_id,
               COUNT(i.url) AS n_pages,
               COUNT(DISTINCT regexp_extract(i.url, '^https?://([^/]+)', 1))
                   AS n_domains,
               COUNT(DISTINCT i.lang) AS n_langs
        FROM (SELECT DISTINCT poly_id FROM {edges_rel}) p
        LEFT JOIN (
            SELECT t.poly_id, t.url, g.lang
            FROM ({point_in_polygon_sql(pages_rel, edges_rel)}) t
            JOIN {pages_rel} g USING (url)
        ) i USING (poly_id)
        GROUP BY p.poly_id
    """


_SCALE = 1_000_000  # 6-dp fixed-point: order-independent integer sums


def polygon_stats(edges: DataFrame) -> DataFrame:
    """Per-polygon vector measures: (poly_id, n_edges, perimeter_km,
    area_km2, centroid_lat, centroid_lon).

    - perimeter = sum of great-circle edge lengths;
    - area = planar shoelace in an equirectangular projection anchored at
      the polygon's mean vertex latitude (cos-lat scaled) — the standard
      small-polygon approximation, closed form in both engines;
    - centroid = vertex mean (each edge contributes its start vertex, so a
      closed ring counts every vertex exactly once).

    Float sums are ORDER-DEPENDENT and Spark's partial aggregation order
    differs from DuckDB's, so every SUM here goes through 6-dp fixed-point
    BIGINT (exact integer addition is commutative) and divides back at the
    end — bit-identical across engines by construction.
    """
    hav = geo.haversine_km(
        F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")
    )
    cross = F.col("lon1") * F.col("lat2") - F.col("lon2") * F.col("lat1")
    fp = lambda c: F.round(c * _SCALE).cast("long")  # noqa: E731
    agg = edges.groupBy("poly_id").agg(
        F.count("*").alias("n_edges"),
        F.sum(fp(hav)).alias("_per"),
        F.sum(fp(cross)).alias("_cross"),
        F.sum(fp(F.col("lat1"))).alias("_slat"),
        F.sum(fp(F.col("lon1"))).alias("_slon"),
    )
    ml_rad = F.radians(F.col("_slat") / F.col("n_edges") / _SCALE)
    area = (
        F.cos(ml_rad)
        * F.lit(geo.KM_PER_DEG * geo.KM_PER_DEG / 2.0)
        * F.abs(F.col("_cross"))
        / _SCALE
    )
    return agg.select(
        "poly_id",
        "n_edges",
        F.round(F.col("_per") / _SCALE, 6).alias("perimeter_km"),
        F.round(area, 6).alias("area_km2"),
        F.round(F.col("_slat") / F.col("n_edges") / _SCALE, 6).alias("centroid_lat"),
        F.round(F.col("_slon") / F.col("n_edges") / _SCALE, 6).alias("centroid_lon"),
    )


def polygon_stats_sql(edges_rel: str) -> str:
    """The identical fixed-point formulas for the DuckDB oracle."""
    hav = geo.haversine_km_sql("lat1", "lon1", "lat2", "lon2")
    fp = lambda x: f"CAST(ROUND(({x}) * {_SCALE}) AS BIGINT)"  # noqa: E731
    k2 = repr(geo.KM_PER_DEG * geo.KM_PER_DEG / 2.0)
    return f"""
        SELECT poly_id, n_edges,
               ROUND(_per / {_SCALE}.0, 6) AS perimeter_km,
               ROUND(COS(RADIANS(_slat / n_edges / {_SCALE}.0)) * {k2}
                     * ABS(_cross) / {_SCALE}.0, 6) AS area_km2,
               ROUND(_slat / n_edges / {_SCALE}.0, 6) AS centroid_lat,
               ROUND(_slon / n_edges / {_SCALE}.0, 6) AS centroid_lon
        FROM (
            SELECT poly_id,
                   CAST(COUNT(*) AS BIGINT) AS n_edges,
                   SUM({fp(hav)}) AS _per,
                   SUM({fp('lon1 * lat2 - lon2 * lat1')}) AS _cross,
                   SUM({fp('lat1')}) AS _slat,
                   SUM({fp('lon1')}) AS _slon
            FROM {edges_rel}
            GROUP BY poly_id
        ) a
    """


def point_outside_polygons(pages_geo: DataFrame, edges: DataFrame, res: int = 6) -> DataFrame:
    """-> (url): geotagged pages contained by NO polygon — the spatial
    ANTI-join (coverage-gap / open-ocean detection; the complement query a
    curation pipeline runs to find pages its region taxonomy misses).

    One left_anti hash join against the verified inside-pairs: the anti
    side is the pip result (candidates-then-verify, already corpus-safe);
    the pages side never shuffles more than the pip join itself does."""
    inside = point_in_polygon(pages_geo, edges, res=res).select("url")
    return (
        geo.located(pages_geo)
        .select("url")
        .join(inside, "url", "left_anti")
    )


def point_outside_polygons_sql(pages_rel: str, edges_rel: str) -> str:
    """Oracle: NOT EXISTS over the brute-force ray-cast pairs."""
    return f"""
        SELECT p.url FROM {pages_rel} p
        WHERE {geo.valid_point_sql('p.lat', 'p.lon')} AND NOT EXISTS (
            SELECT 1 FROM ({point_in_polygon_sql(pages_rel, edges_rel)}) i
            WHERE i.url = p.url
        )
    """
