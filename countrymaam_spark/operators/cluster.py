"""Grid-based spatial density clustering (hotspot detection) — the
DBSCAN-at-scale shape: density thresholding on grid cells, then connected
components over the dense-cell adjacency graph.

Classic DBSCAN's epsilon-neighborhood query is an all-pairs range join; the
standard distributed recasting (grid DBSCAN: cells of edge ~= eps, a cell
with >= min_pts points is dense, dense cells touching in the 8-neighborhood
merge) turns it into exactly the primitives this engine already ships and
has plan-audited:

1. one corpus aggregation on the cell key (the same shuffle ``tile_counts``
   pays — map-side partial, no corpus rows cross twice),
2. an adjacency self-join on the DENSE CELL table only (bounded by the
   number of dense cells, corpus-independent: 10^12 pages at res 9 is still
   <= 2^19 dense cells) via the ring-cell explode -> hash equi-join,
3. connected components by the alternating large-star/small-star rounds of
   ``dedup.dup_components`` (O(log n) rounds regardless of component
   diameter — the long-chain-safe form), labels = min cell id,
4. one broadcast-gated join of the (tiny) cell->cluster label table back to
   the pages.

No stage touches page pairs; the only corpus-sized operations are the
aggregate in (1) and the label join in (4).

The reference has no clustering operator; this extends its candidate-
generation machinery (cells-as-buckets, /root/reference/bsp_tree/*) to the
canonical spatial-analytics query a web-page corpus supports ("which
geographic hotspots does the crawl see, and which pages are in each").

Oracles mirror every step in ANSI SQL: the dense aggregate and the wrapped
Chebyshev adjacency are plain SQL; the components reuse the recursive-CTE
transitive closure of ``dedup.dup_components_sql``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo as G
from countrymaam_spark.functions.geo import _R_SHIFT, _X_SHIFT
from countrymaam_spark.operators.adaptive import gate_broadcast
from countrymaam_spark.operators.dedup import (
    components_minlabel_sql,
    dup_components,
    dup_components_sql,
)


def dense_cells(geo: DataFrame, res: int, min_pts: int) -> DataFrame:
    """(cell, n_pts): grid cells at ``res`` holding >= min_pts pages. One
    map-side-partial aggregation of the corpus; output is corpus-independent
    in size (bounded by the grid)."""
    return (
        geo.filter(F.col("lat").isNotNull())
        .select(G.encode_cell(F.col("lat"), F.col("lon"), res).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n_pts"))
        .filter(F.col("n_pts") >= min_pts)
    )


def _adjacency(dense: DataFrame, res: int) -> DataFrame:
    """(id_a, id_b) with id_a < id_b: dense cells touching in the
    8-neighborhood (longitude wraps — ring_cells pmods x). Explode the ring
    of each dense cell and hash-join back against the dense set: no
    nested-loop pass, O(9 * |dense|) candidate rows."""
    ring = dense.select(
        F.col("cell").alias("id_a"),
        F.explode(G.ring_cells(F.col("cell"), res, 1)).alias("id_b"),
    ).filter(F.col("id_a") < F.col("id_b"))
    members = dense.select(F.col("cell").alias("id_b"))
    return ring.join(members, "id_b").select("id_a", "id_b")


def hotspot_cells(
    geo: DataFrame, res: int, min_pts: int, stats: DataFrame | None = None
) -> DataFrame:
    """(cell, cluster_id, n_pts): every dense cell labeled with its
    component's min cell id. Sparse cells are noise (absent).

    ``stats`` — the persisted per-cell count state (cell, cnt) from
    ``knn.build_cell_stats`` at the SAME ``res`` — makes clustering a pure
    state-serving query: the density threshold reads |cells| rows and the
    corpus is never rescanned (and the state updates incrementally on
    append via update_cell_stats). Identical output to the corpus path by
    construction — both threshold the same aggregate (pytest-pinned)."""
    if stats is not None:
        dense = (
            stats.filter(F.col("cnt") >= min_pts)
            .select("cell", F.col("cnt").alias("n_pts"))
            .localCheckpoint(eager=True)
        )
    else:
        dense = dense_cells(geo, res, min_pts).localCheckpoint(eager=True)
    comp = dup_components(
        dense.select("cell"), _adjacency(dense, res), id_col="cell"
    ).select(F.col("cell"), F.col("canonical_id").alias("cluster_id"))
    return dense.join(comp, "cell").select("cell", "cluster_id", "n_pts")


def hotspot_pages(
    geo: DataFrame,
    res: int,
    min_pts: int,
) -> DataFrame:
    """(url, cell, cluster_id): pages inside dense cells, labeled. The label
    table is corpus-independent and rides a broadcast-gated hash join; noise
    pages (sparse cells) are excluded, DBSCAN-style."""
    cells = hotspot_cells(geo, res, min_pts)
    labels = gate_broadcast(cells.select("cell", "cluster_id"), cells.count())
    return (
        geo.filter(F.col("lat").isNotNull())
        .select("url", G.encode_cell(F.col("lat"), F.col("lon"), res).alias("cell"))
        .join(labels, "cell")
        .select("url", "cell", "cluster_id")
    )


def hotspot_stats(
    geo: DataFrame,
    res: int,
    min_pts: int,
) -> DataFrame:
    """(cluster_id, n_cells, n_pages, lat_c, lon_c): per-hotspot rollup —
    footprint in cells, population in pages, page-centroid (rounded 6dp).
    One aggregation over the labeled pages; n_cells from the label table."""
    cells = hotspot_cells(geo, res, min_pts).localCheckpoint(eager=True)
    labels = gate_broadcast(cells.select("cell", "cluster_id"), cells.count())
    pages = (
        geo.filter(F.col("lat").isNotNull())
        .select(
            "url",
            "lat",
            "lon",
            G.encode_cell(F.col("lat"), F.col("lon"), res).alias("cell"),
        )
        .join(labels, "cell")
    )
    # exact decimal sums over 1e-6-quantized coordinates (lossless: geotags
    # are 5-dp), then one IEEE division — order-independent, bit-identical
    # to the oracle regardless of partitioning (the domain_spread pattern;
    # a plain double avg flips last-ulp vs DuckDB's scan order)
    n = F.count(F.lit(1))
    per_pages = pages.groupBy("cluster_id").agg(
        n.alias("n_pages"),
        (F.sum(F.col("lat").cast("decimal(20,6)")).cast("double") / n).alias("lat_c"),
        (F.sum(F.col("lon").cast("decimal(20,6)")).cast("double") / n).alias("lon_c"),
    )
    per_cells = cells.groupBy("cluster_id").agg(F.count("*").alias("n_cells"))
    return per_cells.join(per_pages, "cluster_id").select(
        "cluster_id", "n_cells", "n_pages", "lat_c", "lon_c"
    )


# --- SQL oracles -------------------------------------------------------------


def _dense_sql(pg_rel: str, res: int, min_pts: int) -> str:
    cell = G.encode_cell_sql("lat", "lon", res)
    return (
        f"SELECT {cell} AS cell, COUNT(*) AS n_pts FROM {pg_rel} "
        f"WHERE lat IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= {min_pts}"
    )


def _adjacency_sql(res: int) -> str:
    """Pairs over a CTE named ``dense``: wrapped-Chebyshev-1 adjacency on the
    decoded (x, y) grid coordinates — the same neighborhood ring_cells
    enumerates."""
    nx = 2 << res
    xa, ya = f"(a.cell % {_R_SHIFT}) // {_X_SHIFT}", f"a.cell % {_X_SHIFT}"
    xb, yb = f"(b.cell % {_R_SHIFT}) // {_X_SHIFT}", f"b.cell % {_X_SHIFT}"
    return (
        "SELECT a.cell AS id_a, b.cell AS id_b FROM dense a JOIN dense b "
        f"ON a.cell < b.cell AND ABS(({ya}) - ({yb})) <= 1 "
        f"AND LEAST(ABS(({xa}) - ({xb})), {nx} - ABS(({xa}) - ({xb}))) <= 1"
    )


def hotspot_cells_sql(pg_rel: str, res: int, min_pts: int) -> str:
    comp = dup_components_sql(
        "dense", _adjacency_sql(res), id_col="cell"
    )
    return f"""
        WITH dense AS ({_dense_sql(pg_rel, res, min_pts)})
        SELECT d.cell AS cell, c.canonical_id AS cluster_id, d.n_pts AS n_pts
        FROM dense d JOIN ({comp}) c ON d.cell = c.cell
    """


def hotspot_pages_sql(pg_rel: str, res: int, min_pts: int) -> str:
    cell = G.encode_cell_sql("lat", "lon", res)
    return f"""
        WITH labeled AS ({hotspot_cells_sql(pg_rel, res, min_pts)})
        SELECT p.url AS url, l.cell AS cell, l.cluster_id AS cluster_id
        FROM {pg_rel} p JOIN labeled l ON {cell} = l.cell
        WHERE p.lat IS NOT NULL
    """


def hotspot_stats_sql(pg_rel: str, res: int, min_pts: int) -> str:
    cell = G.encode_cell_sql("lat", "lon", res)
    return f"""
        WITH labeled AS ({hotspot_cells_sql(pg_rel, res, min_pts)}),
        pages AS (
            SELECT l.cluster_id, p.lat, p.lon
            FROM {pg_rel} p JOIN labeled l ON {cell} = l.cell
            WHERE p.lat IS NOT NULL
        )
        SELECT cc.cluster_id AS cluster_id, cc.n_cells AS n_cells,
               pc.n_pages AS n_pages, pc.lat_c AS lat_c, pc.lon_c AS lon_c
        FROM (SELECT cluster_id, COUNT(*) AS n_cells FROM labeled GROUP BY 1) cc
        JOIN (SELECT cluster_id, COUNT(*) AS n_pages,
                     CAST(SUM(CAST(lat AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS lat_c,
                     CAST(SUM(CAST(lon AS DECIMAL(20,6))) AS DOUBLE) / COUNT(*) AS lon_c
              FROM pages GROUP BY 1) pc
        ON cc.cluster_id = pc.cluster_id
    """


# --- Exact point-level DBSCAN ------------------------------------------------


def dbscan_points(
    geo: DataFrame,
    eps_km: float,
    min_pts: int,
    res: int = 13,
    cell_col: str | None = None,
) -> DataFrame:
    """(url, role, cluster_id): EXACT DBSCAN (Ester et al. 1996) over the
    geotagged corpus — the point-level companion to the grid approximation
    above. ``role`` is ``core`` / ``border`` / ``noise``; ``cluster_id`` is
    the min core url of the density-reachable component ('' for noise —
    empty rather than NULL so the result rows stay totally ordered for
    row-multiset comparison harnesses).

    Exactness: the eps-neighborhood query is :func:`knn.geo_near_pairs` —
    the ring-celled range SELF-join (analytically-sized ring, one probe
    round, each unordered pair generated exactly once), so neighborhoods use
    the true haversine ball, not the grid-cell approximation. A point is
    core iff its ball holds >= ``min_pts`` points INCLUDING ITSELF (the
    paper's convention). Core-core edges within eps are density-connected,
    so clusters are the connected components of the core subgraph — the
    alternating large-star/small-star rounds of :func:`dedup.dup_components`
    (O(log n) rounds, diameter-safe). Border points (non-core with a core
    neighbor) join the MIN cluster id among their core neighbors: classic
    DBSCAN leaves multi-reachable border assignment scan-order-dependent;
    the min rule makes it deterministic and partitioning-independent, and
    the oracle applies the identical rule.

    Scale shape: the only pair-scale object is the eps-pair table (bounded
    by true data density, the same bound any exact DBSCAN pays); it is
    pinned ONCE (degree count, core-core trim, and border assignment all
    read it — without the pin the ring join would re-execute per consumer).
    Degree and border assignment are map-side-partial aggregations on the
    url key; the component loop never sees non-core rows; the final label
    attach is one equi-join of two corpus-keyed tables. ``res`` sizes ring
    cells to eps exactly as in geo_near_pairs (default 13 ~= 1.4 km cells
    for ~1 km balls).
    """
    from countrymaam_spark.operators.knn import geo_near_pairs

    pts = geo.filter(F.col("lat").isNotNull()).select("url")
    e = (
        geo_near_pairs(geo, eps_km, res=res, cell_col=cell_col)
        .select("url_a", "url_b")
        .localCheckpoint(eager=True)
    )
    sym = e.select(
        F.col("url_a").alias("u"), F.col("url_b").alias("v")
    ).unionByName(e.select(F.col("url_b").alias("u"), F.col("url_a").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("n_nbr"))
    # left join for totality: isolated points have no pair row at all (they
    # are still core when min_pts == 1)
    core = (
        pts.join(deg.withColumnRenamed("u", "url"), "url", "left")
        .filter(F.coalesce(F.col("n_nbr"), F.lit(0)) + 1 >= int(min_pts))
        .select("url")
        .localCheckpoint(eager=True)
    )
    cc = (
        e.join(core.select(F.col("url").alias("url_a")), "url_a")
        .join(core.select(F.col("url").alias("url_b")), "url_b")
        .select(F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"))
    )
    comp = dup_components(core, cc, id_col="url").localCheckpoint(eager=True)
    lbl = gate_broadcast(
        comp.select(F.col("url").alias("v"), "canonical_id"),
        comp.count(),
    )
    border = (
        sym.join(lbl, "v")
        .groupBy("u")
        .agg(F.min("canonical_id").alias("_b"))
        .withColumnRenamed("u", "url")
    )
    return (
        pts.join(comp.withColumnRenamed("canonical_id", "_c"), "url", "left")
        .join(border, "url", "left")
        .select(
            "url",
            F.when(F.col("_c").isNotNull(), F.lit("core"))
            .when(F.col("_b").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("_c"), F.col("_b"), F.lit("")).alias("cluster_id"),
        )
    )


def dbscan_points_sql(pg_rel: str, eps_km: float, min_pts: int) -> str:
    """DuckDB oracle: brute lat-band-pruned eps pairs (the sound prune of
    ``geo_near_pairs_sql``), identical core rule, unrolled min-label
    components over core-core pairs (``components_minlabel_sql`` — the
    recursive-closure oracle is quadratic per component and a single dense
    city blob at sf0.01 already holds 4k cores, ~17M closure rows; the
    minlabel oracle fails LOUDLY via conflicting duplicate rows if its
    unroll were ever too short), identical min-rule border assignment.

    Outer CTE names avoid the ``ml_``-prefixed CTEs the nested component
    subquery defines — DuckDB re-binds shadowed outer CTEs in the inner
    scope into a false cycle."""
    from countrymaam_spark.functions import geo as GG

    hav = GG.haversine_km_sql("a.lat", "a.lon", "b.lat", "b.lon")
    band = eps_km / GG.KM_PER_DEG
    comp = components_minlabel_sql(
        "core", "SELECT id_a, id_b FROM cc", id_col="url"
    )
    return f"""
        WITH ep AS MATERIALIZED (
            SELECT a.url AS url_a, b.url AS url_b
            FROM {pg_rel} a, {pg_rel} b
            WHERE a.lat IS NOT NULL AND b.lat IS NOT NULL
              AND b.lat BETWEEN a.lat - {band!r} AND a.lat + {band!r}
              AND a.url < b.url AND {hav} <= {eps_km!r}
        ),
        esym AS MATERIALIZED (
            SELECT url_a AS u, url_b AS v FROM ep
            UNION ALL SELECT url_b AS u, url_a AS v FROM ep
        ),
        deg AS (SELECT u, COUNT(*) AS n_nbr FROM esym GROUP BY u),
        core AS MATERIALIZED (
            SELECT p.url FROM {pg_rel} p LEFT JOIN deg ON p.url = deg.u
            WHERE p.lat IS NOT NULL
              AND COALESCE(deg.n_nbr, 0) + 1 >= {int(min_pts)}
        ),
        cc AS (
            SELECT url_a AS id_a, url_b AS id_b FROM ep
            WHERE url_a IN (SELECT url FROM core)
              AND url_b IN (SELECT url FROM core)
        ),
        comp AS ({comp}),
        border AS (
            SELECT s.u AS url, MIN(c.canonical_id) AS _b
            FROM esym s JOIN comp c ON s.v = c.url GROUP BY s.u
        )
        SELECT p.url AS url,
               CASE WHEN comp.url IS NOT NULL THEN 'core'
                    WHEN border.url IS NOT NULL THEN 'border'
                    ELSE 'noise' END AS role,
               COALESCE(comp.canonical_id, border._b, '') AS cluster_id
        FROM {pg_rel} p
        LEFT JOIN comp ON p.url = comp.url
        LEFT JOIN border ON p.url = border.url
        WHERE p.lat IS NOT NULL
    """


# --- Kernel-density raster (heatmap) -----------------------------------------


def _kde_offsets(radius: int) -> list[tuple[int, int, int]]:
    """(dx, dy, w) for the integer Epanechnikov-style kernel
    ``w = radius^2 + 1 - (dx^2 + dy^2)``, positive entries only (the kernel
    support is the Euclidean disc of radius ``radius``; the corners of the
    Chebyshev box fall out on their own). Integer weights keep the whole
    density exact — no transcendental kernel, so Spark and the SQL oracle
    agree bit-for-bit with no float-rounding protocol."""
    w0 = radius * radius + 1
    return [
        (dx, dy, w0 - dx * dx - dy * dy)
        for dx in range(-radius, radius + 1)
        for dy in range(-radius, radius + 1)
        if w0 - dx * dx - dy * dy > 0
    ]


def kde_heatmap(
    geo: DataFrame, res: int, radius: int, stats: DataFrame | None = None
) -> DataFrame:
    """(cell, density): kernel-density raster at grid resolution ``res`` —
    the vector->raster half of the tile family (points in, smoothed grid
    out). ``density(t) = sum over source cells s within the kernel disc of
    n(s) * w(s - t)`` with the exact integer kernel of :func:`_kde_offsets`.

    Scale shape: ONE corpus aggregation on the cell key (identical shuffle
    to ``dense_cells``/``tile_counts`` — map-side partial), then the spread
    runs on the NON-EMPTY CELL table only (corpus-independent size) with a
    constant fan-out of at most ``(2*radius+1)^2`` rows per cell from an
    expression-literal offset array (stays in whole-stage codegen — no
    offsets table to join, no BNLJ), and one final cell-keyed aggregation
    whose input is |cells| * O(radius^2) rows. Longitude wraps via pmod;
    latitude rows beyond the poles are dropped (both exactly as
    ``ring_cells`` defines the grid topology).

    ``stats`` — the persisted per-cell count state (cell, cnt) from
    ``knn.build_cell_stats`` at the SAME ``res`` (batch-built, incrementally
    appended, or stream-maintained) — makes the raster a pure state-serving
    query: the corpus is never rescanned, only the grid-bounded cell table
    spreads. Identical output to the corpus path by construction — both
    spread the same aggregate (pytest-pinned).
    """
    nx, ny = 2 << res, 1 << res
    offs = _kde_offsets(radius)
    if stats is not None:
        cnt = stats.select("cell", F.col("cnt").alias("n"))
    else:
        cnt = (
            geo.filter(F.col("lat").isNotNull())
            .select(G.encode_cell(F.col("lat"), F.col("lon"), res).alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    off_arr = F.array(
        *[
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(w).alias("w")
            )
            for dx, dy, w in offs
        ]
    )
    sp = cnt.select("cell", "n", F.explode(off_arr).alias("o")).select(
        (G.cell_y(F.col("cell")) + F.col("o.dy")).alias("yy"),
        F.pmod(G.cell_x(F.col("cell")) + F.col("o.dx"), F.lit(nx)).alias("xx"),
        (F.col("n") * F.col("o.w")).cast("long").alias("contrib"),
    )
    return (
        sp.filter((F.col("yy") >= 0) & (F.col("yy") < ny))
        .select(
            (
                F.lit(res) * F.lit(_R_SHIFT)
                + F.col("xx") * F.lit(_X_SHIFT)
                + F.col("yy")
            ).cast("long").alias("cell"),
            "contrib",
        )
        .groupBy("cell")
        .agg(F.sum("contrib").alias("density"))
    )


def kde_heatmap_sql(pg_rel: str, res: int, radius: int) -> str:
    """Oracle: identical integer kernel over a tiny cross of two ``range``
    relations (the offset disc), same wrap/clamp topology, BIGINT density."""
    nx, ny = 2 << res, 1 << res
    w0 = radius * radius + 1
    cell = G.encode_cell_sql("lat", "lon", res)
    return f"""
        WITH kd_cnt AS (
            SELECT {cell} AS cell, COUNT(*) AS n
            FROM {pg_rel} WHERE lat IS NOT NULL GROUP BY 1
        ),
        kd_off AS (
            SELECT gx.range AS dx, gy.range AS dy,
                   {w0} - gx.range * gx.range - gy.range * gy.range AS w
            FROM range(-{radius}, {radius + 1}) gx,
                 range(-{radius}, {radius + 1}) gy
            WHERE {w0} - gx.range * gx.range - gy.range * gy.range > 0
        ),
        kd_sp AS (
            SELECT ((((cell % {_R_SHIFT}) // {_X_SHIFT} + dx) % {nx} + {nx})
                    % {nx}) AS xx,
                   (cell % {_X_SHIFT}) + dy AS yy,
                   n * w AS contrib
            FROM kd_cnt, kd_off
        )
        SELECT CAST({res} AS BIGINT) * {_R_SHIFT} + xx * {_X_SHIFT} + yy AS cell,
               CAST(SUM(contrib) AS BIGINT) AS density
        FROM kd_sp WHERE yy >= 0 AND yy < {ny} GROUP BY 1
    """


def kde_contours(
    geo: DataFrame,
    res: int,
    radius: int,
    levels: list[int],
    stats: DataFrame | None = None,
) -> DataFrame:
    """(level, cell, region_id): vectorize the KDE raster back into labeled
    regions — for each threshold in ``levels``, the cells with
    ``density >= level`` group into 8-connected regions labeled by min cell
    id (the contour-polygon interiors of a heatmap, completing the
    raster->vector direction beside the vector->raster :func:`kde_heatmap`).

    Scale shape: the raster is computed ONCE and pinned (every level reads
    it); region labeling runs entirely on super-threshold CELL tables —
    corpus-independent, grid-bounded — through the same ring-explode
    equi-join adjacency and large-star/small-star components the hotspot
    operator audited. The levels share ONE component fixpoint: nodes are
    ``level_index * 2^58 + cell`` composites (2^58 is a multiple of the
    cell encoding's 2^53 res stride, so the offset is invisible to the
    x/y decode the adjacency uses), the per-level edge tables union
    lazily, and the star loop — the stage whose per-round driver jobs
    dominate wall time, since every level's data is tiny — runs once at
    the depth of the DEEPEST level instead of summing depths across
    levels (measured 3.4x on the sf0.1 three-level bench stage). Levels
    never share edges, so the union components equal the per-level runs
    exactly."""
    lvs = sorted({int(x) for x in levels})
    if len(lvs) > (1 << 5):
        raise ValueError("too many contour levels for the composite encoding")
    kde = kde_heatmap(geo, res, radius, stats=stats).localCheckpoint(eager=True)
    off = 1 << 58  # multiple of _R_SHIFT: cell_x/cell_y decode unaffected
    # levels are NESTED (density >= lv shrinks as lv grows), so every
    # level's adjacency is the lowest level's adjacency restricted to pairs
    # whose BOTH endpoint densities clear the threshold — one ring-explode
    # equi-join for the whole stage instead of one per level (the 3-level
    # bench stage spent ~1 s/level re-deriving the same grid-bounded edge
    # set). Pinned: every level filter reads the materialized edges.
    base = kde.filter(F.col("density") >= lvs[0]).select("cell", "density")
    ring = base.select(
        F.col("cell").alias("id_a"),
        F.col("density").alias("da"),
        F.explode(G.ring_cells(F.col("cell"), res, 1)).alias("id_b"),
    ).filter(F.col("id_a") < F.col("id_b"))
    adj = ring.join(
        base.select(F.col("cell").alias("id_b"), F.col("density").alias("db")),
        "id_b",
    ).localCheckpoint(eager=True)
    nodes = None
    edges = None
    for i, lv in enumerate(lvs):
        n = (
            kde.filter(F.col("density") >= lv)
            .select((F.lit(i * off) + F.col("cell")).alias("cell"))
        )
        e = adj.filter((F.col("da") >= lv) & (F.col("db") >= lv)).select(
            (F.lit(i * off) + F.col("id_a")).alias("id_a"),
            (F.lit(i * off) + F.col("id_b")).alias("id_b"),
        )
        nodes = n if nodes is None else nodes.unionByName(n)
        edges = e if edges is None else edges.unionByName(e)
    comp = dup_components(nodes, edges, id_col="cell")
    lv_arr = F.array(*[F.lit(lv).cast("long") for lv in lvs])
    idx = F.shiftright(F.col("cell"), 58)
    return comp.select(
        F.element_at(lv_arr, (idx + 1).cast("int")).alias("level"),
        F.col("cell").bitwiseAND(F.lit(off - 1)).alias("cell"),
        F.col("canonical_id").bitwiseAND(F.lit(off - 1)).alias("region_id"),
    )


def kde_contours_sql(
    pg_rel: str, res: int, radius: int, levels: list[int], rounds: int = 144
) -> str:
    """Oracle: the KDE raster CTE shared across levels, each level an
    independent subquery scope (its own ``dense`` + nested minlabel
    components — the unrolled pointer-doubling form, since a low threshold
    can put most of the raster into one region and the recursive closure is
    quadratic per component).

    ``rounds`` is much larger than the minlabel default: on a PERCOLATED 2D
    raster (a low level admits ~40% of a 256x128 grid, one world-spanning
    region full of holes) the pointer-doubling contraction degrades toward
    the hook's 1-hop-per-round floor — measured on the sf0.01 fixture,
    level 5 converges between 60 and 100 rounds (a 300-link chain needs
    < 18). 144 = 100 + margin bounded by the grid dimensions at res <= 7;
    a too-short unroll still fails LOUDLY via the poison-row tail, never
    silently."""
    parts = []
    for lv in sorted(int(x) for x in levels):
        comp = components_minlabel_sql(
            "dense", _adjacency_sql(res), id_col="cell", rounds=rounds
        )
        parts.append(f"""
            SELECT level, cell, region_id FROM (
                WITH dense AS MATERIALIZED (
                    SELECT cell FROM kc_kde WHERE density >= {lv}
                ),
                lvl_comp AS ({comp})
                SELECT CAST({lv} AS BIGINT) AS level, cell,
                       canonical_id AS region_id
                FROM lvl_comp
            )""")
    return f"""
        WITH kc_kde AS MATERIALIZED ({kde_heatmap_sql(pg_rel, res, radius)})
        {' UNION ALL '.join(parts)}
    """


# --- Getis-Ord Gi* statistical hotspots --------------------------------------


def gi_star(
    geo: DataFrame, res: int, radius: int, stats: DataFrame | None = None
) -> DataFrame:
    """(cell, w_n, gi_z): the Getis-Ord Gi* statistic (Getis & Ord 1992) per
    grid cell — the STATISTICAL hotspot measure beside the threshold
    clustering above: how many standard errors the box-neighborhood page
    count sits above the global mean, under binary weights w_ij = 1 within
    Chebyshev ``radius`` (self included — the * variant). Emitted for the
    neighborhood-sum support (every cell whose box holds >= 1 page).

    Exactness discipline: every aggregate the statistic consumes is an
    exact INTEGER (per-cell counts, their global sum and sum of squares,
    the per-cell neighbor count ``w_n`` from wrap/clamp arithmetic, the
    grid size n); the only float math is a fixed tree of IEEE double ops
    over those integers, identical expression-for-expression in the SQL
    oracle — deterministic in any partitioning/order, no float SUM ever.
    z = (L - x̄·W) / (S·sqrt((n·W - W²)/(n-1))), L = box sum, x̄ = Σx/n,
    S = sqrt(Σx²/n - x̄²), n = nx·ny grid cells (empty cells are real
    zeros in the population).

    Scale shape: one corpus cell aggregation (or the ``stats`` state —
    corpus never rescanned), two O(1)-row scalar aggregates, a
    constant-fan-out scatter over the non-empty cell table, and column
    math. Same topology as :func:`kde_heatmap` (lon wraps, poles clamp —
    and the clamp is not just topology here: it shrinks W at the poles,
    which the z-score must and does account for).
    """
    nx, ny = 2 << res, 1 << res
    if stats is not None:
        cnt = stats.select("cell", F.col("cnt").alias("n"))
    else:
        cnt = (
            geo.filter(F.col("lat").isNotNull())
            .select(G.encode_cell(F.col("lat"), F.col("lon"), res).alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    cnt = cnt.localCheckpoint(eager=True)
    tot = cnt.agg(
        F.sum("n").alias("sx"), F.sum(F.col("n") * F.col("n")).alias("sxx")
    ).collect()[0]
    sx, sxx = int(tot["sx"] or 0), int(tot["sxx"] or 0)
    n_cells = nx * ny
    xbar = sx / n_cells
    s = math.sqrt(sxx / n_cells - xbar * xbar)
    l_sum = (
        cnt.select(
            F.explode(G.ring_cells(F.col("cell"), res, radius)).alias("cell"),
            F.col("n"),
        )
        .groupBy("cell")
        .agg(F.sum("n").alias("l"))
    )
    y = G.cell_y(F.col("cell"))
    wx = min(2 * radius + 1, nx)
    wy = (
        F.least(y + F.lit(radius), F.lit(ny - 1))
        - F.greatest(y - F.lit(radius), F.lit(0))
        + 1
    )
    w = (F.lit(wx) * wy).cast("long")
    z = (F.col("l") - F.lit(xbar) * F.col("w_n")) / (
        F.lit(s)
        * F.sqrt(
            (F.lit(n_cells) * F.col("w_n") - F.col("w_n") * F.col("w_n"))
            / F.lit(float(n_cells - 1))
        )
    )
    return l_sum.withColumn("w_n", w).select(
        "cell", "w_n", F.round(z, 6).alias("gi_z")
    )


def gi_star_sql(pg_rel: str, res: int, radius: int) -> str:
    """Oracle: identical integer aggregates, identical IEEE expression tree
    (scalars from single-row CTEs — exact-integer inputs make the float ops
    deterministic on both engines)."""
    nx, ny = 2 << res, 1 << res
    n_cells = nx * ny
    cell = G.encode_cell_sql("lat", "lon", res)
    wx = min(2 * radius + 1, nx)
    return f"""
        WITH gs_cnt AS (
            SELECT {cell} AS cell, COUNT(*) AS n
            FROM {pg_rel} WHERE lat IS NOT NULL GROUP BY 1
        ),
        gs_tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS sx,
                   CAST(SUM(n * n) AS BIGINT) AS sxx
            FROM gs_cnt
        ),
        gs_off AS (
            SELECT gx.range AS dx, gy.range AS dy
            FROM range(-{radius}, {radius + 1}) gx,
                 range(-{radius}, {radius + 1}) gy
        ),
        gs_l AS (
            SELECT CAST({res} AS BIGINT) * {_R_SHIFT}
                   + ((((cell % {_R_SHIFT}) // {_X_SHIFT} + dx) % {nx} + {nx})
                      % {nx}) * {_X_SHIFT}
                   + (cell % {_X_SHIFT}) + dy AS cell,
                   CAST(SUM(n) AS BIGINT) AS l
            FROM gs_cnt, gs_off
            WHERE (cell % {_X_SHIFT}) + dy >= 0
              AND (cell % {_X_SHIFT}) + dy < {ny}
            GROUP BY 1
        )
        SELECT cell, w_n,
               ROUND((l - (CAST(sx AS DOUBLE) / {n_cells}) * w_n)
                     / (SQRT(CAST(sxx AS DOUBLE) / {n_cells}
                             - (CAST(sx AS DOUBLE) / {n_cells})
                               * (CAST(sx AS DOUBLE) / {n_cells}))
                        * SQRT(({n_cells} * w_n - w_n * w_n)
                               / CAST({n_cells - 1} AS DOUBLE))), 6) AS gi_z
        FROM (
            SELECT cell, l,
                   CAST({wx} AS BIGINT) * (
                       LEAST((cell % {_X_SHIFT}) + {radius}, {ny - 1})
                       - GREATEST((cell % {_X_SHIFT}) - {radius}, 0) + 1
                   ) AS w_n
            FROM gs_l
        ), gs_tot
    """


def morans_i(
    geo: DataFrame, res: int, radius: int, stats: DataFrame | None = None
) -> DataFrame:
    """One row (n_cells, w_tot, morans_i): global Moran's I spatial
    autocorrelation of the per-cell page counts over the FULL grid (empty
    cells are real zeros), binary box weights within Chebyshev ``radius``,
    self excluded (w_ii = 0). Near +1 = clustered (a crawl with cities),
    ~ -1/(n-1) = spatially random.

    Exact-integer decomposition (the Gi* discipline, taken further — even
    the pair sum never materializes pairs):
    ``sum_ij w z_i z_j = S_xy - 2 x̄ S_xw + x̄² W_tot`` with
    ``S_xy = Σ x·(L - x)`` (L = box sum incl self — the pair sum via the
    scatter, only non-empty cells contribute), ``S_xw = Σ x·(W - 1)``
    (clamp-aware neighbor counts), and ``W_tot`` in closed form over the
    grid rows; denominator ``Σ z² = Σx² - n x̄²`` absorbs the empty cells
    analytically. Four integer aggregates -> one fixed IEEE expression,
    identical in the oracle; no float sum, no pair table, O(|non-empty
    cells|) work after the corpus aggregation."""
    nx, ny = 2 << res, 1 << res
    if stats is not None:
        cnt = stats.select("cell", F.col("cnt").alias("n"))
    else:
        cnt = (
            geo.filter(F.col("lat").isNotNull())
            .select(G.encode_cell(F.col("lat"), F.col("lon"), res).alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    cnt = cnt.localCheckpoint(eager=True)
    l_sum = (
        cnt.select(
            F.explode(G.ring_cells(F.col("cell"), res, radius)).alias("cell"),
            F.col("n"),
        )
        .groupBy("cell")
        .agg(F.sum("n").alias("l"))
    )
    y = G.cell_y(F.col("cell"))
    wx = min(2 * radius + 1, nx)
    wy = (
        F.least(y + F.lit(radius), F.lit(ny - 1))
        - F.greatest(y - F.lit(radius), F.lit(0))
        + 1
    )
    w_i = (F.lit(wx) * wy).cast("long")
    agg = (
        cnt.join(l_sum, "cell")
        .select(
            "n",
            (F.col("n") * (F.col("l") - F.col("n"))).alias("_xy"),
            (F.col("n") * (w_i - F.lit(1))).alias("_xw"),
        )
        .agg(
            F.sum("n").alias("sx"),
            F.sum(F.col("n") * F.col("n")).alias("sxx"),
            F.sum("_xy").alias("sxy"),
            F.sum("_xw").alias("sxw"),
        )
        .collect()[0]
    )
    sx, sxx = int(agg["sx"] or 0), int(agg["sxx"] or 0)
    sxy, sxw = int(agg["sxy"] or 0), int(agg["sxw"] or 0)
    n = nx * ny
    # W_tot over ALL cells (empty included): wx is constant (nx > 2r+1 at
    # every supported res), wy clamps per row — closed row sum
    w_tot = sum(
        wx * (min(yy + radius, ny - 1) - max(yy - radius, 0) + 1) - 1
        for yy in range(ny)
    ) * nx
    xbar = sx / n
    num = sxy - 2.0 * xbar * sxw + xbar * xbar * w_tot
    den = sxx - n * xbar * xbar
    i = (n / w_tot) * (num / den)
    spark = geo.sparkSession if geo is not None else stats.sparkSession
    return spark.createDataFrame(
        [(int(n), int(w_tot), float(round(i, 8)))],
        "n_cells long, w_tot long, morans_i double",
    )


def morans_i_sql(pg_rel: str, res: int, radius: int) -> str:
    """Oracle: identical integer aggregates (the scatter via the offsets
    cross, the neighbor counts via the same clamp arithmetic) and the
    identical IEEE expression; W_tot and n are plan-time integer literals
    computed by the same closed form."""
    nx, ny = 2 << res, 1 << res
    n = nx * ny
    cell = G.encode_cell_sql("lat", "lon", res)
    wx = min(2 * radius + 1, nx)
    w_tot = sum(
        wx * (min(yy + radius, ny - 1) - max(yy - radius, 0) + 1) - 1
        for yy in range(ny)
    ) * nx
    return f"""
        WITH mi_cnt AS (
            SELECT {cell} AS cell, COUNT(*) AS n
            FROM {pg_rel} WHERE lat IS NOT NULL GROUP BY 1
        ),
        mi_off AS (
            SELECT gx.range AS dx, gy.range AS dy
            FROM range(-{radius}, {radius + 1}) gx,
                 range(-{radius}, {radius + 1}) gy
        ),
        mi_l AS (
            SELECT CAST({res} AS BIGINT) * {_R_SHIFT}
                   + ((((cell % {_R_SHIFT}) // {_X_SHIFT} + dx) % {nx} + {nx})
                      % {nx}) * {_X_SHIFT}
                   + (cell % {_X_SHIFT}) + dy AS cell,
                   CAST(SUM(n) AS BIGINT) AS l
            FROM mi_cnt, mi_off
            WHERE (cell % {_X_SHIFT}) + dy >= 0
              AND (cell % {_X_SHIFT}) + dy < {ny}
            GROUP BY 1
        ),
        mi_agg AS (
            SELECT CAST(SUM(c.n) AS BIGINT) AS sx,
                   CAST(SUM(c.n * c.n) AS BIGINT) AS sxx,
                   CAST(SUM(c.n * (lv.l - c.n)) AS BIGINT) AS sxy,
                   CAST(SUM(c.n * ({wx} * (
                       LEAST((c.cell % {_X_SHIFT}) + {radius}, {ny - 1})
                       - GREATEST((c.cell % {_X_SHIFT}) - {radius}, 0) + 1
                   ) - 1)) AS BIGINT) AS sxw
            FROM mi_cnt c JOIN mi_l lv ON c.cell = lv.cell
        )
        SELECT CAST({n} AS BIGINT) AS n_cells,
               CAST({w_tot} AS BIGINT) AS w_tot,
               ROUND((CAST({n} AS DOUBLE) / {w_tot}) * (
                   (sxy - 2.0 * (CAST(sx AS DOUBLE) / {n}) * sxw
                        + (CAST(sx AS DOUBLE) / {n})
                          * (CAST(sx AS DOUBLE) / {n}) * {w_tot})
                   / (sxx - {n} * (CAST(sx AS DOUBLE) / {n})
                              * (CAST(sx AS DOUBLE) / {n}))
               ), 8) AS morans_i
        FROM mi_agg
    """


def local_morans_i(
    geo: DataFrame, res: int, radius: int, stats: DataFrame | None = None
) -> DataFrame:
    """(cell, w_n, lisa): local Moran's I (Anselin 1995, LISA) per non-empty
    grid cell — the per-cell companion of :func:`morans_i` and the sign
    structure :func:`gi_star` cannot express: positive = the cell sits in a
    like-valued neighborhood (high-high cluster core or low-low basin),
    negative = a spatial OUTLIER (a loaded cell amid emptiness, or a hole
    in a hot region). ``I_i = (x_i - x̄) · (Σ_j w_ij (x_j - x̄)) / S²``,
    binary box weights, self excluded.

    Same exact-integer discipline as the siblings: the neighbor z-sum folds
    to ``(L_i - x_i) - (W_i - 1)·x̄`` (box sum minus self, empty neighbors
    enter analytically through the clamp-aware count), S² = Σx²/n - x̄²,
    and the result is one fixed IEEE expression over integer aggregates —
    deterministic in any partitioning, identical in the oracle. Emitted for
    non-empty cells (x_i = 0 rows are identically determined by L and W;
    the interesting set is where the data is)."""
    nx, ny = 2 << res, 1 << res
    if stats is not None:
        cnt = stats.select("cell", F.col("cnt").alias("n"))
    else:
        cnt = (
            geo.filter(F.col("lat").isNotNull())
            .select(G.encode_cell(F.col("lat"), F.col("lon"), res).alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    cnt = cnt.localCheckpoint(eager=True)
    tot = cnt.agg(
        F.sum("n").alias("sx"), F.sum(F.col("n") * F.col("n")).alias("sxx")
    ).collect()[0]
    sx, sxx = int(tot["sx"] or 0), int(tot["sxx"] or 0)
    n = nx * ny
    xbar = sx / n
    s2 = sxx / n - xbar * xbar
    l_sum = (
        cnt.select(
            F.explode(G.ring_cells(F.col("cell"), res, radius)).alias("cell"),
            F.col("n"),
        )
        .groupBy("cell")
        .agg(F.sum("n").alias("l"))
    )
    y = G.cell_y(F.col("cell"))
    wx = min(2 * radius + 1, nx)
    wy = (
        F.least(y + F.lit(radius), F.lit(ny - 1))
        - F.greatest(y - F.lit(radius), F.lit(0))
        + 1
    )
    w = (F.lit(wx) * wy).cast("long")
    j = cnt.join(l_sum, "cell").withColumn("w_n", w)
    lisa = (
        (F.col("n") - F.lit(xbar))
        * ((F.col("l") - F.col("n")) - (F.col("w_n") - F.lit(1)) * F.lit(xbar))
        / F.lit(s2)
    )
    return j.select("cell", "w_n", F.round(lisa, 6).alias("lisa"))


def local_morans_i_sql(pg_rel: str, res: int, radius: int) -> str:
    """Oracle: identical aggregates and expression tree."""
    nx, ny = 2 << res, 1 << res
    n = nx * ny
    cell = G.encode_cell_sql("lat", "lon", res)
    wx = min(2 * radius + 1, nx)
    return f"""
        WITH lm_cnt AS (
            SELECT {cell} AS cell, COUNT(*) AS n
            FROM {pg_rel} WHERE lat IS NOT NULL GROUP BY 1
        ),
        lm_tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS sx,
                   CAST(SUM(n * n) AS BIGINT) AS sxx
            FROM lm_cnt
        ),
        lm_off AS (
            SELECT gx.range AS dx, gy.range AS dy
            FROM range(-{radius}, {radius + 1}) gx,
                 range(-{radius}, {radius + 1}) gy
        ),
        lm_l AS (
            SELECT CAST({res} AS BIGINT) * {_R_SHIFT}
                   + ((((cell % {_R_SHIFT}) // {_X_SHIFT} + dx) % {nx} + {nx})
                      % {nx}) * {_X_SHIFT}
                   + (cell % {_X_SHIFT}) + dy AS cell,
                   CAST(SUM(n) AS BIGINT) AS l
            FROM lm_cnt, lm_off
            WHERE (cell % {_X_SHIFT}) + dy >= 0
              AND (cell % {_X_SHIFT}) + dy < {ny}
            GROUP BY 1
        )
        SELECT c.cell AS cell,
               CAST({wx} AS BIGINT) * (
                   LEAST((c.cell % {_X_SHIFT}) + {radius}, {ny - 1})
                   - GREATEST((c.cell % {_X_SHIFT}) - {radius}, 0) + 1
               ) AS w_n,
               ROUND((c.n - (CAST(sx AS DOUBLE) / {n}))
                     * ((lv.l - c.n)
                        - (CAST({wx} AS BIGINT) * (
                               LEAST((c.cell % {_X_SHIFT}) + {radius}, {ny - 1})
                               - GREATEST((c.cell % {_X_SHIFT}) - {radius}, 0) + 1
                           ) - 1) * (CAST(sx AS DOUBLE) / {n}))
                     / (CAST(sxx AS DOUBLE) / {n}
                        - (CAST(sx AS DOUBLE) / {n})
                          * (CAST(sx AS DOUBLE) / {n})), 6) AS lisa
        FROM lm_cnt c JOIN lm_l lv ON c.cell = lv.cell, lm_tot
    """
