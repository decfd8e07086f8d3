"""Geospatial scalar layer — pure Spark Column math (JVM/whole-stage-codegen).

Design notes
------------
The cell scheme ("qcell") is an H3-shaped API over a lat/lon quadgrid:

- resolution ``r`` in [0, 26]; a cell is ``180/2^r`` degrees tall and wide
  (the lon axis has ``2^(r+1)`` cells because it spans 360 degrees).
- cell id packs (r, x, y) into one BIGINT: ``r*2^53 + x*2^26 + y`` where
  ``x = floor((lon+180)/cell_deg)`` (clamped), ``y = floor((lat+90)/cell_deg)``
  (clamped). Arithmetic-only so the *identical* formula runs in DuckDB for the
  correctness oracle, and Catalyst codegens it — no Python in the hot path.
- ``cell_parent`` shifts x/y; ``ring`` enumerates the (2d+1)^2 neighbor block
  with longitude wraparound and latitude clamping at the poles.

This mirrors the reference's BSP cut-plane spatial decomposition
(/root/reference/bsp_tree/bsp_tree.go:22-60) as a *static* grid: candidate
generation walks grid rings (analog of best-first tree descent,
/root/reference/index/bsp_tree_index.go:35-92) and exact haversine re-ranks
(analog of the SqL2 re-rank, /root/reference/index/flat_index.go:26-82).

Every function here has a ``*_SQL`` template string used verbatim by the
DuckDB oracle so engine and oracle share one formula definition.
``bbox_min_dist_km_np`` is the one numpy twin: the same bound, evaluated
by driver-side plans.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088
# one degree of latitude in km (and of longitude at the equator)
KM_PER_DEG = 111.19492664455873  # pi/180 * EARTH_RADIUS_KM

MAX_RES = 26
_X_SHIFT = 2**26
_R_SHIFT = 2**53

# Web-Mercator latitude clamp
MERCATOR_MAX_LAT = 85.05112878


def cell_deg(res: int) -> float:
    """Cell edge length in degrees at resolution ``res``."""
    return 180.0 / (1 << res)


def valid_point(lat: Column, lon: Column) -> Column:
    """True where the coordinate pair is usable: neither value is NULL or
    NaN. A NaN compares greater than every number, so an unfiltered NaN
    clamps into an edge row or column of a grid instead of dropping out."""
    return lat.isNotNull() & lon.isNotNull() & ~F.isnan(lat) & ~F.isnan(lon)


def located(df: DataFrame) -> DataFrame:
    """The rows of ``df`` whose ``lat``/``lon`` pair is usable
    (:func:`valid_point`). The kNN, pip and tiles operators filter their
    queries and pages through this: a NaN coordinate that reached
    haversine's ``least(a, 1)`` would come back 20015 km from everything
    instead of having no location."""
    return df.filter(valid_point(F.col("lat"), F.col("lon")))


def valid_point_sql(lat: str, lon: str) -> str:
    """The identical predicate as SQL (DuckDB oracle)."""
    return (
        f"({lat} IS NOT NULL AND {lon} IS NOT NULL"
        f" AND NOT isnan({lat}) AND NOT isnan({lon}))"
    )


def edge_bbox_aggs() -> list[Column]:
    """Aggregate expressions for the bounding box (lat_lo, lat_hi, lon_lo,
    lon_hi) of a group of (lat1, lon1, lat2, lon2) edge rows."""
    return [
        F.least(F.min("lat1"), F.min("lat2")).alias("lat_lo"),
        F.greatest(F.max("lat1"), F.max("lat2")).alias("lat_hi"),
        F.least(F.min("lon1"), F.min("lon2")).alias("lon_lo"),
        F.greatest(F.max("lon1"), F.max("lon2")).alias("lon_hi"),
    ]


def encode_cell(lat: Column, lon: Column, res: int) -> Column:
    """lat/lon -> packed qcell id at ``res``. Pure column arithmetic."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    nx, ny = 2 << res, 1 << res
    step = F.lit(cell_deg(res))
    x = F.least(F.floor((lon + F.lit(180.0)) / step), F.lit(nx - 1)).cast("long")
    x = F.greatest(x, F.lit(0))
    y = F.least(F.floor((lat + F.lit(90.0)) / step), F.lit(ny - 1)).cast("long")
    y = F.greatest(y, F.lit(0))
    return (F.lit(res) * F.lit(_R_SHIFT) + x * F.lit(_X_SHIFT) + y).cast("long")


def encode_cell_sql(lat: str, lon: str, res: int) -> str:
    """The identical formula as ANSI SQL (DuckDB oracle)."""
    nx, ny = 2 << res, 1 << res
    step = repr(cell_deg(res))
    x = f"GREATEST(LEAST(CAST(FLOOR(({lon} + 180.0) / {step}) AS BIGINT), {nx - 1}), 0)"
    y = f"GREATEST(LEAST(CAST(FLOOR(({lat} + 90.0) / {step}) AS BIGINT), {ny - 1}), 0)"
    return f"(CAST({res} AS BIGINT) * {_R_SHIFT} + {x} * {_X_SHIFT} + {y})"


def cell_res(cell: Column) -> Column:
    return (cell / F.lit(_R_SHIFT)).cast("long")


def cell_x(cell: Column) -> Column:
    return ((cell % F.lit(_R_SHIFT)) / F.lit(_X_SHIFT)).cast("long")


def cell_y(cell: Column) -> Column:
    return (cell % F.lit(_X_SHIFT)).cast("long")


def cell_parent(cell: Column, parent_res: int, child_res: int) -> Column:
    """Parent cell at ``parent_res`` of a cell known to be at ``child_res``.

    Shifting x/y right by the res delta — the quadgrid analog of the H3
    parent op. Arithmetic only (codegen-able).
    """
    if parent_res > child_res:
        raise ValueError("parent_res must be <= child_res")
    shift = 1 << (child_res - parent_res)
    px = (cell_x(cell) / F.lit(shift)).cast("long")
    py = (cell_y(cell) / F.lit(shift)).cast("long")
    return (F.lit(parent_res) * F.lit(_R_SHIFT) + px * F.lit(_X_SHIFT) + py).cast("long")


def ring_cells(cell: Column, res: int, radius: int | Column) -> Column:
    """array<long> of all cells within Chebyshev grid distance ``radius``.

    ``radius`` may be a per-row Column (density-planned rings). Longitude
    wraps (x mod nx); latitude clamps (rows beyond the poles are dropped).
    Built from ``sequence`` + ``transform``/``flatten`` — expression-only, so
    ``explode(ring_cells(...))`` stays JVM-side. The ring is the
    candidate-generation budget knob (reference: search_k / maxCandidates,
    /root/reference/countrymaam.go:40-45).
    """
    return ring_cells_xy(cell, res, radius, radius)


def ring_cells_xy(
    cell: Column, res: int, radius_x: int | Column, radius_y: int | Column
) -> Column:
    """Asymmetric ring: Chebyshev radius ``radius_x`` in longitude cells,
    ``radius_y`` in latitude cells. ``radius_x >= nx//2`` covers the full
    longitude circle (a latitude band) — the exactness-restoring shape for
    wide rings near the poles, where the longitude pruning bound collapses.
    """
    nx, ny = 2 << res, 1 << res
    rx = F.lit(radius_x) if isinstance(radius_x, int) else radius_x
    ry = F.lit(radius_y) if isinstance(radius_y, int) else radius_y
    # rx = nx//2 already spans every x (pmod wraps; array_distinct dedups the
    # single overlap); wider would enumerate wrapped duplicates
    rx = F.least(rx, F.lit(nx // 2))
    ry = F.least(ry, F.lit(ny))
    x, y = cell_x(cell), cell_y(cell)
    dxs = F.sequence(-rx, rx)
    dys = F.sequence(-ry, ry)
    base = F.lit(res) * F.lit(_R_SHIFT)

    def one_row(dy: Column) -> Column:
        yy = y + dy
        return F.when(
            (yy >= 0) & (yy < ny),
            F.transform(
                dxs,
                lambda dx: base + F.pmod(x + dx, F.lit(nx)) * F.lit(_X_SHIFT) + yy,
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    return F.array_distinct(F.flatten(F.transform(dys, one_row)))


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km. Pure column math -> whole-stage codegen."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1) / 2.0
    dlon = F.radians(lon2 - lon1) / 2.0
    a = F.pow(F.sin(dlat), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon), 2)
    a = F.least(a, F.lit(1.0))
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def haversine_km_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Identical haversine as SQL for the DuckDB oracle."""
    return (
        f"(2.0 * {EARTH_RADIUS_KM!r} * ASIN(SQRT(LEAST(1.0, "
        f"POW(SIN(RADIANS(({lat2}) - ({lat1})) / 2.0), 2) + "
        f"COS(RADIANS({lat1})) * COS(RADIANS({lat2})) * "
        f"POW(SIN(RADIANS(({lon2}) - ({lon1})) / 2.0), 2)))))"
    )


def tile_xyz(lat: Column, lon: Column, z: int) -> tuple[Column, Column]:
    """Web-Mercator (slippy-map) tile (x, y) at zoom ``z``. Column math.

    Latitude is clamped to the Mercator domain; x wraps at the antimeridian.
    """
    n = 1 << z
    lat_c = F.greatest(F.least(lat, F.lit(MERCATOR_MAX_LAT)), F.lit(-MERCATOR_MAX_LAT))
    xt = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))).cast("long")
    xt = F.least(F.greatest(xt, F.lit(0)), F.lit(n - 1))
    rlat = F.radians(lat_c)
    merc = F.log(F.tan(rlat) + F.lit(1.0) / F.cos(rlat))
    yt = F.floor((F.lit(1.0) - merc / F.lit(3.141592653589793)) / F.lit(2.0) * F.lit(float(n))).cast("long")
    yt = F.least(F.greatest(yt, F.lit(0)), F.lit(n - 1))
    return xt, yt


def tile_xyz_sql(lat: str, lon: str, z: int) -> tuple[str, str]:
    n = 1 << z
    lat_c = f"GREATEST(LEAST({lat}, {MERCATOR_MAX_LAT!r}), {-MERCATOR_MAX_LAT!r})"
    xt = (
        f"LEAST(GREATEST(CAST(FLOOR((({lon}) + 180.0) / 360.0 * {float(n)!r}) AS BIGINT), 0), {n - 1})"
    )
    merc = f"LN(TAN(RADIANS({lat_c})) + 1.0 / COS(RADIANS({lat_c})))"
    yt = (
        f"LEAST(GREATEST(CAST(FLOOR((1.0 - {merc} / 3.141592653589793) / 2.0 * {float(n)!r}) AS BIGINT), 0), {n - 1})"
    )
    return xt, yt


def point_segment_dist_km(
    plat: Column, plon: Column,
    lat1: Column, lon1: Column, lat2: Column, lon2: Column,
) -> Column:
    """Distance (km) from a point to a polygon EDGE (great-circle to the
    closest point of the segment under an equirectangular parameterization).

    The projection plane is anchored at the query point's latitude
    (``scale = cos(radians(plat))`` on the longitude axis); the segment
    parameter ``t`` is solved in that plane (clamped to [0, 1], degenerate
    zero-length edges take t = 0), then the distance to the interpolated
    closest point is the exact haversine. Deterministic closed form — the
    identical formula runs in the DuckDB oracle
    (:func:`point_segment_dist_km_sql`). Analog of the reference's exact
    SqL2 re-rank kernel (/root/reference/index/flat_index.go:26-82) for the
    boundary-distance metric.
    """
    scale = F.cos(F.radians(plat))
    vx, vy = (lon2 - lon1) * scale, lat2 - lat1
    wx, wy = (plon - lon1) * scale, plat - lat1
    den = vx * vx + vy * vy
    t = F.when(den <= 0.0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), (wx * vx + wy * vy) / den))
    )
    clat = lat1 + t * (lat2 - lat1)
    clon = lon1 + t * (lon2 - lon1)
    return haversine_km(plat, plon, clat, clon)


def point_segment_dist_km_sql(
    plat: str, plon: str, lat1: str, lon1: str, lat2: str, lon2: str
) -> str:
    """The identical point-to-segment distance as SQL (DuckDB oracle)."""
    scale = f"COS(RADIANS({plat}))"
    vx, vy = f"((({lon2}) - ({lon1})) * {scale})", f"(({lat2}) - ({lat1}))"
    wx, wy = f"((({plon}) - ({lon1})) * {scale})", f"(({plat}) - ({lat1}))"
    den = f"({vx} * {vx} + {vy} * {vy})"
    t = (
        f"(CASE WHEN {den} <= 0.0 THEN 0.0 ELSE "
        f"LEAST(1.0, GREATEST(0.0, ({wx} * {vx} + {wy} * {vy}) / {den})) END)"
    )
    clat = f"(({lat1}) + {t} * (({lat2}) - ({lat1})))"
    clon = f"(({lon1}) + {t} * (({lon2}) - ({lon1})))"
    return haversine_km_sql(plat, plon, clat, clon)


def bbox_min_dist_km(
    plat: Column, plon: Column,
    lat_lo: Column, lat_hi: Column, lon_lo: Column, lon_hi: Column,
) -> Column:
    """SOUND great-circle lower bound (km) on the distance from a point to
    any point inside a lat/lon rectangle — the pruning bound for
    nearest-polygon search and for ``cell_knn``'s probe (whose driver plan
    evaluates the identical formula in numpy, :func:`bbox_min_dist_km_np`).

    Derivation: for q = (lat2, lon2) in the rect, haversine's
    a = sin^2((lat2 - p)/2) + cos(p)cos(lat2)sin^2(dlon/2) with |dlon| >= g,
    the wrapped gap to the rect's longitude interval, and cos latitudes are
    non-negative, so a >= f(lat2) = sin^2((lat2 - p)/2)
    + cos(p)cos(lat2)sin^2(g/2) = (1 - A cos(lat2 - opt))/2: a sinusoid in
    lat2 with amplitude A = sqrt(1 - cos^2(p) sin^2(g)) and its minimum at
    opt = atan2(sin(p), cos(p)cos(g)). With opt inside [lat_lo, lat_hi] the
    bound is (1 - A)/2, else f at the better edge. The distance is
    haversine's 2R asin(sqrt(a)), and (1 - A)/2 is evaluated as
    x / (2(1 + sqrt(1 - x))), x = cos^2(p) sin^2(g): both keep full
    precision near 0, where an acos form is off by up to 0.1 km and, for a
    point inside the rect, exceeds the true distance 0. Tight when the
    optimum latitude is reachable; always a true lower bound (property-
    tested against random edges in tests/test_geo_functions.py).
    """
    # wrapped longitude gap to the interval [lon_lo, lon_hi]
    def wrapped(a: Column, b: Column) -> Column:
        d = F.abs(a - b)
        return F.least(d, F.lit(360.0) - d)

    dgap = F.when(
        (plon >= lon_lo) & (plon <= lon_hi), F.lit(0.0)
    ).otherwise(F.least(wrapped(plon, lon_lo), wrapped(plon, lon_hi)))
    sp, cp = F.sin(F.radians(plat)), F.cos(F.radians(plat))
    g = F.radians(dgap)
    hg = F.pow(F.sin(g / 2.0), 2)

    def f(lat2: Column) -> Column:
        return F.pow(F.sin(F.radians(lat2 - plat) / 2.0), 2) + cp * F.cos(F.radians(lat2)) * hg

    opt_lat = F.degrees(F.atan2(sp, cp * F.cos(g)))
    x = F.pow(cp * F.sin(g), 2)
    a = F.when(
        (opt_lat >= lat_lo) & (opt_lat <= lat_hi), x / (2.0 * (1.0 + F.sqrt(1.0 - x)))
    ).otherwise(F.least(f(lat_lo), f(lat_hi)))
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(F.least(a, F.lit(1.0))))


def bbox_min_dist_km_np(plat, plon, lat_lo, lat_hi, lon_lo, lon_hi) -> np.ndarray:
    """:func:`bbox_min_dist_km` on numpy arrays, step for step (driver-side
    plans; parity with the Column form is pytest-pinned)."""
    def wrapped(a, b):
        d = np.abs(a - b)
        return np.minimum(d, 360.0 - d)

    dgap = np.where(
        (plon >= lon_lo) & (plon <= lon_hi), 0.0,
        np.minimum(wrapped(plon, lon_lo), wrapped(plon, lon_hi)),
    )
    sp, cp = np.sin(np.radians(plat)), np.cos(np.radians(plat))
    g = np.radians(dgap)
    hg = np.sin(g / 2.0) ** 2

    def f(lat2):
        return np.sin(np.radians(lat2 - plat) / 2.0) ** 2 + cp * np.cos(np.radians(lat2)) * hg

    opt_lat = np.degrees(np.arctan2(sp, cp * np.cos(g)))
    x = (cp * np.sin(g)) ** 2
    a = np.where(
        (opt_lat >= lat_lo) & (opt_lat <= lat_hi), x / (2.0 * (1.0 + np.sqrt(1.0 - x))),
        np.minimum(f(lat_lo), f(lat_hi)),
    )
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(a, 1.0)))


def quadkey(xt: Column, yt: Column, z: int) -> Column:
    """Bing-style quadkey string for tile (xt, yt) at zoom ``z``: one base-4
    digit per level, MSB first (digit = x_bit + 2*y_bit). A tile's parent is
    its quadkey PREFIX — string-prefix predicates give hierarchical tile
    pruning for free. Unrolled per-level column math (codegen-able)."""
    if z <= 0:
        raise ValueError("z must be >= 1")
    digits = [
        (
            F.shiftright(xt, k).bitwiseAND(F.lit(1))
            + F.lit(2) * F.shiftright(yt, k).bitwiseAND(F.lit(1))
        ).cast("string")
        for k in range(z - 1, -1, -1)
    ]
    return F.concat(*digits)


def quadkey_sql(xt: str, yt: str, z: int) -> str:
    """The identical quadkey construction as SQL (DuckDB oracle)."""
    if z <= 0:
        raise ValueError("z must be >= 1")
    digits = [
        f"CAST(((({xt}) >> {k}) & 1) + 2 * ((({yt}) >> {k}) & 1) AS VARCHAR)"
        for k in range(z - 1, -1, -1)
    ]
    return "(" + " || ".join(digits) + ")"
