"""Unit tests for the geo column-math core (cell scheme, haversine, tiles)."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_encode_cell_corners(spark):
    # res 0: 2 x 1 grid. Western hemisphere -> x=0, eastern -> x=1.
    c_w = _one(spark, geo.encode_cell(F.lit(10.0), F.lit(-90.0), 0))
    c_e = _one(spark, geo.encode_cell(F.lit(10.0), F.lit(90.0), 0))
    assert c_w != c_e
    assert _one(spark, geo.cell_x(F.lit(c_w))) == 0
    assert _one(spark, geo.cell_x(F.lit(c_e))) == 1
    assert _one(spark, geo.cell_y(F.lit(c_w))) == 0
    assert _one(spark, geo.cell_res(F.lit(c_w))) == 0
    # boundary clamps: lon=180, lat=90 stay in range
    c_max = _one(spark, geo.encode_cell(F.lit(90.0), F.lit(180.0), 5))
    assert _one(spark, geo.cell_x(F.lit(c_max))) == (2 << 5) - 1
    assert _one(spark, geo.cell_y(F.lit(c_max))) == (1 << 5) - 1


def test_encode_cell_matches_duckdb(spark):
    pts = [(48.8566, 2.3522), (-33.8688, 151.2093), (0.0, 0.0), (84.9, -179.99)]
    for res in (3, 7, 12):
        df = spark.createDataFrame(pts, "lat double, lon double")
        got = [r["c"] for r in df.select(geo.encode_cell(F.col("lat"), F.col("lon"), res).alias("c")).collect()]
        sql = geo.encode_cell_sql("lat", "lon", res)
        want = [
            duckdb.sql(f"SELECT {sql} FROM (SELECT {la} AS lat, {lo} AS lon)").fetchone()[0]
            for la, lo in pts
        ]
        assert got == want


def test_cell_parent_contains_child(spark):
    child = geo.encode_cell(F.lit(48.8566), F.lit(2.3522), 10)
    parent = geo.cell_parent(child, 4, 10)
    direct = geo.encode_cell(F.lit(48.8566), F.lit(2.3522), 4)
    assert _one(spark, parent) == _one(spark, direct)


def test_ring_cells_basic(spark):
    cell = geo.encode_cell(F.lit(10.0), F.lit(10.0), 5)
    ring1 = _one(spark, geo.ring_cells(cell, 5, 1))
    assert len(ring1) == 9
    assert _one(spark, cell) in ring1
    ring0 = _one(spark, geo.ring_cells(cell, 5, 0))
    assert ring0 == [_one(spark, cell)]


def test_ring_cells_pole_clamp_and_wrap(spark):
    # cell at the north edge: rows beyond the pole are dropped -> 6 cells
    cell = geo.encode_cell(F.lit(89.9), F.lit(0.0), 3)
    ring = _one(spark, geo.ring_cells(cell, 3, 1))
    assert len(ring) == 6
    # antimeridian wrap: x=0 ring includes x = nx-1
    cell_am = geo.encode_cell(F.lit(0.0), F.lit(-179.99), 3)
    ring_am = _one(spark, geo.ring_cells(cell_am, 3, 1))
    xs = {(c % 2**53) // 2**26 for c in ring_am}
    assert 0 in xs and (2 << 3) - 1 in xs


def test_haversine_known_values(spark):
    # Paris -> London ~ 343.5 km
    d = _one(
        spark,
        geo.haversine_km(F.lit(48.8566), F.lit(2.3522), F.lit(51.5074), F.lit(-0.1278)),
    )
    assert d == pytest.approx(343.5, abs=1.0)
    # zero distance, antipodes ~ half circumference
    assert _one(spark, geo.haversine_km(F.lit(1.0), F.lit(2.0), F.lit(1.0), F.lit(2.0))) == 0.0
    anti = _one(spark, geo.haversine_km(F.lit(0.0), F.lit(0.0), F.lit(0.0), F.lit(180.0)))
    assert anti == pytest.approx(math.pi * geo.EARTH_RADIUS_KM, rel=1e-6)


def test_haversine_matches_duckdb(spark):
    pts = [(48.8566, 2.3522, 51.5074, -0.1278), (10.0, 170.0, -10.0, -170.0)]
    df = spark.createDataFrame(pts, "a double, b double, c double, d double")
    got = [
        r["v"]
        for r in df.select(
            geo.haversine_km(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("v")
        ).collect()
    ]
    sql = geo.haversine_km_sql("a", "b", "c", "d")
    for (a, b, c, d), g in zip(pts, got):
        w = duckdb.sql(f"SELECT {sql} FROM (SELECT {a} a, {b} b, {c} c, {d} d)").fetchone()[0]
        assert g == pytest.approx(w, rel=1e-12)


def test_point_segment_dist_matches_duckdb(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = [
        (
            float(rng.uniform(-85, 85)), float(rng.uniform(-180, 180)),
            float(rng.uniform(-85, 85)), float(rng.uniform(-180, 180)),
            float(rng.uniform(-85, 85)), float(rng.uniform(-180, 180)),
        )
        for _ in range(50)
    ] + [(10.0, 20.0, 30.0, 40.0, 30.0, 40.0)]  # degenerate zero-length edge
    df = spark.createDataFrame(
        rows, "plat double, plon double, lat1 double, lon1 double, lat2 double, lon2 double"
    )
    got = [
        r["v"]
        for r in df.select(
            geo.point_segment_dist_km(
                F.col("plat"), F.col("plon"),
                F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2"),
            ).alias("v")
        ).collect()
    ]
    sql = geo.point_segment_dist_km_sql("plat", "plon", "lat1", "lon1", "lat2", "lon2")
    for (plat, plon, a, b, c, d), g in zip(rows, got):
        w = duckdb.sql(
            f"SELECT {sql} FROM (SELECT CAST({plat} AS DOUBLE) plat, "
            f"CAST({plon} AS DOUBLE) plon, CAST({a} AS DOUBLE) lat1, "
            f"CAST({b} AS DOUBLE) lon1, CAST({c} AS DOUBLE) lat2, "
            f"CAST({d} AS DOUBLE) lon2)"
        ).fetchone()[0]
        assert g == pytest.approx(w, rel=1e-12)


def test_bbox_min_dist_is_sound_lower_bound(spark):
    """lb(point, rect) <= haversine(point, q) for every q sampled in the
    rect — including adversarial near-antipodal / polar configurations."""
    import numpy as np

    rng = np.random.default_rng(11)
    cases = []
    for _ in range(60):
        lat_lo = rng.uniform(-88, 86)
        lat_hi = lat_lo + rng.uniform(0.01, min(20, 88 - lat_lo))
        lon_lo = rng.uniform(-180, 170)
        lon_hi = lon_lo + rng.uniform(0.01, 10)
        cases.append(
            (rng.uniform(-89, 89), rng.uniform(-180, 180), lat_lo, lat_hi, lon_lo, lon_hi)
        )
    # adversarial: huge longitude gap + high-latitude rects (where the
    # naive clamp-point bound is NOT sound)
    cases += [
        (0.0, 0.0, 50.0, 55.0, 168.0, 172.0),
        (60.0, 0.0, -80.0, -75.0, 178.0, 179.0),
        (-30.0, -170.0, 70.0, 85.0, 5.0, 9.0),
    ]
    df = spark.createDataFrame(
        [tuple(map(float, c)) for c in cases],
        "plat double, plon double, lat_lo double, lat_hi double, lon_lo double, lon_hi double",
    )
    lbs = [
        r["v"]
        for r in df.select(
            geo.bbox_min_dist_km(
                F.col("plat"), F.col("plon"),
                F.col("lat_lo"), F.col("lat_hi"), F.col("lon_lo"), F.col("lon_hi"),
            ).alias("v")
        ).collect()
    ]
    R = geo.EARTH_RADIUS_KM
    for (plat, plon, lat_lo, lat_hi, lon_lo, lon_hi), lb in zip(cases, lbs):
        qlat = np.linspace(lat_lo, lat_hi, 25)[:, None]
        qlon = np.linspace(lon_lo, lon_hi, 25)[None, :]
        p1, l1 = np.radians(plat), np.radians(plon)
        p2, l2 = np.radians(qlat), np.radians(qlon)
        a = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin((l2 - l1) / 2) ** 2
        d = 2 * R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))
        assert lb <= d.min() + 1e-6, (plat, plon, lat_lo, lat_hi, lon_lo, lon_hi, lb, d.min())


def test_bbox_min_dist_np_sound_and_matches_column(spark):
    """The numpy twin of bbox_min_dist_km, which cell_knn's driver plan
    probes cells with: for cells next to the antimeridian and in polar rows,
    at res 7 and res 20, and queries near and far (on the other side of the
    antimeridian too), the bound never exceeds the engine's haversine to a
    point of the cell, corners and edges included, beyond float rounding
    (1e-9 km, far below cell_knn's 1e-6 km slack on D, also at res 20 where
    a cell is 20 m across), and equals the Column form within 1e-9 km."""
    import numpy as np

    rng = np.random.default_rng(17)
    cases = []
    for res in (7, 20):
        nx, ny, cd = 2 << res, 1 << res, geo.cell_deg(res)
        for j in range(60):
            x = int(rng.choice([0, 1, nx - 2, nx - 1, rng.integers(0, nx)]))
            y = int(rng.choice([0, 1, ny - 2, ny - 1, rng.integers(0, ny)]))
            lat_lo, lon_lo = y * cd - 90.0, x * cd - 180.0
            if j % 3 == 0:  # anywhere
                plat, plon = rng.uniform(-90, 90), rng.uniform(-180, 180)
            else:  # within a few cells, wrapped across the antimeridian
                plat = float(np.clip(lat_lo + rng.uniform(-3, 4) * cd, -90, 90))
                plon = ((lon_lo + rng.uniform(-3, 4) * cd + 180.0) % 360.0) - 180.0
            cases.append((plat, plon, lat_lo, lat_lo + cd, lon_lo, lon_lo + cd))
    rows = []
    for c, (plat, plon, lat_lo, lat_hi, lon_lo, lon_hi) in enumerate(cases):
        u = np.concatenate([[0.0, 1.0, 0.0, 1.0], rng.random(12), [0.0] * 4, [1.0] * 4])
        v = np.concatenate([[0.0, 0.0, 1.0, 1.0], rng.random(12), rng.random(4), rng.random(4)])
        u, v = np.concatenate([u, v[4:]]), np.concatenate([v, u[4:]])  # edges on both axes
        for a, b in zip(u, v):
            rows.append((c, float(lat_lo + a * (lat_hi - lat_lo)), float(lon_lo + b * (lon_hi - lon_lo))))
    cdf = spark.createDataFrame(
        [(i, *map(float, c)) for i, c in enumerate(cases)],
        "c long, plat double, plon double, lat_lo double, lat_hi double, "
        "lon_lo double, lon_hi double",
    )
    pdf = spark.createDataFrame(rows, "c long, lat double, lon double")
    col_lb = {
        r["c"]: r["lb"]
        for r in cdf.select("c", geo.bbox_min_dist_km(
            F.col("plat"), F.col("plon"),
            F.col("lat_lo"), F.col("lat_hi"), F.col("lon_lo"), F.col("lon_hi"),
        ).alias("lb")).collect()
    }
    nearest = {
        r["c"]: r["d"]
        for r in pdf.join(cdf, "c").groupBy("c").agg(F.min(geo.haversine_km(
            F.col("plat"), F.col("plon"), F.col("lat"), F.col("lon"))).alias("d")).collect()
    }
    arr = np.array(cases)
    np_lb = geo.bbox_min_dist_km_np(*arr.T)
    for i in range(len(cases)):
        assert abs(np_lb[i] - col_lb[i]) <= 1e-9, (cases[i], np_lb[i], col_lb[i])
        assert np_lb[i] <= nearest[i] + 1e-9, (cases[i], np_lb[i], nearest[i])
    # points inside their own cell: the bound is 0, not acos's 0.1 km
    inside = arr[:, 2:4].mean(1), arr[:, 4:6].mean(1)
    assert (geo.bbox_min_dist_km_np(*inside, *arr[:, 2:].T) == 0.0).all()
