"""Point-in-polygon join + tile assignment vs DuckDB oracles."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.operators.pip import point_in_polygon, point_in_polygon_sql
from countrymaam_spark.operators.tiles import assign_tiles, assign_tiles_sql, tile_counts
from countrymaam_spark.sources import pages as pg


@pytest.fixture(scope="module")
def geo_small(spark):
    out = pg.ensure_fixtures("sf0.001")
    pages = spark.read.parquet(os.path.join(out, "pages.parquet"))
    g = extract_geo(pages).select("url", "lat", "lon").cache()
    g.count()
    return g


_PAGES_GEO_SQL = (
    "(SELECT url, CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 1), '') AS DOUBLE) lat, "
    "CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 2), '') AS DOUBLE) lon FROM '{p}')"
)

_PAGES_GEO_TEXT_SQL = (
    "(SELECT url, text, CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 1), '') AS DOUBLE) lat, "
    "CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 2), '') AS DOUBLE) lon FROM '{p}')"
)


def test_pip_matches_oracle(spark, geo_small):
    out = pg.fixture_dir("sf0.001")
    edges = spark.read.parquet(os.path.join(out, "polygon_edges.parquet"))
    got = {(r["poly_id"], r["url"]) for r in point_in_polygon(geo_small, edges, res=6).collect()}
    sql = point_in_polygon_sql(
        _PAGES_GEO_SQL.format(p=os.path.join(out, "pages.parquet")),
        f"'{os.path.join(out, 'polygon_edges.parquet')}'",
    )
    want = set(duckdb.sql(sql).fetchall())
    assert got == want
    assert len(got) > 0  # city-centered polygons must contain pages


def test_pip_res_invariance(spark, geo_small):
    """Coarse-cell resolution must not change the exact result set."""
    out = pg.fixture_dir("sf0.001")
    edges = spark.read.parquet(os.path.join(out, "polygon_edges.parquet"))
    a = {(r["poly_id"], r["url"]) for r in point_in_polygon(geo_small, edges, res=4).collect()}
    b = {(r["poly_id"], r["url"]) for r in point_in_polygon(geo_small, edges, res=8).collect()}
    assert a == b


def test_tiles_match_oracle(spark, geo_small):
    out = pg.fixture_dir("sf0.001")
    p = os.path.join(out, "pages.parquet")
    got = {
        (r["url"], r["z"], r["xt"], r["yt"])
        for r in assign_tiles(geo_small, [4, 8, 12]).collect()
    }
    want = set(duckdb.sql(assign_tiles_sql(_PAGES_GEO_SQL.format(p=p), [4, 8, 12])).fetchall())
    assert got == want


def test_tile_counts_sum(spark, geo_small):
    n = geo_small.filter(F.col("lat").isNotNull()).count()
    tc = tile_counts(geo_small, [8]).agg(F.sum("n_pages")).collect()[0][0]
    assert tc == n


def test_tiles_drop_null_and_nan_coordinates(spark):
    """Every tile entry point and its SQL oracle drop a page whose lat or
    lon is NULL or NaN (a NaN compares above every number, so unfiltered it
    clamps into an edge tile), and otherwise agree row for row."""
    import pyarrow as pa

    from countrymaam_spark.operators import tiles as T

    nan = float("nan")
    coords = [
        (1.0, 1.0), (45.0, -120.0), (-30.0, 150.0),
        (nan, 1.0), (1.0, nan), (nan, nan), (None, 1.0), (1.0, None),
    ]
    pages = [
        (f"http://h{i % 2}.example/p{i}", lat, lon, f"alpha beta page{i} gamma")
        for i, (lat, lon) in enumerate(coords)
    ]
    valid = {u for u, *_ in pages[:3]}
    df = spark.createDataFrame(pages, "url string, lat double, lon double, text string")
    views = [(1, -50.0, 50.0, -130.0, 160.0)]
    views_df = spark.createDataFrame(
        views, "view_id long, lat_lo double, lat_hi double, lon_lo double, lon_hi double"
    )
    con = duckdb.connect()
    con.register("pages", pa.table({
        "url": [p[0] for p in pages],
        "lat": pa.array([p[1] for p in pages], pa.float64()),
        "lon": pa.array([p[2] for p in pages], pa.float64()),
        "text": [p[3] for p in pages],
    }))
    con.register("views", pa.table(dict(zip(
        ("view_id", "lat_lo", "lat_hi", "lon_lo", "lon_hi"), map(list, zip(*views))
    ))))
    cases = {
        "assign_tiles": (T.assign_tiles(df, [4, 8]), T.assign_tiles_sql("pages", [4, 8])),
        "tile_counts": (T.tile_counts(df, [4, 8]), T.tile_counts_sql("pages", [4, 8])),
        "quadkey_counts": (T.quadkey_counts(df, 4), T.quadkey_counts_sql("pages", 4)),
        "update_quadkey_counts": (
            T.update_quadkey_counts(T.quadkey_counts(df.limit(0), 4), df, 4),
            T.quadkey_counts_sql("pages", 4),
        ),
        "viewport_join": (T.viewport_join(df, views_df), T.viewport_join_sql("pages", "views")),
        "tile_domains": (T.tile_domains(df, 4), T.tile_domains_sql("pages", 4)),
        "tile_top_pages": (T.tile_top_pages(df, 4), T.tile_top_pages_sql("pages", 4)),
        "tile_terms": (T.tile_terms(df, 4), T.tile_terms_sql("pages", 4)),
    }
    try:
        for name, (got_df, sql) in cases.items():
            got = sorted(tuple(r) for r in got_df.collect())
            want = sorted(tuple(r) for r in con.execute(sql).fetchall())
            assert got == want, name
    finally:
        con.close()
    assert {r["url"] for r in T.assign_tiles(df, [4]).collect()} == valid
    assert T.tile_counts(df, [4]).agg(F.sum("n_pages")).first()[0] == len(valid)


def test_tile_bounds_roundtrip_contains_points(spark, geo_small):
    """raster->vector inverse: every point must fall inside (or on the
    boundary of) the bbox of the tile assign_tiles mapped it to. Mercator
    clamping makes polar points land in the edge tiles, whose bboxes still
    contain them in lon; lat containment is asserted against the clamped
    latitude."""
    from countrymaam_spark.functions.geo import MERCATOR_MAX_LAT
    from countrymaam_spark.operators.tiles import tile_bounds

    z = 6
    joined = tile_bounds(
        assign_tiles(geo_small, [z]).join(
            geo_small.filter(F.col("lat").isNotNull()), "url"
        )
    )
    eps = 1e-6
    lat_c = F.greatest(
        F.least(F.col("lat"), F.lit(MERCATOR_MAX_LAT)), F.lit(-MERCATOR_MAX_LAT)
    )
    bad = joined.filter(
        ~(
            (F.col("lon") >= F.col("lon_min") - eps)
            & (F.col("lon") <= F.col("lon_max") + eps)
            & (lat_c >= F.col("lat_min") - eps)
            & (lat_c <= F.col("lat_max") + eps)
        )
    )
    assert bad.count() == 0
    # bbox edges are monotone and tile-aligned
    degen = joined.filter(
        (F.col("lon_min") >= F.col("lon_max")) | (F.col("lat_min") >= F.col("lat_max"))
    )
    assert degen.count() == 0


def test_tile_bounds_matches_duckdb(spark, geo_small):
    """Bit parity of the inverse-Mercator formulas: tile_bounds over the
    tile_counts raster equals the byte-identical SQL in DuckDB."""
    from countrymaam_spark.operators.tiles import (
        tile_bounds,
        tile_bounds_sql,
        tile_counts_sql,
    )

    out = pg.fixture_dir("sf0.001")
    pages_rel = _PAGES_GEO_SQL.format(p=os.path.join(out, "pages.parquet"))
    zooms = [4, 8]
    got = sorted(
        map(tuple, tile_bounds(tile_counts(geo_small, zooms)).collect())
    )
    want = sorted(
        duckdb.sql(
            tile_bounds_sql(f"({tile_counts_sql(pages_rel, zooms)})")
        ).fetchall()
    )
    assert got == want


def test_compact_cover_roundtrip_and_disjoint(spark):
    """uncompact(compact(S)) == S, and no compact cell is an ancestor of
    another within a polygon (the exactly-once candidate guarantee)."""
    from countrymaam_spark.operators.pip import _cover_cells, compact_cover, uncompact_cover
    from countrymaam_spark.functions import geo

    out = pg.fixture_dir("sf0.001")
    edges = spark.read.parquet(os.path.join(out, "polygon_edges.parquet"))
    cover = _cover_cells(edges, 6)
    comp = compact_cover(cover, 6, 3)
    orig = {tuple(r) for r in cover.collect()}
    back = {tuple(r) for r in uncompact_cover(comp, 6).collect()}
    assert back == orig
    assert comp.count() < cover.count()  # rectangles must compact
    # disjointness: expanding each compact cell to res-6 descendants must
    # produce no duplicates per polygon
    expanded = uncompact_cover(comp, 6)
    dups = (
        expanded.groupBy("poly_id", "cell").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0
    # every compact cell's res stays within [min_res, res]
    res_bounds = comp.select(
        F.min(geo.cell_res(F.col("cell"))).alias("lo"),
        F.max(geo.cell_res(F.col("cell"))).alias("hi"),
    ).first()
    assert 3 <= res_bounds["lo"] and res_bounds["hi"] <= 6


def test_pip_compact_matches_standard(spark, geo_small):
    from countrymaam_spark.operators.pip import point_in_polygon_compact

    out = pg.fixture_dir("sf0.001")
    edges = spark.read.parquet(os.path.join(out, "polygon_edges.parquet"))
    a = {(r["poly_id"], r["url"]) for r in point_in_polygon(geo_small, edges, res=6).collect()}
    b = {
        (r["poly_id"], r["url"])
        for r in point_in_polygon_compact(geo_small, edges, res=6, min_res=3).collect()
    }
    assert a == b and len(a) > 0


def test_polygon_stats_matches_oracle(spark):
    from countrymaam_spark.operators.pip import polygon_stats, polygon_stats_sql

    out = pg.fixture_dir("sf0.001")
    rel = os.path.join(out, "polygon_edges.parquet")
    edges = spark.read.parquet(rel)
    got = sorted(map(tuple, polygon_stats(edges).collect()))
    want = sorted(map(tuple, duckdb.sql(polygon_stats_sql(f"'{rel}'")).fetchall()))
    assert got == want
    # sanity: closed rings have positive perimeter and area
    assert all(r[2] > 0 and r[3] > 0 for r in got)


def test_quadkey_counts_oracle_and_prefix_rollup(spark, geo_small):
    from countrymaam_spark.operators.tiles import quadkey_counts, quadkey_counts_sql

    out = pg.fixture_dir("sf0.001")
    p = os.path.join(out, "pages.parquet")
    got = sorted(map(tuple, quadkey_counts(geo_small, 8).collect()))
    want = sorted(
        duckdb.sql(quadkey_counts_sql(_PAGES_GEO_SQL.format(p=p), 8)).fetchall()
    )
    assert got == want
    # parent tiles are string prefixes: rolling z=8 keys up by 6-char prefix
    # must reproduce the z=6 table exactly
    fine = quadkey_counts(geo_small, 8)
    rolled = sorted(
        map(
            tuple,
            fine.groupBy(F.substring("quadkey", 1, 6).alias("quadkey"))
            .agg(F.sum("n_pages").alias("n_pages"))
            .collect(),
        )
    )
    coarse = sorted(map(tuple, quadkey_counts(geo_small, 6).collect()))
    assert rolled == coarse


def test_viewport_join_matches_brute_predicates(spark, geo_small):
    from countrymaam_spark.operators.tiles import viewport_join

    views = spark.createDataFrame(
        [
            (0, -10.0, 10.0, -20.0, 20.0),
            (1, 40.0, 55.0, -5.0, 25.0),
            (2, 80.0, 89.0, -180.0, 180.0),  # polar band
            (3, 0.0, 0.5, 100.0, 100.5),     # tiny sub-cell viewport
        ],
        "view_id long, lat_lo double, lat_hi double, lon_lo double, lon_hi double",
    )
    got = sorted(map(tuple, viewport_join(geo_small, views, res=6).collect()))
    brute = sorted(
        map(
            tuple,
            geo_small.filter(F.col("lat").isNotNull())
            .crossJoin(views)
            .filter(
                F.col("lat").between(F.col("lat_lo"), F.col("lat_hi"))
                & F.col("lon").between(F.col("lon_lo"), F.col("lon_hi"))
            )
            .select("view_id", "url", "lat", "lon")
            .collect(),
        )
    )
    assert got == brute and len(got) > 0


def test_tile_domains_matches_oracle(spark, geo_small):
    from countrymaam_spark.operators.tiles import tile_domains, tile_domains_sql

    out = pg.fixture_dir("sf0.001")
    p = os.path.join(out, "pages.parquet")
    got = sorted(map(tuple, tile_domains(geo_small, 6).collect()))
    want = sorted(duckdb.sql(tile_domains_sql(_PAGES_GEO_SQL.format(p=p), 6)).fetchall())
    assert got == want
    # diversity <= volume: n_domains can never exceed the tile's page count
    from countrymaam_spark.operators.tiles import tile_counts

    counts = {(r["z"], r["xt"], r["yt"]): r["n_pages"] for r in tile_counts(geo_small, [6]).collect()}
    assert all(n <= counts[(z, x, y)] for z, x, y, n in got)


def test_pip_plan_has_no_candidate_exchange(spark, geo_small):
    """The verify is expressions over broadcast edge arrays: the plan has no
    exchange after the candidate join."""
    out = pg.fixture_dir("sf0.001")
    edges = spark.read.parquet(os.path.join(out, "polygon_edges.parquet"))
    plan = (
        point_in_polygon(geo_small, edges, res=6)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the corpus path has NO exchange: every shuffle in the plan is a
    # dim-table build keyed on poly_id (cover bbox agg / edges collect_list);
    # in particular no verify shuffle keyed on the candidate (poly_id, url)
    shuffles = [
        ln for ln in plan.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]
    assert all("poly_id" in ln and "url" not in ln for ln in shuffles), shuffles


_EDGES_SCHEMA = "poly_id long, lat1 double, lon1 double, lat2 double, lon2 double"


def _ring(pid, corners):
    return [(pid, *corners[j], *corners[(j + 1) % len(corners)]) for j in range(len(corners))]


@pytest.mark.parametrize(
    "op", ["point_in_polygon", "point_in_polygon_compact", "point_outside_polygons"]
)
def test_pip_edge_cases_match_oracle(spark, op):
    """Boundary and degenerate inputs agree with the brute-force oracle:
    points on a vertex, a horizontal edge and a vertical edge (the half-open
    rule), NULL and NaN coordinates, polygons whose bbox reaches the +-180 /
    +-90 grid clamp, and an empty edge table. A NULL or NaN page is in no
    polygon and outside none: it has no location."""
    import pyarrow as pa

    from countrymaam_spark.operators import pip

    run = getattr(pip, op)
    square = [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)]
    edges_rows = (
        _ring(1, square)
        + _ring(2, [(80.0, 170.0), (80.0, 180.0), (90.0, 180.0), (90.0, 170.0)])
        + _ring(3, [(-90.0, -180.0), (-90.0, -170.0), (-80.0, -170.0), (-80.0, -180.0)])
    )
    nan = float("nan")
    pts = [
        (0.0, 0.0), (10.0, 10.0), (0.0, 10.0), (10.0, 0.0),  # vertices
        (0.0, 5.0), (10.0, 5.0),  # on the horizontal edges
        (5.0, 0.0), (5.0, 10.0),  # on the vertical edges
        (5.0, 5.0), (11.0, 5.0),  # inside / outside
        (nan, 5.0), (5.0, nan), (nan, nan), (None, 5.0), (5.0, None),
        (85.0, 175.0), (89.99, 179.99), (90.0, 180.0), (80.0, 180.0),
        (-85.0, -175.0), (-89.99, -179.99), (-90.0, -180.0),
    ]
    pages = [(f"u{i}", lat, lon) for i, (lat, lon) in enumerate(pts)]
    pages_df = spark.createDataFrame(pages, "url string, lat double, lon double")
    pages_tbl = pa.table({
        "url": [u for u, _, _ in pages],
        "lat": pa.array([la for _, la, _ in pages], pa.float64()),
        "lon": pa.array([lo for _, _, lo in pages], pa.float64()),
    })
    for rows in (edges_rows, []):
        edges_df = spark.createDataFrame(rows, _EDGES_SCHEMA)
        edges_tbl = pa.Table.from_pylist(
            [dict(zip(("poly_id", "lat1", "lon1", "lat2", "lon2"), r)) for r in rows],
            schema=pa.schema([("poly_id", pa.int64())] + [
                (c, pa.float64()) for c in ("lat1", "lon1", "lat2", "lon2")
            ]),
        )
        con = duckdb.connect()
        con.register("pages", pages_tbl)
        con.register("edges", edges_tbl)
        outside = op == "point_outside_polygons"
        oracle = pip.point_outside_polygons_sql if outside else point_in_polygon_sql
        want = set(con.execute(oracle("pages", "edges")).fetchall())
        con.close()
        got = [tuple(r) for r in run(pages_df, edges_df, res=6).collect()]
        assert len(got) == len(set(got))
        assert set(got) == want
        if outside:
            # u10-u14 are the NULL/NaN pages; u9 lies outside every polygon
            located = {(u,) for i, (u, _, _) in enumerate(pages) if not 10 <= i <= 14}
            assert ("u9",) in want and want <= located
            assert (want == located) == (not rows)
        elif rows:
            # the interior and clamp-reaching points are found
            assert {(1, "u8"), (2, "u15"), (2, "u16"), (3, "u19"), (3, "u20")} <= want


def test_tile_top_pages_oracle_and_plan(spark):
    from countrymaam_spark.operators.tiles import tile_top_pages, tile_top_pages_sql

    out = pg.fixture_dir("sf0.001")
    p = os.path.join(out, "pages.parquet")
    pages = extract_geo(spark.read.parquet(p))
    got = sorted(map(tuple, tile_top_pages(pages, 6, k=3).collect()))
    want = sorted(
        duckdb.sql(tile_top_pages_sql(_PAGES_GEO_TEXT_SQL.format(p=p), 6, k=3)).fetchall()
    )
    assert got == want and len(got) > 0
    plan = tile_top_pages(pages, 6, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # partial top-k before the exchange


def test_update_quadkey_counts_equals_rebuild(spark, geo_small):
    """delta merge over an append == from-scratch rebuild over the union,
    for any split point (commutative merge)."""
    from countrymaam_spark.operators.tiles import quadkey_counts, update_quadkey_counts

    old = geo_small.filter(F.col("url") < "https://site0100")
    new = geo_small.filter(~(F.col("url") < "https://site0100"))
    merged = sorted(
        map(tuple, update_quadkey_counts(quadkey_counts(old, 8), new, 8).collect())
    )
    rebuilt = sorted(map(tuple, quadkey_counts(geo_small, 8).collect()))
    assert merged == rebuilt
    # and the reverse append order gives the same state
    rev = sorted(
        map(tuple, update_quadkey_counts(quadkey_counts(new, 8), old, 8).collect())
    )
    assert rev == rebuilt


def test_zonal_stats_matches_oracle(spark):
    """Per-polygon zonal rollup == brute-force PIP composed with the same
    attribute aggregate (DuckDB); empty polygons present with zero counts."""
    from countrymaam_spark.operators.geotag import extract_geo_sql
    from countrymaam_spark.operators.pip import zonal_stats, zonal_stats_sql

    out = pg.fixture_dir("sf0.001")
    p = os.path.join(out, "pages.parquet")
    e = os.path.join(out, "polygon_edges.parquet")
    pages = spark.read.parquet(p)
    edges = spark.read.parquet(e)
    got = sorted(
        (r["poly_id"], r["n_pages"], r["n_domains"], r["n_langs"])
        for r in zonal_stats(extract_geo(pages), edges, res=6).collect()
    )
    oracle = sorted(
        duckdb.sql(zonal_stats_sql(f"({extract_geo_sql(chr(39) + p + chr(39))})", f"'{e}'")).fetchall()
    )
    assert got == oracle
    # every polygon id appears exactly once (zeros kept)
    n_polys = duckdb.sql(f"SELECT COUNT(DISTINCT poly_id) FROM '{e}'").fetchone()[0]
    assert len(got) == n_polys


def test_tile_terms_matches_oracle(spark, geo_small):
    """Per-tile top-k term ranking == DuckDB (same tokenizer, stopword list,
    tie-break); plan retains the partial agg + WindowGroupLimit shape."""
    from countrymaam_spark.operators.tiles import tile_terms, tile_terms_sql

    out = pg.fixture_dir("sf0.001")
    p = os.path.join(out, "pages.parquet")
    pages = spark.read.parquet(p)
    from countrymaam_spark.operators.geotag import extract_geo as _eg

    df = tile_terms(_eg(pages), 5, k=5)
    got = sorted(
        (r["z"], r["xt"], r["yt"], r["rk"], r["token"], r["cnt"]) for r in df.collect()
    )
    oracle = sorted(
        duckdb.sql(
            tile_terms_sql(_PAGES_GEO_TEXT_SQL.format(p=p), 5, k=5)
        ).fetchall()
    )
    assert got == oracle
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_tile_terms_python_tokenizer_matches_expression_form(spark):
    """The mapInArrow tokenize+partial-count path (r6 optimization) must be
    bit-identical to the expression-only form it replaced — including NULL
    text, empty text, punctuation-only text, and non-ASCII input (the lower()
    divergence risk is removed by lowercasing in the JVM before the Python
    boundary; the [a-z0-9]+ findall equals split('[^a-z0-9]+') minus
    empties by construction)."""
    from pyspark.sql import Window

    from countrymaam_spark.functions import text as T
    from countrymaam_spark.operators.tiles import _tile_cols, tile_terms

    rows = [
        ("u0", 10.0, 20.0, "The quick HASH join;; the the fast-scan 42 a"),
        ("u1", 10.0, 20.0, None),
        ("u2", 10.0, 20.0, ""),
        ("u3", 10.0, 20.0, ";;; .. !!"),
        ("u4", 10.0, 20.0, "STRASSE Straße İstanbul café naive café"),
        ("u5", -33.0, 151.0, "vector vector vector scan scan big TABLE table"),
        ("u6", None, None, "no geo row drops out"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, lat double, lon double, text string"
    )
    got = sorted(
        (r["z"], r["xt"], r["yt"], r["rk"], r["token"], r["cnt"])
        for r in tile_terms(pages, 4, k=3).collect()
    )

    # the pre-r6 expression-only pipeline, inlined as the reference
    xt, yt = _tile_cols(4)
    sw = T.STOPWORDS["en"]
    kept = F.filter(
        T.tokens(F.col("text")),
        lambda t: (F.length(t) >= 2) & ~t.isin(*sw),
    )
    counts = (
        pages.filter(F.col("lat").isNotNull())
        .select(xt.alias("xt"), yt.alias("yt"), F.explode(kept).alias("token"))
        .groupBy("xt", "yt", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = counts.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("xt", "yt").orderBy(
                F.col("cnt").desc(), F.col("token").asc()
            )
        ),
    ).filter(F.col("rk") <= 3)
    want = sorted(
        (4, r["xt"], r["yt"], r["rk"], r["token"], r["cnt"])
        for r in ranked.collect()
    )
    assert got == want
