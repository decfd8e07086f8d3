"""Polygon-overlap join vs known geometries and the DuckDB oracle."""

import os

import duckdb

from countrymaam_spark.operators.overlay import polygon_overlaps, polygon_overlaps_sql
from countrymaam_spark.sources import pages as pg

_EDGE_SCHEMA = "poly_id long, seq int, lat1 double, lon1 double, lat2 double, lon2 double"
_KNOWN = [(0, 1, "crosses"), (0, 2, "contains")]


def _ring(poly_id, pts):
    n = len(pts)
    return [
        (poly_id, i, pts[i][0], pts[i][1], pts[(i + 1) % n][0], pts[(i + 1) % n][1])
        for i in range(n)
    ]


def _known_geometries(spark):
    # 0: unit-ish square; 1: square crossing it; 2: small square strictly
    # inside 0; 3: far-away disjoint square; 4: bbox overlaps 0 but the
    # rings stay disjoint (candidate pruned by the exact stage)
    rows = (
        _ring(0, [(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0)])
        + _ring(1, [(5.0, 5.0), (5.0, 15.0), (15.0, 15.0), (15.0, 5.0)])
        + _ring(2, [(2.0, 2.0), (2.0, 4.0), (4.0, 4.0), (4.0, 2.0)])
        + _ring(3, [(40.0, 40.0), (40.0, 45.0), (45.0, 45.0), (45.0, 40.0)])
        + _ring(4, [(11.0, -3.0), (11.0, -1.0), (13.0, -1.0), (13.0, -3.0)])
    )
    return spark.createDataFrame(rows, _EDGE_SCHEMA)


def _fixture_edges(spark):
    rel = os.path.join(pg.ensure_fixtures("sf0.001"), "polygon_edges.parquet")
    want = sorted(map(tuple, duckdb.sql(polygon_overlaps_sql(f"'{rel}'")).fetchall()))
    return spark.read.parquet(rel), want


def test_overlaps_known_geometries(spark):
    got = sorted(map(tuple, polygon_overlaps(_known_geometries(spark), res=5).collect()))
    assert got == _KNOWN


def test_overlaps_fixture_matches_oracle(spark):
    edges, want = _fixture_edges(spark)
    got = sorted(map(tuple, polygon_overlaps(edges, res=5).collect()))
    assert got == want


def test_overlaps_shuffle_regime(spark, no_auto_broadcast, shuffle_regime):
    """The country-scale regime (edge set past the broadcast gate): both
    cases above return the same rows through the aggregated shuffle path,
    with no broadcast join in its plan."""
    cases = [(_known_geometries(spark), _KNOWN), _fixture_edges(spark)]
    with shuffle_regime():
        for edges, want in cases:
            df = polygon_overlaps(edges, res=5)
            assert "BroadcastHashJoin" not in (
                df._jdf.queryExecution().executedPlan().toString()
            )
            assert sorted(map(tuple, df.collect())) == want
