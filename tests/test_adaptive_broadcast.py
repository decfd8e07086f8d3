"""The shared estimate-gated broadcast (operators/adaptive.py): every serving
path must produce IDENTICAL results in both join regimes, and the shuffle
regime must actually engage when the estimate exceeds the limit —
round-3 verdict #1 (graph walk, RP-LSH, IVF f32/u8 broadcast their query
side unconditionally); knn_tree's route table and the geo range, corridor,
nearest-polygon and hotspot joins take the same gate. The shuffle regime is
forced by the ``shuffle_regime`` fixture (tests/conftest.py)."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import adaptive, ann, index_build
from countrymaam_spark.operators import cluster as CL
from countrymaam_spark.operators import graph as G
from countrymaam_spark.operators import knn as KNN
from countrymaam_spark.operators import nearest as NP
from countrymaam_spark.operators.adaptive import gate_broadcast
from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.sources import pages as pg

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(EMB).cache()


@pytest.fixture(scope="module")
def queries(spark, corpus):
    return (
        corpus.filter(F.col("vec_id") < 6)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .cache()
    )


@pytest.fixture(scope="module")
def geo(spark):
    out = pg.ensure_fixtures("sf0.001")
    return extract_geo(spark.read.parquet(os.path.join(out, "pages.parquet"))).cache()


@pytest.fixture(scope="module")
def geo_queries(spark):
    out = pg.ensure_fixtures("sf0.001")
    return spark.read.parquet(os.path.join(out, "knn_queries.parquet")).filter(
        F.col("query_id") < 32
    )


@pytest.fixture(scope="module")
def polygon_edges(spark):
    out = pg.ensure_fixtures("sf0.001")
    return spark.read.parquet(os.path.join(out, "polygon_edges.parquet"))


def _assert_regimes(shuffle_regime, make_df, lazy=True):
    """make_df() -> DataFrame, built and collected once per regime.
    Asserts that both regimes return identical (non-empty) rows and, where
    the plan is lazy, that the default plan broadcasts while the forced
    plan has no BroadcastHashJoin anywhere. Callers disable auto-broadcast
    (``no_auto_broadcast``) so the plan reflects only the gate."""
    a = make_df()
    rows_a = Counter(map(tuple, a.collect()))
    with shuffle_regime():
        b = make_df()
        rows_b = Counter(map(tuple, b.collect()))
    if lazy:
        assert "BroadcastHashJoin" in _plan(a)
        assert "BroadcastHashJoin" not in _plan(b)
    assert rows_a == rows_b and len(rows_a) > 0


def test_rp_lsh_gate(spark, corpus, queries, no_auto_broadcast, shuffle_regime):
    _assert_regimes(
        shuffle_regime,
        lambda: ann.rp_lsh_knn(corpus, queries, k=5, n_tables=4, bits=4),
    )


def test_ivf_gate(spark, corpus, queries, no_auto_broadcast, shuffle_regime):
    _assert_regimes(
        shuffle_regime,
        lambda: ann.ivf_knn(corpus, queries, k=5, n_lists=8, n_probe=8),
    )


def test_ivf_u8_gate(spark, corpus, queries, no_auto_broadcast, shuffle_regime):
    _assert_regimes(
        shuffle_regime,
        lambda: ann.ivf_knn_u8(corpus, queries, k=5, n_lists=8, n_probe=8),
    )


def test_graph_knn_gate(spark, corpus, queries, no_auto_broadcast, shuffle_regime):
    """graph_knn materializes every hop eagerly (localCheckpoint), so the
    final plan cannot carry the per-hop join nodes — the regime switch
    itself is plan-asserted on the lazy paths above (same shared gate); here
    the walk must return IDENTICAL rows with the per-hop query broadcast
    forced off."""
    small = corpus.filter(F.col("vec_id") < 120).cache()
    edges = G.nn_descent(small, k=8, max_iter=2, seed=7).localCheckpoint(eager=True)
    _assert_regimes(
        shuffle_regime,
        lambda: G.graph_knn(
            small, edges, queries, k=5, entries_num=4, beam=16, max_hops=3
        ),
        lazy=False,
    )


def test_knn_tree_regimes_identical(
    spark, geo, geo_queries, no_auto_broadcast, shuffle_regime
):
    """knn_tree over hot parents salted more than 4 ways: the route table
    is broadcast by default, and in the forced shuffle regime the join
    serves the same rows with no broadcast in the plan."""
    cells = index_build.salt_hot_cells(
        index_build.encode_pages(geo, res=7, parent_res=4), target_group_rows=50
    )
    # the tiny target forces hot parents to salt factors well past 4
    max_salt = (
        cells.groupBy("parent").agg((F.max("salt") + 1).alias("f"))
        .agg(F.max("f")).collect()[0][0]
    )
    assert max_salt > 4
    # pin the build so the serving-plan assertion below sees ONLY knn_tree's
    # joins (salt_hot_cells legitimately broadcasts its tiny counts table)
    trees = index_build.build_tree_blobs(cells, seed=42).localCheckpoint(eager=True)
    tq = geo_queries.filter(F.col("query_id") < 8)
    _assert_regimes(
        shuffle_regime,
        lambda: index_build.knn_tree(trees, tq, k=5, search_k=4096, ring=1),
    )


_GEO_CASES = {
    "radius_join_var": lambda g, q, e: KNN.radius_join_var(
        g,
        q.select(
            F.col("query_id").alias("probe_id"), "lat", "lon",
            F.lit(200.0).alias("radius_km"),
        ),
        res=6,
    ),
    "geo_near_pairs": lambda g, q, e: KNN.geo_near_pairs(g, 10.0, res=12),
    "nearest_polygon_cells": lambda g, q, e: NP.nearest_polygon_cells(q, e, k=3),
    "corridor_join": lambda g, q, e: NP.corridor_join(g, e, 150.0, res=6),
    "hotspot_pages": lambda g, q, e: CL.hotspot_pages(g, 9, 5),
}


@pytest.mark.parametrize("op", sorted(_GEO_CASES))
def test_geo_gate(
    spark, geo, geo_queries, polygon_edges, op, no_auto_broadcast, shuffle_regime
):
    """Each geo operator with its own gate call serves identical rows in
    both regimes, with no broadcast join left in the forced plan."""
    make = _GEO_CASES[op]
    _assert_regimes(shuffle_regime, lambda: make(geo, geo_queries, polygon_edges))


def test_gate_broadcast_threshold(shuffle_regime):
    df = object()  # gate only inspects the numbers when over the limit
    assert gate_broadcast(df, adaptive.BROADCAST_STRUCT_LIMIT + 1) is df
    with shuffle_regime():
        assert gate_broadcast(df, 1) is df
