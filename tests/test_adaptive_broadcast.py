"""The shared estimate-gated broadcast (operators/adaptive.py): every ANN
serving path must produce IDENTICAL results in both join regimes, and the
shuffle regime must actually engage when the estimate exceeds the limit —
round-3 verdict #1 (graph walk, RP-LSH, IVF f32/u8 broadcast their query
side unconditionally); knn_tree's route table takes the same gate."""

import os
from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import adaptive, ann, index_build
from countrymaam_spark.operators import graph as G
from countrymaam_spark.operators.adaptive import gate_broadcast
from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.sources import pages as pg

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@contextmanager
def no_auto_broadcast(spark):
    """Disable stats-based auto-broadcast so the plan string reflects ONLY
    the explicit gate decision."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


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


def _key(rows):
    return sorted((r["query_id"], r["rk"], r["vec_id"]) for r in rows)


def _assert_regimes(spark, make_df):
    """make_df(broadcast_limit) -> DataFrame. Asserts: (a) default regime
    broadcasts (plan has a BroadcastHashJoin), (b) limit=0 regime has NO
    broadcast join anywhere, (c) both regimes return identical rows."""
    with no_auto_broadcast(spark):
        bcast = make_df(None)
        shuf = make_df(0)
        assert "BroadcastHashJoin" in _plan(bcast)
        assert "BroadcastHashJoin" not in _plan(shuf)
        assert _key(bcast.collect()) == _key(shuf.collect())


def test_rp_lsh_gate(spark, corpus, queries):
    _assert_regimes(
        spark,
        lambda lim: ann.rp_lsh_knn(
            corpus, queries, k=5, n_tables=4, bits=4, broadcast_limit=lim
        ),
    )


def test_ivf_gate(spark, corpus, queries):
    _assert_regimes(
        spark,
        lambda lim: ann.ivf_knn(
            corpus, queries, k=5, n_lists=8, n_probe=8, broadcast_limit=lim
        ),
    )


def test_ivf_u8_gate(spark, corpus, queries):
    _assert_regimes(
        spark,
        lambda lim: ann.ivf_knn_u8(
            corpus, queries, k=5, n_lists=8, n_probe=8, broadcast_limit=lim
        ),
    )


def test_graph_knn_gate(spark, corpus, queries):
    """graph_knn materializes every hop eagerly (localCheckpoint), so the
    final plan cannot carry the per-hop join nodes — the regime switch
    itself is plan-asserted on the lazy paths above (same shared gate); here
    the walk must return IDENTICAL rows with the per-hop query broadcast
    forced off."""
    small = corpus.filter(F.col("vec_id") < 120).cache()
    edges = G.nn_descent(small, k=8, max_iter=2, seed=7).localCheckpoint(eager=True)
    with no_auto_broadcast(spark):
        a = G.graph_knn(
            small, edges, queries, k=5, entries_num=4, beam=16, max_hops=3
        )
        b = G.graph_knn(
            small, edges, queries, k=5, entries_num=4, beam=16, max_hops=3,
            broadcast_limit=0,
        )
        assert _key(a.collect()) == _key(b.collect())


def test_knn_tree_regimes_identical(spark, monkeypatch):
    """knn_tree over hot parents salted more than 4 ways: the route table
    is broadcast by default, and with the gate's limit forced to 0 the
    shuffle join serves the same rows with no broadcast in the plan."""
    out = pg.ensure_fixtures("sf0.001")
    geo = extract_geo(spark.read.parquet(os.path.join(out, "pages.parquet"))).cache()
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
    queries = spark.read.parquet(os.path.join(out, "knn_queries.parquet")).filter(
        F.col("query_id") < 8
    )
    with no_auto_broadcast(spark):
        a = index_build.knn_tree(trees, queries, k=5, search_k=4096, ring=1)
        assert "BroadcastHashJoin" in _plan(a)
        monkeypatch.setattr(adaptive, "BROADCAST_STRUCT_LIMIT", 0)
        b = index_build.knn_tree(trees, queries, k=5, search_k=4096, ring=1)
        assert "BroadcastHashJoin" not in _plan(b)
        ka = sorted((r["query_id"], r["rk"], r["url"]) for r in a.collect())
        kb = sorted((r["query_id"], r["rk"], r["url"]) for r in b.collect())
        assert ka == kb


def test_gate_broadcast_threshold():
    df = object()  # gate only inspects the numbers when over the limit
    assert gate_broadcast(df, 10_000_001, 10_000_000) is df
