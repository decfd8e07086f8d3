"""Host-graph PageRank: independent Python recurrence, DuckDB oracle
parity, partitioning-independence of the integer arithmetic, and the
iteration-plan invariants."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import adaptive
from countrymaam_spark.operators import linkgraph as LG
from countrymaam_spark.sources import pages as pg


def _py_pagerank(edges, iters=5, damp=85, scale=LG.SCALE):
    """Independent dict-based twin of the integer recurrence."""
    nodes = {n for e in edges for n in e}
    odeg = {}
    for s, _ in edges:
        odeg[s] = odeg.get(s, 0) + 1
    base = (100 - damp) * scale // 100
    r = {n: scale for n in nodes}
    for _ in range(iters):
        nxt = {n: base for n in nodes}
        for s, d in edges:
            nxt[d] += (r[s] * damp) // (100 * odeg[s])
        r = nxt
    return {(n, v) for n, v in r.items()}


EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"), ("e", "c"), ("f", "c"),  # c is the hub
    ("g", "a"),  # g is dangling-in only; h below dangles out
    ("c", "h"),
]


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


def test_pagerank_matches_python(spark, edges_df):
    got = {tuple(r) for r in LG.pagerank(edges_df, iters=5).collect()}
    assert got == _py_pagerank(EDGES, iters=5)


def test_pagerank_hub_ranks_highest(spark, edges_df):
    ranks = dict(LG.pagerank(edges_df, iters=5).collect())
    assert max(ranks, key=ranks.get) == "c"
    # teleport floor: every node holds at least the base mass
    assert min(ranks.values()) >= (100 - LG.DAMP_PCT) * LG.SCALE // 100


def test_pagerank_partitioning_independent(spark, edges_df):
    """Integer arithmetic makes the result exact under ANY partitioning."""
    base = {tuple(r) for r in LG.pagerank(edges_df, iters=4).collect()}
    shuffled = {
        tuple(r)
        for r in LG.pagerank(edges_df.repartition(7, "dst"), iters=4).collect()
    }
    assert base == shuffled


def test_pagerank_matches_oracle_on_fixture_graph(spark):
    p = os.path.join(pg.ensure_fixtures("sf0.001"), "pages.parquet")
    edges = LG.host_edges(spark.read.parquet(p), fanout=3)
    got = sorted(tuple(r) for r in LG.pagerank(edges, iters=5).collect())
    want = sorted(
        duckdb.sql(LG.pagerank_sql(LG.host_edges_sql(f"'{p}'", 3), iters=5)).fetchall()
    )
    assert got == want and len(got) > 0


def test_pagerank_plan_invariants(spark, edges_df):
    plan = (
        LG.pagerank(edges_df, iters=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_host_edges_no_self_loops_and_deterministic(spark):
    p = os.path.join(pg.ensure_fixtures("sf0.001"), "pages.parquet")
    pages = spark.read.parquet(p)
    e1 = sorted(tuple(r) for r in LG.host_edges(pages, fanout=2).collect())
    e2 = sorted(tuple(r) for r in LG.host_edges(pages.repartition(5), fanout=2).collect())
    assert e1 == e2
    assert all(s != d for s, d in e1)


def test_pagerank_driver_gate_equals_distributed(spark, edges_df, monkeypatch):
    """The small-graph driver path (r6) must be bit-identical to the
    distributed loop (an edge limit of 0 forces it) — same BIGINT
    recurrence."""
    fast = {tuple(r) for r in LG.pagerank(edges_df, iters=5).collect()}
    monkeypatch.setattr(adaptive, "DRIVER_GRAPH_EDGE_LIMIT", 0)
    dist = {tuple(r) for r in LG.pagerank(edges_df, iters=5).collect()}
    assert fast == dist and len(fast) > 0
