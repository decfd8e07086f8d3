"""Estimate-gated broadcast: ONE shared scale guard for every serving path
that joins a query-derived table against a big corpus-side table.

Broadcasting is a driver-serialized, single-threaded path — the right plan
while the query side is small (thousands of structs), and exactly the wrong
plan at production query volume (millions of queries per batch: the driver
serializes and ships the full struct table to every executor, the failure
mode the reference never hits because its serving loop is single-process,
/root/reference/cmd/countrymaam/main.go:228-311). Every serving path that
ships a query-derived table takes this one gate: the driver-planned geo
paths (cell_knn's probe table, knn_tree's route table) and the ANN paths
(graph walk, RP-LSH, IVF f32/u8).

The estimate is computed from counts the caller already has — the
driver-planned paths pass the exact size of the table they built (probe
rows, (query, parent) route entries) — or one tiny count job on the QUERY
table, never a job over the corpus. Estimates should be upper bounds:
overestimating only forfeits a viable broadcast (the shuffle equi-join
fallback is always correct; at cluster scale the corpus side is bucketed on
the join key, so only the small side moves), while underestimating
re-creates the oversized broadcast the gate exists to prevent.

Each regime switch has ONE threshold, a module constant read when the
operator is called; no operator takes a per-call override. Tests reach the
other regime by monkeypatching the constant (tests/conftest.py
``shuffle_regime``). ``DRIVER_GRAPH_EDGE_LIMIT`` is the same pattern
applied to graph size: the iterative graph operators (``dedup.
dup_components``, ``linkgraph.pagerank``) solve a graph of at most that
many edges in one bounded driver collect instead of a distributed loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# query-side structs above this estimate skip the broadcast (driver-
# serialized, single-threaded) and take the shuffle equi-join instead
BROADCAST_STRUCT_LIMIT = 1_000_000

# graphs with at most this many edges are solved on the driver in one
# bounded collect; larger ones take the distributed iterative loop
DRIVER_GRAPH_EDGE_LIMIT = 500_000


def gate_broadcast(df: DataFrame, est_rows: int) -> DataFrame:
    """Broadcast ``df`` while ``est_rows`` fits under BROADCAST_STRUCT_LIMIT
    (read at call time); otherwise return it un-hinted so the planner picks
    a distributed shuffle equi-join."""
    return F.broadcast(df) if est_rows <= BROADCAST_STRUCT_LIMIT else df
