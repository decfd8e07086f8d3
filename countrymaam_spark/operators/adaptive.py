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
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# query-side structs above this estimate skip the broadcast (driver-
# serialized, single-threaded) and take the shuffle equi-join instead
BROADCAST_STRUCT_LIMIT = 1_000_000


def gate_broadcast(
    df: DataFrame, est_rows: int, limit: int | None = None
) -> DataFrame:
    """Broadcast ``df`` while ``est_rows`` provably fits under ``limit``
    (default BROADCAST_STRUCT_LIMIT); otherwise return it un-hinted so the
    planner picks a distributed shuffle equi-join. ``limit`` is exposed so
    callers can thread a per-call override (tests pin the regime switch by
    forcing it to 0)."""
    if limit is None:
        limit = BROADCAST_STRUCT_LIMIT
    return F.broadcast(df) if est_rows <= limit else df
