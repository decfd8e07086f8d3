"""Link-graph analytics over web hosts: fixed-iteration PageRank as a
DataFrame-iterative operator, in EXACT integer arithmetic.

The web-graph sibling of the repo's iterative operators (NN-Descent's
converge-loop in ``operators/graph.py``, min-label propagation in
``operators/dedup.py``): rank flows along host->host edges for a fixed
number of damped iterations — the crawl-prioritization signal a curation
pipeline feeds back into its frontier (which hosts to recrawl first).

Shape at scale (10^9 hosts, 10^10 edges):

- The edge table is joined src-keyed and aggregated dst-keyed once per
  iteration — two hash exchanges per round, both on graph keys, O(|E|)
  rows each; nothing ever funnels through a single task and no round
  materializes more than |V| + |E| rows.  The out-degree column is
  denormalized onto the edge table ONCE before the loop, so the per-round
  join is a single equi-join against the (node, rank) table.
- Rank vectors are hash-partitioned on the node key by the producing
  aggregation, and the next round's join is on the same key — Spark
  reuses the partitioning (ENSURE_REQUIREMENTS) instead of re-shuffling.
- Fixed ``iters`` (not convergence-polled): the classic batch formulation;
  each round's plan is a pure DataFrame expression, and lineage stays a
  short chain (for 100+ rounds, localCheckpoint per ~10 rounds caps plan
  growth — same policy as dup_components' propagation loop).

Determinism (oracle bit-parity): the damped recurrence runs entirely in
BIGINT micro-units —

    r_0(v)     = SCALE
    r_{i+1}(v) = (100 - D) * SCALE / 100
               + SUM over in-edges (u, v) of  (r_i(u) * D) div (100 * outdeg(u))

with D an integer damping percentage (85 = the canonical 0.85).  Integer
div is exact and the sum is order-independent, so any partitioning, any
reduce order, and the DuckDB oracle all produce bit-identical ranks.
Dangling nodes (no out-edges) keep receiving the teleport base but leak
their mass — the standard simplified batch PageRank; a mass-conserving
variant redistributes the dangling sum per round (one extra tiny agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.operators import adaptive

SCALE = 1_000_000
DAMP_PCT = 85


def _nodes(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damp_pct: int = DAMP_PCT,
    scale: int = SCALE,
    checkpoint_every: int = 10,
) -> DataFrame:
    """Fixed-iteration integer PageRank: -> (node, rank_micro).

    ``edges``: (src string, dst string), duplicates allowed (parallel
    edges add rank proportionally), self-loops allowed.

    Graphs of at most ``adaptive.DRIVER_GRAPH_EDGE_LIMIT`` edges (read at
    call time; the ``dup_components`` small-graph gate) are solved
    driver-side in one bounded collect: a sub-10^6-row edge list costs
    2 x ``iters`` exchange-stage latencies in the distributed loop while
    the exact integer recurrence is microseconds in plain Python —
    bit-identical by construction (both sides are the same BIGINT
    floor-div/sum recurrence). Larger graphs take the distributed loop
    (the 10^10-edge shape).
    """
    base = (100 - damp_pct) * scale // 100
    limit = adaptive.DRIVER_GRAPH_EDGE_LIMIT
    # bounded probe: limit+1 rows decides the regime without a count job
    # over an unbounded table; oversized graphs discard the probe and take
    # the distributed loop
    head = edges.select("src", "dst").limit(limit + 1).collect()
    if len(head) <= limit:
        from collections import Counter, defaultdict

        odeg_d: Counter = Counter(r["src"] for r in head)
        nodes_d = sorted(
            {r["src"] for r in head} | {r["dst"] for r in head}
        )
        r_d = {n: scale for n in nodes_d}
        for _ in range(iters):
            contrib: defaultdict = defaultdict(int)
            for row in head:
                s = row["src"]
                contrib[row["dst"]] += (r_d[s] * damp_pct) // (
                    100 * odeg_d[s]
                )
            r_d = {n: base + contrib[n] for n in nodes_d}
        spark = edges.sparkSession
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField("node", edges.schema["src"].dataType),
                StructField("rank_micro", LongType()),
            ]
        )
        return spark.createDataFrame(
            [(n, r_d[n]) for n in nodes_d], schema
        )
    # nodes and the degree-annotated edges are re-joined EVERY round: pin
    # them once.  localCheckpoint, not .cache() — checkpoint blocks are
    # GC-released, cached plans leak executor storage from a lazily-
    # returned plan (same policy as graph.py's loop tables).
    nodes = _nodes(edges).localCheckpoint(eager=False)
    odeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("odeg"))
    # denormalize out-degree onto the edges once; every round reuses it
    e = edges.join(odeg, "src").localCheckpoint(eager=False)

    r = nodes.select("node", F.lit(scale).cast("long").alias("r"))
    for i in range(iters):
        contrib = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr(f"(r * {damp_pct}) div (100 * odeg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        r = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(base).cast("long") + F.coalesce(F.col("s"), F.lit(0))).alias("r"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            r = r.localCheckpoint(eager=False)
    return r.select("node", F.col("r").cast("long").alias("rank_micro"))


def pagerank_sql(
    edges_rel: str,
    iters: int = 5,
    damp_pct: int = DAMP_PCT,
    scale: int = SCALE,
) -> str:
    """DuckDB oracle: the identical integer recurrence, unrolled as a CTE
    chain (fixed iterations make it plain SQL)."""
    base = (100 - damp_pct) * scale // 100
    ctes = [
        f"e AS (SELECT src, dst FROM {edges_rel})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "odeg AS (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
                SELECT n.node,
                       CAST({base} + COALESCE(c.s, 0) AS BIGINT) AS r
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node,
                           CAST(SUM((r.r * {damp_pct}) // (100 * o.odeg)) AS BIGINT) AS s
                    FROM e
                    JOIN r{i - 1} r ON e.src = r.node
                    JOIN odeg o ON e.src = o.src
                    GROUP BY e.dst
                ) c ON n.node = c.node
            )"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, r AS rank_micro FROM r{iters}"
    )


def host_edges(pages: DataFrame, fanout: int = 3, n_hosts: int = 997) -> DataFrame:
    """Deterministic synthetic host->host link graph over the pages
    fixture: host H links to the ``fanout`` hosts picked by the portable
    md5 hash of (H, k) — the fixture carries no real hrefs (its html is a
    text wrapper), so the GRAPH is synthesized but the derivation is
    engine-portable and the PageRank operator above is generic.
    Self-loops dropped.  -> (src, dst), distinct.
    """
    from countrymaam_spark.functions import text as T

    host = F.regexp_extract(F.col("url"), r"^https?://([^/]+)", 1)
    hosts = pages.select(host.alias("src")).distinct()
    ks = F.explode(F.array(*[F.lit(k) for k in range(fanout)])).alias("k")
    e = hosts.select("src", ks).select(
        "src",
        F.format_string(
            "site%04d.example",
            (
                T.tok_hash(
                    F.concat(F.col("src"), F.lit("#"), F.col("k").cast("string"))
                )
                % n_hosts
            ),
        ).alias("dst"),
    )
    return e.filter(F.col("src") != F.col("dst")).distinct()


def host_edges_sql(pages_rel: str, fanout: int = 3, n_hosts: int = 997) -> str:
    from countrymaam_spark.functions import text as T

    ks = ", ".join(f"({k})" for k in range(fanout))
    th = T.tok_hash_sql("(h.src || '#' || CAST(t.k AS VARCHAR))")
    return f"""(
        SELECT DISTINCT h.src,
               printf('site%04d.example', CAST({th} % {n_hosts} AS INTEGER)) AS dst
        FROM (SELECT DISTINCT regexp_extract(url, '^https?://([^/]+)', 1) AS src
              FROM {pages_rel}) h
        CROSS JOIN (VALUES {ks}) t(k)
        WHERE h.src <> printf('site%04d.example', CAST({th} % {n_hosts} AS INTEGER))
    ) AS he"""
