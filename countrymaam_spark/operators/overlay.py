"""Polygon-polygon overlap join (vector overlay): which polygon pairs
intersect, and how (boundaries cross / one contains the other).

Candidates-then-verify again (the reference's coarse-bound + exact-kernel
pattern, /root/reference/index/bsp_tree_index.go:35-92):

1. **Candidates.** Both polygons' bbox cover cells at ``res`` equi-join on
   cell: two overlapping bboxes always share a cover cell (any cell meeting
   the overlap rectangle lies in both covers), so the shared-cell pair set
   is a superset of every truly overlapping pair. The join is a hash
   equi-join of two cover tables (each O(|polys| x cells/poly)), never an
   all-pairs product — the shape that survives a country-scale polygon set.
2. **Boundary crossing.** Candidate pairs join both edge sets; a pair
   crosses if any edge pair properly intersects (orientation sign tests:
   d1*d2 < 0 and d3*d4 < 0). Generic position is assumed (fixture
   guarantee): collinear touching edges are not counted — documented.
3. **Containment.** A pair can overlap with zero boundary crossings (one
   ring strictly inside the other): the seq-0 vertex of each polygon is
   ray-cast against the other's edges (the pip parity formula).

Output: (poly_a, poly_b, relation) with poly_a < poly_b and relation in
{'crosses', 'within' (a inside b), 'contains' (b inside a)} — crossing
takes precedence. All column math; the DuckDB oracle runs the identical
formulas brute force over every pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.operators import adaptive
from countrymaam_spark.operators.adaptive import gate_broadcast
from countrymaam_spark.operators.pip import _cover_cells


def _first_vertices(edges: DataFrame) -> DataFrame:
    return edges.filter(F.col("seq") == 0).select(
        "poly_id", F.col("lat1").alias("vlat"), F.col("lon1").alias("vlon")
    )


def _parity_inside(
    vertices: DataFrame, edges: DataFrame, n_edges: int,
) -> DataFrame:
    """(poly_v, poly_e) -> inside flag: is poly_v's test vertex inside
    poly_e's ring? ``vertices`` must carry (poly_v, poly_e, vlat, vlon)."""
    pairs = vertices.join(
        gate_broadcast(
            edges.select(
                F.col("poly_id").alias("poly_e"),
                "lat1", "lon1", "lat2", "lon2",
            ),
            n_edges,
        ),
        "poly_e",
    )
    crosses = (
        (F.col("lat1") > F.col("vlat")) != (F.col("lat2") > F.col("vlat"))
    ) & (
        F.col("vlon")
        < (F.col("lon2") - F.col("lon1"))
        * (F.col("vlat") - F.col("lat1"))
        / (F.col("lat2") - F.col("lat1"))
        + F.col("lon1")
    )
    return (
        pairs.groupBy("poly_v", "poly_e")
        .agg((F.sum(F.when(crosses, 1).otherwise(0)) % 2 == 1).alias("inside"))
    )


def polygon_overlaps(edges: DataFrame, res: int = 5) -> DataFrame:
    """-> (poly_a, poly_b, relation) for every intersecting polygon pair."""
    # one count plans the edge-join strategy: estimate-gated broadcast,
    # shuffled hash join past the struct limit (repo-wide gate discipline)
    n_edges = edges.count()
    cover = _cover_cells(edges, res)
    cand = (
        cover.alias("ca")
        .join(cover.alias("cb"), "cell")
        .filter(F.col("ca.poly_id") < F.col("cb.poly_id"))
        .select(
            F.col("ca.poly_id").alias("poly_a"),
            F.col("cb.poly_id").alias("poly_b"),
        )
        .distinct()
    )
    if n_edges <= adaptive.BROADCAST_STRUCT_LIMIT:
        # dim-sized edge set: all three verify stages (edge-pair crossing,
        # a-in-b, b-in-a) become PROJECTIONS over broadcast per-polygon edge
        # arrays — the former shape reduced each through its own
        # aggregation exchange (r6; the nearest_polygon/pip treatment,
        # identical predicates so identical rows). The aggregated path
        # below remains the country-scale regime.
        polys = edges.groupBy("poly_id").agg(
            F.collect_list(
                F.struct("lat1", "lon1", "lat2", "lon2")
            ).alias("segs"),
            F.min_by(
                F.struct(
                    F.col("lat1").alias("vlat"), F.col("lon1").alias("vlon")
                ),
                F.col("seq"),
            ).alias("v0"),
        )
        pa = F.broadcast(
            polys.select(
                F.col("poly_id").alias("poly_a"),
                F.col("segs").alias("segs_a"), F.col("v0").alias("v0_a"),
            )
        )
        pb = F.broadcast(
            polys.select(
                F.col("poly_id").alias("poly_b"),
                F.col("segs").alias("segs_b"), F.col("v0").alias("v0_b"),
            )
        )

        def _proper(a, b):
            d1 = (b["lon2"] - b["lon1"]) * (a["lat1"] - b["lat1"]) - (
                b["lat2"] - b["lat1"]
            ) * (a["lon1"] - b["lon1"])
            d2 = (b["lon2"] - b["lon1"]) * (a["lat2"] - b["lat1"]) - (
                b["lat2"] - b["lat1"]
            ) * (a["lon2"] - b["lon1"])
            d3 = (a["lon2"] - a["lon1"]) * (b["lat1"] - a["lat1"]) - (
                a["lat2"] - a["lat1"]
            ) * (b["lon1"] - a["lon1"])
            d4 = (a["lon2"] - a["lon1"]) * (b["lat2"] - a["lat1"]) - (
                a["lat2"] - a["lat1"]
            ) * (b["lon2"] - a["lon1"])
            return (d1 * d2 < 0) & (d3 * d4 < 0)

        def _inside(v, segs):
            return (
                F.size(
                    F.filter(
                        segs,
                        lambda e: (
                            (e["lat1"] > v["vlat"]) != (e["lat2"] > v["vlat"])
                        )
                        & (
                            v["vlon"]
                            < (e["lon2"] - e["lon1"])
                            * (v["vlat"] - e["lat1"])
                            / (e["lat2"] - e["lat1"])
                            + e["lon1"]
                        ),
                    )
                )
                % 2
                == 1
            )

        crosses_x = F.exists(
            F.col("segs_a"),
            lambda a: F.exists(F.col("segs_b"), lambda b: _proper(a, b)),
        )
        withp = cand.join(pa, "poly_a").join(pb, "poly_b").select(
            "poly_a", "poly_b",
            crosses_x.alias("crosses"),
            _inside(F.col("v0_a"), F.col("segs_b")).alias("a_in_b"),
            _inside(F.col("v0_b"), F.col("segs_a")).alias("b_in_a"),
        )
        return (
            withp.filter(
                F.col("crosses") | F.col("a_in_b") | F.col("b_in_a")
            )
            .select(
                "poly_a",
                "poly_b",
                F.when(F.col("crosses"), F.lit("crosses"))
                .when(F.col("a_in_b"), F.lit("within"))
                .otherwise(F.lit("contains"))
                .alias("relation"),
            )
        )
    ea = edges.select(
        F.col("poly_id").alias("poly_a"),
        F.col("lat1").alias("a1y"), F.col("lon1").alias("a1x"),
        F.col("lat2").alias("a2y"), F.col("lon2").alias("a2x"),
    )
    eb = edges.select(
        F.col("poly_id").alias("poly_b"),
        F.col("lat1").alias("b1y"), F.col("lon1").alias("b1x"),
        F.col("lat2").alias("b2y"), F.col("lon2").alias("b2x"),
    )
    d1 = (F.col("b2x") - F.col("b1x")) * (F.col("a1y") - F.col("b1y")) - (
        F.col("b2y") - F.col("b1y")
    ) * (F.col("a1x") - F.col("b1x"))
    d2 = (F.col("b2x") - F.col("b1x")) * (F.col("a2y") - F.col("b1y")) - (
        F.col("b2y") - F.col("b1y")
    ) * (F.col("a2x") - F.col("b1x"))
    d3 = (F.col("a2x") - F.col("a1x")) * (F.col("b1y") - F.col("a1y")) - (
        F.col("a2y") - F.col("a1y")
    ) * (F.col("b1x") - F.col("a1x"))
    d4 = (F.col("a2x") - F.col("a1x")) * (F.col("b2y") - F.col("a1y")) - (
        F.col("a2y") - F.col("a1y")
    ) * (F.col("b2x") - F.col("a1x"))
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)
    crossed = (
        cand.join(gate_broadcast(ea, n_edges), "poly_a")
        .join(gate_broadcast(eb, n_edges), "poly_b")
        .groupBy("poly_a", "poly_b")
        .agg(F.max(proper.cast("int")).alias("crosses"))
    )
    va = _first_vertices(edges)
    a_in_b = _parity_inside(
        cand.join(
            va.select(F.col("poly_id").alias("poly_a"), "vlat", "vlon"), "poly_a"
        ).select(
            F.col("poly_a").alias("poly_v"),
            F.col("poly_b").alias("poly_e"),
            "vlat", "vlon",
        ),
        edges,
        n_edges,
    ).select(
        F.col("poly_v").alias("poly_a"),
        F.col("poly_e").alias("poly_b"),
        F.col("inside").alias("a_in_b"),
    )
    b_in_a = _parity_inside(
        cand.join(
            va.select(F.col("poly_id").alias("poly_b"), "vlat", "vlon"), "poly_b"
        ).select(
            F.col("poly_b").alias("poly_v"),
            F.col("poly_a").alias("poly_e"),
            "vlat", "vlon",
        ),
        edges,
        n_edges,
    ).select(
        F.col("poly_v").alias("poly_b"),
        F.col("poly_e").alias("poly_a"),
        F.col("inside").alias("b_in_a"),
    )
    return (
        crossed.join(a_in_b, ["poly_a", "poly_b"])
        .join(b_in_a, ["poly_a", "poly_b"])
        .filter((F.col("crosses") == 1) | F.col("a_in_b") | F.col("b_in_a"))
        .select(
            "poly_a",
            "poly_b",
            F.when(F.col("crosses") == 1, F.lit("crosses"))
            .when(F.col("a_in_b"), F.lit("within"))
            .otherwise(F.lit("contains"))
            .alias("relation"),
        )
    )


def polygon_overlaps_sql(edges_rel: str) -> str:
    """DuckDB oracle: the identical predicates over every polygon pair
    (no coarse candidate stage)."""
    return f"""
        WITH cand AS (
            SELECT DISTINCT a.poly_id AS poly_a, b.poly_id AS poly_b
            FROM {edges_rel} a, {edges_rel} b
            WHERE a.poly_id < b.poly_id
        ),
        crossed AS (
            SELECT c.poly_a, c.poly_b,
                   MAX(CASE WHEN
                        ((eb.lon2-eb.lon1)*(ea.lat1-eb.lat1)
                         -(eb.lat2-eb.lat1)*(ea.lon1-eb.lon1))
                      * ((eb.lon2-eb.lon1)*(ea.lat2-eb.lat1)
                         -(eb.lat2-eb.lat1)*(ea.lon2-eb.lon1)) < 0
                      AND
                        ((ea.lon2-ea.lon1)*(eb.lat1-ea.lat1)
                         -(ea.lat2-ea.lat1)*(eb.lon1-ea.lon1))
                      * ((ea.lon2-ea.lon1)*(eb.lat2-ea.lat1)
                         -(ea.lat2-ea.lat1)*(eb.lon2-ea.lon1)) < 0
                   THEN 1 ELSE 0 END) AS crosses
            FROM cand c
            JOIN {edges_rel} ea ON ea.poly_id = c.poly_a
            JOIN {edges_rel} eb ON eb.poly_id = c.poly_b
            GROUP BY c.poly_a, c.poly_b
        ),
        v AS (
            SELECT poly_id, lat1 AS vlat, lon1 AS vlon FROM {edges_rel}
            WHERE seq = 0
        ),
        inside AS (
            SELECT v.poly_id AS poly_v, e.poly_id AS poly_e,
                   (SUM(CASE WHEN ((e.lat1 > v.vlat) <> (e.lat2 > v.vlat))
                              AND (v.vlon < (e.lon2 - e.lon1)
                                   * (v.vlat - e.lat1)
                                   / (e.lat2 - e.lat1) + e.lon1)
                        THEN 1 ELSE 0 END) % 2 = 1) AS inside
            FROM v, {edges_rel} e
            WHERE v.poly_id <> e.poly_id
            GROUP BY v.poly_id, e.poly_id
        )
        SELECT c.poly_a, c.poly_b,
               CASE WHEN c.crosses = 1 THEN 'crosses'
                    WHEN ab.inside THEN 'within'
                    ELSE 'contains' END AS relation
        FROM crossed c
        JOIN inside ab ON ab.poly_v = c.poly_a AND ab.poly_e = c.poly_b
        JOIN inside ba ON ba.poly_v = c.poly_b AND ba.poly_e = c.poly_a
        WHERE c.crosses = 1 OR ab.inside OR ba.inside
    """
