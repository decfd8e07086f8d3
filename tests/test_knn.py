"""kNN correctness: flat vs DuckDB oracle; cell-index kNN must equal flat
exactly (the count-bounded probe guarantee) — the reference's 'budget >=
corpus implies exact' invariant generalized (countrymaam_test.go:212)."""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import index_build
from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.operators.knn import cell_knn, flat_knn, flat_knn_sql
from countrymaam_spark.sources import pages as pg


@pytest.fixture(scope="module")
def geo_small(spark):
    out = pg.ensure_fixtures("sf0.001")
    pages = spark.read.parquet(os.path.join(out, "pages.parquet"))
    g = extract_geo(pages).select("url", "lat", "lon").cache()
    g.count()
    return g


@pytest.fixture(scope="module")
def queries_small(spark):
    out = pg.ensure_fixtures("sf0.001")
    # keep tests fast: 40 queries incl. the 8 edge cases at the tail
    q = spark.read.parquet(os.path.join(out, "knn_queries.parquet"))
    return q.filter((F.col("query_id") < 32) | (F.col("query_id") >= 192)).cache()


def _key(rows):
    return sorted((r["query_id"], r["rk"], r["url"]) for r in rows)


def test_flat_knn_matches_duckdb(spark, geo_small, queries_small):
    got = _key(flat_knn(geo_small, queries_small, k=10).collect())
    out = pg.fixture_dir("sf0.001")
    pages_p = os.path.join(out, "pages.parquet")
    q_ids = [r["query_id"] for r in queries_small.select("query_id").collect()]
    oracle_sql = flat_knn_sql(
        f"(SELECT url, CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 1), '') AS DOUBLE) lat, "
        f"CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 2), '') AS DOUBLE) lon FROM '{pages_p}')",
        f"(SELECT * FROM '{os.path.join(out, 'knn_queries.parquet')}' WHERE query_id IN ({','.join(map(str, q_ids))}))",
        k=10,
    )
    want = sorted((q, rk, u) for q, rk, u, _ in duckdb.sql(oracle_sql).fetchall())
    assert got == want


def test_cell_knn_equals_flat(spark, geo_small, queries_small):
    flat = _key(flat_knn(geo_small, queries_small, k=10).collect())
    cell = _key(cell_knn(geo_small, queries_small, k=10, res=6).collect())
    assert cell == flat


def test_cell_knn_other_res_and_k(spark, geo_small, queries_small):
    flat = _key(flat_knn(geo_small, queries_small, k=3).collect())
    cell = _key(cell_knn(geo_small, queries_small, k=3, res=8).collect())
    assert cell == flat


def test_knn_fewer_than_k_results_legal(spark, geo_small):
    """Reference invariant 4: fewer than k results when corpus < k."""
    tiny = geo_small.limit(4)
    q = geo_small.sparkSession.createDataFrame([(0, 10.0, 10.0)], "query_id long, lat double, lon double")
    got = flat_knn(tiny, q, k=10).collect()
    assert len(got) == 4


def test_cell_knn_zero_candidate_round_not_dropped(spark):
    """A query whose neighbourhood is empty for many rings (near the south
    pole, far from a clustered corpus) must still get its exact top-k, and
    so must the edge cases: queries at +-89.9 latitude and +-179.99
    longitude, a corpus with fewer than k points, a 1-query batch and an
    empty batch — at res 6 and 8, planned from the corpus and from the lut.
    cell_knn == flat_knn for every query_id."""
    from countrymaam_spark.operators.knn import build_cell_lut, build_cell_stats

    schema = "url string, lat double, lon double"
    pts = [(f"u{i}", 10.0 + i * 0.01, 10.0 + i * 0.01) for i in range(50)]
    pts += [
        ("pn", 89.95, 120.0), ("ps", -89.95, -60.0), ("pe", 1.0, 179.995), ("pw", -1.0, -179.995)
    ]
    corpora = {
        "clustered": spark.createDataFrame(pts, schema),
        "fewer than k": spark.createDataFrame(pts[-3:], schema),
    }
    q = spark.createDataFrame(
        [(0, 10.2, 10.2), (1, -85.0, -170.0), (2, 89.9, 0.0), (3, -89.9, 90.0),
         (4, 0.5, 179.99), (5, -0.5, -179.99)],
        "query_id long, lat double, lon double",
    )
    batches = {"edge": q, "one": q.filter("query_id = 4"), "empty": q.filter("query_id < 0")}
    for cname, corpus in corpora.items():
        want = {b: _key(flat_knn(corpus, qb, k=5).collect()) for b, qb in batches.items()}
        assert {r[0] for r in want["edge"]} == set(range(6))
        assert len(want["one"]) == min(5, corpus.count()) and want["empty"] == []
        for res in (6, 8):
            lut = build_cell_lut(build_cell_stats(corpus, res), res)
            for b, qb in batches.items():
                for stats in (None, lut):
                    got = _key(cell_knn(corpus, qb, k=5, res=res, stats=stats).collect())
                    assert got == want[b], (cname, res, b, stats is not None)


def test_knn_null_coordinate_queries_get_no_rows(spark, tmp_path):
    """A query with a NULL (or NaN) lat or lon has no distance to anything:
    flat_knn, cell_knn, knn_tree and the DuckDB oracle return no rows for
    it, and the valid queries of the same batch are unaffected."""
    import pandas as pd

    corpus = spark.createDataFrame(
        [(f"u{i}", -60.0 + i * 1.3, -170.0 + i * 3.1) for i in range(100)],
        "url string, lat double, lon double",
    )
    qrows = [(0, 10.0, 20.0), (1, None, 20.0), (2, 10.0, None), (3, None, None), (4, -45.0, 100.0)]
    q = spark.createDataFrame(qrows, "query_id long, lat double, lon double")
    want = _key(flat_knn(corpus, q.filter("query_id IN (0, 4)"), k=5).collect())
    assert {r[0] for r in want} == {0, 4}
    assert _key(flat_knn(corpus, q, k=5).collect()) == want
    assert _key(cell_knn(corpus, q, k=5, res=6).collect()) == want
    # NaN is not NULL in Spark; it must not reach the ring planner either
    q_nan = spark.createDataFrame(
        [(0, 10.0, 20.0), (6, float("nan"), 20.0), (7, 10.0, float("nan"))],
        "query_id long, lat double, lon double",
    )
    want0 = [r for r in want if r[0] == 0]
    assert _key(flat_knn(corpus, q_nan, k=5).collect()) == want0
    assert _key(cell_knn(corpus, q_nan, k=5, res=6).collect()) == want0

    # knn_tree: 90-degree parents and 2-point leaves, so the budgeted ring
    # reaches the edge parents a NULL or NaN coordinate would encode to
    trees = index_build.build_tree_blobs(
        index_build.salt_hot_cells(index_build.encode_pages(corpus, res=7, parent_res=1)),
        leaf_size=2,
    )

    def tree(qb):
        return _key(index_build.knn_tree(
            trees, qb, k=5, search_k=1, parent_res=1, ring=1
        ).collect())

    want_tree = tree(q.filter("query_id IN (0, 4)"))
    assert {r[0] for r in want_tree} == {0, 4}
    assert tree(q) == want_tree
    assert tree(q_nan) == [r for r in want_tree if r[0] == 0]

    pages_p = str(tmp_path / "pages.parquet")
    queries_p = str(tmp_path / "queries.parquet")
    corpus.toPandas().to_parquet(pages_p)
    pd.DataFrame(qrows, columns=["query_id", "lat", "lon"]).to_parquet(queries_p)
    oracle = duckdb.sql(
        flat_knn_sql(f"'{pages_p}'", f"'{queries_p}'", k=5)
    ).fetchall()
    assert sorted((qid, rk, u) for qid, rk, u, _ in oracle) == want


def test_knn_nan_coordinate_pages_are_not_neighbours(spark, tmp_path):
    """A page with a NaN lat or lon has no location: at k larger than the
    valid corpus, flat_knn, cell_knn, the full-coverage knn_tree and the
    DuckDB oracle return only the valid pages. Unfiltered, haversine's
    ``least(a, 1)`` would put a NaN page 20015.114442 km from every
    query and rank it as a neighbour."""
    import pandas as pd

    nan = float("nan")
    prows = [("a", 10.0, 20.0), ("b", -45.0, 100.0), ("nan_lat", nan, 20.0), ("nan_lon", 10.0, nan)]
    corpus = spark.createDataFrame(prows, "url string, lat double, lon double")
    qrows = [(0, 10.5, 20.5), (1, 50.0, -30.0)]
    q = spark.createDataFrame(qrows, "query_id long, lat double, lon double")
    want = _key(flat_knn(corpus.filter("url IN ('a', 'b')"), q, k=4).collect())
    assert {(qid, u) for qid, _, u in want} == {(i, u) for i in (0, 1) for u in ("a", "b")}

    assert _key(flat_knn(corpus, q, k=4).collect()) == want
    assert _key(cell_knn(corpus, q, k=4, res=6).collect()) == want
    trees = index_build.build_tree_blobs(
        index_build.salt_hot_cells(index_build.encode_pages(corpus, res=7, parent_res=4))
    )
    got_tree = index_build.knn_tree(trees, q, k=4, search_k=1 << 30, ring=None)
    assert _key(got_tree.collect()) == want

    pages_p = str(tmp_path / "pages.parquet")
    queries_p = str(tmp_path / "queries.parquet")
    pd.DataFrame(prows, columns=["url", "lat", "lon"]).to_parquet(pages_p)
    pd.DataFrame(qrows, columns=["query_id", "lat", "lon"]).to_parquet(queries_p)
    oracle = duckdb.sql(flat_knn_sql(f"'{pages_p}'", f"'{queries_p}'", k=4)).fetchall()
    assert sorted((qid, rk, u) for qid, rk, u, _ in oracle) == want


def test_flat_knn_plan_shape(spark, geo_small, queries_small):
    """Physical-plan regression: the corpus pass must be a broadcast of the
    QUERY side (never an exchange of the pages scan) and the top-k must use
    WindowGroupLimit (partial per-partition rank before any shuffle)."""
    plan = (
        flat_knn(geo_small.filter(F.col("lat").isNotNull()), queries_small, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "WindowGroupLimit" in plan


def test_cell_knn_plan_joins_probe_on_cell(spark, geo_small, queries_small):
    """cell_knn's executed plan is one hash join of the shipped (query,
    cell) probe to the corpus on cell equality, with no explode (Generate)
    on either side. ``timings`` reports the probe: its rows and
    the candidates per query, which the probe's cells hold (at least k
    each, here where the corpus holds more than k pages)."""
    t: dict = {}
    df = cell_knn(geo_small, queries_small, k=5, res=6, timings=t)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan and "BroadcastHashJoin [cell#" in plan
    n_q, n_pages = queries_small.count(), geo_small.filter(F.col("lat").isNotNull()).count()
    assert n_q <= t["probe_rows"] <= n_q * n_pages
    assert 5 <= t["cands_per_query_p50"] <= t["cands_per_query_max"] <= n_pages


def test_cell_knn_prebuilt_state_bit_equal(spark, geo_small, queries_small, tmp_path):
    """Index-state serving (pre-encoded corpus + persisted lut) must return
    bit-identical results to the stateless path, and the pipeline must skip
    both stages on resume (same params -> intact snapshots)."""
    from countrymaam_spark.operators.knn import build_cell_stats
    from countrymaam_spark.plans import pipeline as P

    stateless = _key(cell_knn(geo_small, queries_small, k=10, res=6).collect())

    out = str(tmp_path / "cellidx")
    rep = P.build_cell_pipeline(spark, geo_small, out, res=6)
    assert not rep["cell_corpus"]["skipped"] and not rep["cell_lut"]["skipped"]
    # the lut is the only planning state the pipeline persists
    assert sorted(d for d in os.listdir(out) if d.startswith("cell_")) == [
        "cell_corpus", "cell_lut"
    ]
    cells, state = P.load_cell_state(spark, out)
    assert "lv" in state.columns
    stateful = _key(
        cell_knn(cells, queries_small, k=10, res=6, cell_col="cell", stats=state).collect()
    )
    assert stateful == stateless
    # serving from the flat per-cell stats table must also be bit-identical
    flat_stats = build_cell_stats(cells, 6, cell_col="cell")
    assert _key(
        cell_knn(
            cells, queries_small, k=10, res=6, cell_col="cell", stats=flat_stats
        ).collect()
    ) == stateless

    # resume: intact snapshots + unchanged params -> both stages skip
    rep2 = P.build_cell_pipeline(spark, geo_small, out, res=6)
    assert rep2["cell_corpus"]["skipped"] and rep2["cell_lut"]["skipped"]
    # param change invalidates BOTH stages together (shared key)
    rep3 = P.build_cell_pipeline(spark, geo_small, out, res=7)
    assert not rep3["cell_corpus"]["skipped"] and not rep3["cell_lut"]["skipped"]


def test_cell_pipeline_partitioned_layout(spark, geo_small, queries_small, tmp_path):
    """The parent-partitioned corpus snapshot (Iceberg partition-spec analog)
    must (a) serve bit-identically to the unpartitioned layout, (b) prune
    directories at plan time for a parent filter (PartitionFilters in the
    scan), and (c) share the invalidation key with the lut so a layout
    change can never resume a mixed snapshot."""
    import os as _os

    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.plans import pipeline as P

    plain = str(tmp_path / "cell_plain")
    part = str(tmp_path / "cell_part")
    P.build_cell_pipeline(spark, geo_small, plain, res=6)
    rep = P.build_cell_pipeline(
        spark, geo_small, part, res=6, partition_parent_res=3
    )
    assert not rep["cell_corpus"]["skipped"]
    # directory layout: one dir per non-empty parent cell
    dirs = [
        d for d in _os.listdir(_os.path.join(part, "cell_corpus"))
        if d.startswith("parent=")
    ]
    assert 1 < len(dirs) <= 128  # res-3 grid is 16x8

    cells_plain, state_plain = P.load_cell_state(spark, plain)
    cells_part, state_part = P.load_cell_state(spark, part)
    want = _key(
        cell_knn(
            cells_plain, queries_small, k=5, res=6, cell_col="cell",
            stats=state_plain,
        ).collect()
    )
    got = _key(
        cell_knn(
            cells_part, queries_small, k=5, res=6, cell_col="cell",
            stats=state_part,
        ).collect()
    )
    assert got == want

    # plan-time directory pruning: a parent filter must reach the scan as a
    # PartitionFilter (directories outside the predicate are never listed)
    one_parent = cells_part.select("parent").first()["parent"]
    plan = (
        cells_part.filter(F.col("parent") == one_parent)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "parent" in plan.split("PartitionFilters")[1][:200]
    # the pruned read agrees with the logical filter on the plain layout
    n_pruned = cells_part.filter(F.col("parent") == one_parent).count()
    n_plain = cells_plain.filter(
        G.cell_parent(F.col("cell"), 3, 6) == one_parent
    ).count()
    assert n_pruned == n_plain > 0

    # layout is part of the shared params key: changing it rebuilds ALL
    # stages together (corpus and lut can never resume out of sync)
    rep2 = P.build_cell_pipeline(
        spark, geo_small, part, res=6, partition_parent_res=3
    )
    assert rep2["cell_corpus"]["skipped"] and rep2["cell_lut"]["skipped"]
    rep3 = P.build_cell_pipeline(
        spark, geo_small, part, res=6, partition_parent_res=4
    )
    assert not rep3["cell_corpus"]["skipped"]
    assert not rep3["cell_lut"]["skipped"]


def test_cell_knn_parent_prune_bit_equal(spark, geo_small, queries_small, tmp_path):
    """Serving with the parent-directory prune (partition_parent_res=) must
    be bit-identical to the stateless path — including sparse queries,
    whose cover can reach half the grid and bypass the prune — and must
    actually engage (the parent cover size is recorded)."""
    from countrymaam_spark.plans import pipeline as P

    want = _key(cell_knn(geo_small, queries_small, k=5, res=6).collect())

    out = str(tmp_path / "cellpart")
    P.build_cell_pipeline(spark, geo_small, out, res=6, partition_parent_res=3)
    cells, state = P.load_cell_state(spark, out)
    t: dict = {}
    got = _key(
        cell_knn(
            cells, queries_small, k=5, res=6, cell_col="cell", stats=state,
            partition_parent_res=3, timings=t,
        ).collect()
    )
    assert got == want
    prune_keys = [k_ for k_ in t if k_.startswith("prune_parents_round")]
    assert prune_keys, f"prune never planned: {sorted(t)}"

    # a metro-concentrated batch (the prune's target workload: the cover is
    # a batch-level union, so one sparse query inflates it to the grid and
    # the gate rightly skips) must ENGAGE: cover well under half the
    # 128-parent res-3 grid, results still bit-equal
    from countrymaam_spark.functions import geo as G

    pts = geo_small.filter(F.col("lat").isNotNull())
    hot = (
        pts.groupBy(
            G.encode_cell(F.col("lat"), F.col("lon"), 3).alias("p")
        )
        .count()
        .orderBy(F.desc("count"), "p")
        .first()["p"]
    )
    metro_q = (
        pts.filter(G.encode_cell(F.col("lat"), F.col("lon"), 3) == hot)
        .select(F.xxhash64("url").alias("query_id"), "lat", "lon")
        .limit(8)
    )
    want_m = _key(cell_knn(geo_small, metro_q, k=5, res=6).collect())
    tm: dict = {}
    got_m = _key(
        cell_knn(
            cells, metro_q, k=5, res=6, cell_col="cell", stats=state,
            partition_parent_res=3, timings=tm,
        ).collect()
    )
    assert got_m == want_m
    assert 0 < tm["prune_parents_round0"] <= 64

    # misuse guards: pruning without the partitioned state must refuse
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cell_knn(geo_small, queries_small, k=5, res=6, partition_parent_res=3)


def test_cell_knn_clustered_corpus_bit_equal(spark, tmp_path):
    """Hot-cell serving: the directory layout clusters a dense cell's rows
    into one file. A metro-concentrated batch over that cell and a lone
    scattered query must match the flat oracle bit-for-bit, on lut serving
    both with and without the parent-directory prune."""
    from countrymaam_spark.plans import pipeline as P

    # 1500 points inside ~one res-6 cell near (40, -74) (cell width at res 6
    # is ~2.8 deg) + 300 scattered world-wide
    rows = [
        (
            f"https://dense.example/{i}",
            40.0 + (i * 37 % 1000) / 1000.0,
            -74.0 + (i * 61 % 1000) / 1000.0,
        )
        for i in range(1500)
    ] + [
        (
            f"https://sparse.example/{i}",
            -80.0 + (i * 997 % 16000) / 100.0,
            -179.0 + (i * 773 % 35800) / 100.0,
        )
        for i in range(300)
    ]
    corpus = spark.createDataFrame(rows, "url string, lat double, lon double")
    out = str(tmp_path / "clustered")
    P.build_cell_pipeline(spark, corpus, out, res=6, partition_parent_res=3)
    cells, lut = P.load_cell_state(spark, out)
    metro_q = spark.createDataFrame(
        [(i, 40.4 + i / 100.0, -73.6 - i / 100.0) for i in range(20)],
        "query_id long, lat double, lon double",
    )
    lone_q = spark.createDataFrame(
        [(0, -20.0, 100.0)], "query_id long, lat double, lon double"
    )
    for q in (metro_q, lone_q):
        want = _key(flat_knn(corpus, q, k=10).collect())
        for prune in (3, None):
            got = _key(
                cell_knn(
                    cells, q, k=10, res=6, cell_col="cell", stats=lut,
                    partition_parent_res=prune,
                ).collect()
            )
            assert got == want, f"partition_parent_res={prune}"


def test_cell_knn_escalation_under_prune_bit_equal(spark, tmp_path):
    """High-latitude queries on pruned lut serving. 40 queries over a sparse
    northern corpus plan probes that are wide in longitude (a degree of
    longitude shrinks with cos(lat)) and together span a dozen res-3 parents,
    all of which the pruned read must keep. Results must match the flat
    oracle bit-for-bit."""
    from countrymaam_spark.plans import pipeline as P

    rows = [
        (
            f"https://north.example/{i}",
            60.0 + (i * 37 % 1000) / 100.0,
            (i * 61 % 4000) / 100.0,
        )
        for i in range(400)
    ]
    corpus = spark.createDataFrame(rows, "url string, lat double, lon double")
    out = str(tmp_path / "north")
    P.build_cell_pipeline(spark, corpus, out, res=6, partition_parent_res=3)
    cells, lut = P.load_cell_state(spark, out)
    q = spark.createDataFrame(
        [(i, 62.0 + (i * 7 % 60) / 10.0, 2.0 + (i * 13 % 300) * 0.12) for i in range(40)],
        "query_id long, lat double, lon double",
    )
    want = _key(flat_knn(corpus, q, k=10).collect())
    got = _key(
        cell_knn(
            cells, q, k=10, res=6, cell_col="cell", stats=lut,
            partition_parent_res=3,
        ).collect()
    )
    assert got == want


def test_cell_knn_prune_cover_holds_every_probed_parent(spark, tmp_path):
    """The driver probe is exactly the non-empty cells whose Column-form
    lower bound is within the query's D, so it never has more rows than
    candidates; it holds every point within the query's brute-force k-th
    distance, cuts the polar strip short of a full-wrap band, and its
    parent cover is exactly the parents of the probed cells — here for
    queries across the antimeridian and near the poles, at partition res 1,
    3 and 5. A metro batch whose probes straddle parent boundaries (the
    res-3 corner at (0, 0) and the antimeridian) must stay bit-equal to
    flat_knn under the prune: a cover that drops a probed cell's parent
    returns wrong neighbours."""
    import numpy as np
    import pandas as pd

    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.operators import knn as knn_mod
    from countrymaam_spark.plans import pipeline as P

    res, k = 6, 10
    nx, ny = 2 << res, 1 << res
    rng = np.random.default_rng(3)
    plat = np.concatenate([rng.uniform(-88, 88, 600), rng.uniform(70, 89.9, 200),
                           rng.uniform(-89.9, -70, 200)])
    plon = np.concatenate([rng.uniform(-180, 180, 600), rng.uniform(170, 180, 200),
                           rng.uniform(-180, -170, 200)])
    px = np.clip(np.floor((plon + 180.0) / G.cell_deg(res)), 0, nx - 1).astype(np.int64)
    py = np.clip(np.floor((plat + 90.0) / G.cell_deg(res)), 0, ny - 1).astype(np.int64)
    pcell = res * G._R_SHIFT + px * G._X_SHIFT + py
    cells, cnts = np.unique(pcell, return_counts=True)
    qlat = np.array([0.5, -0.5, 30.0, -30.0, 75.0, -75.0, 84.0, -84.0, 60.0, 10.0])
    qlon = np.array([179.99, -179.99, 179.5, -179.5, 179.0, -179.0, 178.0, -178.0, -179.9, 0.0])
    batch = pd.DataFrame({"query_id": np.arange(len(qlat)), "lat": qlat, "lon": qlon})
    d, ry = knn_mod._plan_rings(qlat, qlon, cells, cnts, res, k)
    probe = knn_mod._probe_table(batch, d, ry, cells, res)
    by_q = probe.groupby("query_id")["cell"].apply(set)

    # the probe is exactly the non-empty cells, of any row, whose Column-form
    # lower bound is <= the query's D
    cd = G.cell_deg(res)
    cdf = spark.createDataFrame(pd.DataFrame(
        {"cell": cells, "x": (cells % G._R_SHIFT) // G._X_SHIFT, "y": cells % G._X_SHIFT}))
    qdf = spark.createDataFrame(pd.DataFrame({"query_id": batch["query_id"], "qlat": qlat,
                                              "qlon": qlon, "d": d}))
    lb = G.bbox_min_dist_km(F.col("qlat"), F.col("qlon"), F.col("y") * cd - 90.0,
                            (F.col("y") + 1) * cd - 90.0, F.col("x") * cd - 180.0,
                            (F.col("x") + 1) * cd - 180.0)
    within = qdf.crossJoin(cdf).filter(lb <= F.col("d")).select("query_id", "cell").collect()
    assert set(zip(probe["query_id"], probe["cell"])) == {(r[0], r[1]) for r in within}
    assert len(probe) == len(within)

    count = dict(zip(cells.tolist(), cnts.tolist()))
    assert len(probe) <= sum(count[c] for c in probe["cell"])
    R = G.EARTH_RADIUS_KM
    for i in range(len(qlat)):
        p1, p2 = np.radians(qlat[i]), np.radians(plat)
        a = (np.sin(np.radians(plat - qlat[i]) / 2) ** 2
             + np.cos(p1) * np.cos(p2) * np.sin(np.radians(plon - qlon[i]) / 2) ** 2)
        dist = 2 * R * np.arcsin(np.sqrt(np.minimum(a, 1.0)))
        need = set(pcell[dist <= np.sort(dist)[k - 1]].tolist())
        assert need <= by_q[i], (i, sorted(need - by_q[i]))
    for i in (6, 7):  # +-84: the probe is no full-wrap band of the strip
        qy = int(np.floor((qlat[i] + 90.0) / G.cell_deg(res)))
        strip = {c for c in count if abs(c % G._X_SHIFT - qy) <= ry[i]}
        assert strip - by_q[i], i

    for ppr in (1, 3, 5):
        sh = res - ppr
        parents = {((c % G._R_SHIFT) // G._X_SHIFT >> sh, c % G._X_SHIFT >> sh)
                   for c in probe["cell"]}
        cover = [((c % G._R_SHIFT) // G._X_SHIFT, c % G._X_SHIFT, c // G._R_SHIFT)
                 for c in knn_mod._parent_cover(probe, res, ppr)]
        assert {(x, y) for x, y, _ in cover} == parents and len(cover) == len(parents)
        assert {lv for _, _, lv in cover} == {ppr}
        if ppr == 3:  # probes at x = +-179.99 wrap: both edge columns probed
            assert {x for x, _ in parents} >= {0, 15}

    dense = [
        (f"https://metro.example/{i}", -1.5 + (i * 37 % 300) / 100.0, -1.5 + (i * 61 % 300) / 100.0)
        for i in range(900)
    ] + [
        (f"https://date.example/{i}", 8.5 + (i * 53 % 300) / 100.0,
         ((178.5 + (i * 29 % 300) / 100.0 + 180.0) % 360.0) - 180.0)
        for i in range(900)
    ]
    corpus = spark.createDataFrame(dense, "url string, lat double, lon double")
    out = str(tmp_path / "straddle")
    P.build_cell_pipeline(spark, corpus, out, res=res, partition_parent_res=3)
    cells_df, lut = P.load_cell_state(spark, out)
    q = spark.createDataFrame(
        [(i, -0.3 + (i % 6) * 0.1, -0.3 + (i // 6) * 0.1) for i in range(24)]
        + [(100 + i, 9.7 + (i % 4) * 0.2, 179.7 + (i // 4) * 0.1 - (360.0 if i >= 12 else 0.0))
           for i in range(24)],
        "query_id long, lat double, lon double",
    )
    want = _key(flat_knn(corpus, q, k=k).collect())
    t: dict = {}
    got = _key(cell_knn(cells_df, q, k=k, res=res, cell_col="cell", stats=lut,
                        partition_parent_res=3, timings=t).collect())
    assert got == want
    assert 4 <= t["prune_parents_round0"] <= 64


def test_update_cell_stats_equals_rebuild(spark, geo_small):
    """Appending a batch via per-cell deltas must equal a from-scratch stats
    build over the unioned corpus, and serving from the merged state must
    stay exact."""
    from countrymaam_spark.operators.knn import build_cell_stats, update_cell_stats

    old = geo_small.filter(F.xxhash64("url") % 4 != 0)
    batch = geo_small.filter(F.xxhash64("url") % 4 == 0)
    merged = update_cell_stats(build_cell_stats(old, 6), batch, 6)
    scratch = build_cell_stats(geo_small, 6)
    got = sorted((r["cell"], r["cnt"]) for r in merged.collect())
    want = sorted((r["cell"], r["cnt"]) for r in scratch.collect())
    assert got == want


def test_plan_radius_with_stats_never_scans_corpus(spark, geo_small, queries_small, tmp_path):
    """With prebuilt stats the driver plan (the eager part of cell_knn) must
    read ONLY the stats table: with the corpus files gone the call still
    plans, with the stats files gone it fails. A corpus scan here would mean
    serving re-aggregates the corpus per query batch, the at-scale
    regression the state path exists to prevent."""
    import shutil

    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.operators.knn import build_cell_lut, build_cell_stats

    corpus_dir = str(tmp_path / "corpus")
    stats_dir = str(tmp_path / "stats")
    g6 = geo_small.withColumn("cell", G.encode_cell(F.col("lat"), F.col("lon"), 6))
    g6.write.mode("overwrite").parquet(corpus_dir)
    build_cell_lut(build_cell_stats(g6, 6, cell_col="cell"), 6).write.mode(
        "overwrite"
    ).parquet(stats_dir)
    cells = spark.read.parquet(corpus_dir)
    stats = spark.read.parquet(stats_dir)
    shutil.rmtree(corpus_dir)
    t: dict = {}
    cell_knn(cells, queries_small, k=10, res=6, cell_col="cell", stats=stats, timings=t)
    assert t["plan_radius"] > 0
    # the same deletion is caught when the plan does need the corpus
    with pytest.raises(Exception):
        cell_knn(cells, queries_small, k=10, res=6, cell_col="cell")
    shutil.rmtree(stats_dir)
    with pytest.raises(Exception):
        cell_knn(cells, queries_small, k=10, res=6, cell_col="cell", stats=stats)


def _brute_radius(geo_df, q_df, radius_km):
    from countrymaam_spark.functions import geo as G

    pairs = (
        geo_df.filter(F.col("lat").isNotNull())
        .crossJoin(
            q_df.select(
                "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
            )
        )
        .withColumn(
            "dist_km",
            G.haversine_km(F.col("lat"), F.col("lon"), F.col("qlat"), F.col("qlon")),
        )
        .filter(F.col("dist_km") <= radius_km)
    )
    return sorted(
        (r["query_id"], r["url"]) for r in pairs.select("query_id", "url").collect()
    )


@pytest.mark.parametrize("radius_km,res", [(25.0, 7), (300.0, 6), (2500.0, 4)])
def test_radius_join_equals_brute(spark, geo_small, queries_small, radius_km, res):
    """Exactness across regimes: compact rings (25 km), wide rings (300 km),
    and planet-scale radii at coarse res (2500 km — high-lat queries take the
    full-wrap band path). The edge-case queries (tail ids) include pole- and
    dateline-adjacent points."""
    from countrymaam_spark.operators.knn import radius_join

    got = sorted(
        (r["query_id"], r["url"])
        for r in radius_join(geo_small, queries_small, radius_km, res=res)
        .select("query_id", "url")
        .collect()
    )
    assert got == _brute_radius(geo_small, queries_small, radius_km)


def test_radius_join_shuffle_regime_bit_equal(
    spark, geo_small, queries_small, shuffle_regime
):
    """Forcing the estimate gate into the shuffle regime must not change a
    single pair — the fallback join is the same relation."""
    from countrymaam_spark.operators.knn import radius_join

    a = sorted(
        map(tuple, radius_join(geo_small, queries_small, 200.0, res=6).collect())
    )
    with shuffle_regime():
        b = sorted(
            map(tuple, radius_join(geo_small, queries_small, 200.0, res=6).collect())
        )
    assert a == b and len(a) > 0


def _plans_both_regimes(shuffle_regime, make_df):
    """-> (default plan, forced shuffle-regime plan) of make_df()."""

    def plan():
        return make_df()._jdf.queryExecution().executedPlan().toString()

    default = plan()
    with shuffle_regime():
        return default, plan()


def test_radius_join_plan_is_equi_join(
    spark, geo_small, queries_small, no_auto_broadcast, shuffle_regime
):
    """The corpus probe must be a hash equi-join on cell in BOTH regimes —
    never a BroadcastNestedLoopJoin/CartesianProduct (the O(corpus x queries)
    shape the cell index exists to avoid) — and the estimate gate must
    actually flip the regime (auto-broadcast disabled so the plan string
    reflects only the gate's decision, as in test_adaptive_broadcast)."""
    from countrymaam_spark.operators.knn import radius_join

    default, forced = _plans_both_regimes(
        shuffle_regime, lambda: radius_join(geo_small, queries_small, 200.0, res=6)
    )
    for plan in (default, forced):
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in default
    assert "BroadcastHashJoin" not in forced


def test_radius_join_prebuilt_cell_state_bit_equal(spark, geo_small, queries_small):
    """Serving the range join from a pre-encoded corpus (index state) must
    return bit-identical pairs to the stateless path."""
    from countrymaam_spark.functions import geo as G
    from countrymaam_spark.operators.knn import radius_join

    g6 = geo_small.filter(F.col("lat").isNotNull()).withColumn(
        "c6", G.encode_cell(F.col("lat"), F.col("lon"), 6)
    )
    a = sorted(map(tuple, radius_join(geo_small, queries_small, 200.0, res=6).collect()))
    b = sorted(
        map(
            tuple,
            radius_join(g6, queries_small, 200.0, res=6, cell_col="c6").collect(),
        )
    )
    assert a == b and len(a) > 0


def test_cell_density_matches_duckdb(spark, geo_small):
    """Box-kernel density surface over the stats state must equal the DuckDB
    scatter oracle (same packing constants, same wrap/clamp arithmetic)."""
    from countrymaam_spark.operators.knn import (
        build_cell_stats,
        cell_density,
        cell_density_sql,
    )

    out = pg.fixture_dir("sf0.001")
    pages_p = os.path.join(out, "pages.parquet")
    pages_rel = (
        f"(SELECT url, CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 1), '') AS DOUBLE) lat, "
        f"CAST(NULLIF(regexp_extract(text, 'near \\w+ \\((-?[0-9]+\\.[0-9]+), (-?[0-9]+\\.[0-9]+)\\)', 2), '') AS DOUBLE) lon FROM '{pages_p}')"
    )
    for res, radius in [(6, 1), (5, 2)]:
        got = sorted(
            (r["cell"], r["density"])
            for r in cell_density(build_cell_stats(geo_small, res), res, radius).collect()
        )
        want = sorted(duckdb.sql(cell_density_sql(pages_rel, res, radius)).fetchall())
        assert got == want and len(got) > 0


def test_cell_density_isolated_cell(spark):
    """A lone point's density surface is exactly its (2r+1)^2 neighborhood
    (minus pole-clamped rows), each cell at density 1."""
    from countrymaam_spark.operators.knn import build_cell_stats, cell_density

    one = spark.createDataFrame([("u", 10.0, 10.0)], "url string, lat double, lon double")
    rows = cell_density(build_cell_stats(one, 6), 6, radius=1).collect()
    assert len(rows) == 9 and all(r["density"] == 1 for r in rows)


def test_update_cell_lut_equals_rebuild(spark, geo_small):
    """Appending a batch via per-(lv, cell) deltas must equal a from-scratch
    lut build over the unioned corpus."""
    from countrymaam_spark.operators.knn import (
        build_cell_lut,
        build_cell_stats,
        update_cell_lut,
    )

    old = geo_small.filter(F.xxhash64("url") % 4 != 0)
    batch = geo_small.filter(F.xxhash64("url") % 4 == 0)
    merged = update_cell_lut(build_cell_lut(build_cell_stats(old, 6), 6), batch, 6)
    scratch = build_cell_lut(build_cell_stats(geo_small, 6), 6)
    got = sorted((r["lv"], r["cell"], r["cnt"]) for r in merged.collect())
    want = sorted((r["lv"], r["cell"], r["cnt"]) for r in scratch.collect())
    assert got == want


def test_geo_near_pairs_equals_brute(spark, geo_small):
    """Self-join exactness: every unordered pair within radius appears exactly
    once (url_a < url_b), matching the brute DuckDB oracle bit-for-bit on
    dist_km. 10 km on the clustered sf0.001 fixture exercises multi-cell
    rings at res=12."""
    import duckdb as _dd

    from countrymaam_spark.operators.geotag import extract_geo_sql
    from countrymaam_spark.operators.knn import geo_near_pairs, geo_near_pairs_sql

    out = pg.fixture_dir("sf0.001")
    rel = "(" + extract_geo_sql(f"'{os.path.join(out, 'pages.parquet')}'") + ")"
    got = sorted(
        map(tuple, geo_near_pairs(geo_small, 10.0, res=12).collect())
    )
    want = sorted(map(tuple, _dd.sql(geo_near_pairs_sql(rel, 10.0)).fetchall()))
    assert got == want and len(got) > 0


def test_geo_near_pairs_unordered_once(spark, geo_small):
    """Each unordered pair is emitted exactly once and strictly ordered —
    no distinct/dedup shuffle hides a double emission."""
    from countrymaam_spark.operators.knn import geo_near_pairs

    p = geo_near_pairs(geo_small, 10.0, res=12)
    n = p.count()
    assert p.select("url_a", "url_b").distinct().count() == n
    assert p.filter(F.col("url_a") >= F.col("url_b")).count() == 0


def test_geo_near_pairs_plan_no_nested_loop(
    spark, geo_small, no_auto_broadcast, shuffle_regime
):
    """Both gate regimes must probe via a hash equi-join on cell (the repo
    invariant: no BroadcastNestedLoopJoin/CartesianProduct on any path)."""
    from countrymaam_spark.operators.knn import geo_near_pairs

    for plan in _plans_both_regimes(
        shuffle_regime, lambda: geo_near_pairs(geo_small, 10.0, res=12)
    ):
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def test_idw_estimate_matches_oracle_and_bounds(spark, queries_small):
    """IDW interpolation: bit-exact vs the brute-force DuckDB oracle, and
    every estimate lies inside [min, max] of its neighbors' values (a
    weighted mean cannot extrapolate)."""
    from countrymaam_spark.operators.knn import idw_estimate, idw_estimate_sql
    from countrymaam_spark.operators.geotag import extract_geo_sql

    out = pg.ensure_fixtures("sf0.001")
    geo = extract_geo(spark.read.parquet(os.path.join(out, "pages.parquet"))).cache()
    got_rows = idw_estimate(geo, queries_small, k=10, res=7).collect()
    got = {tuple(r) for r in got_rows}
    pg_rel = "(" + extract_geo_sql(f"'{os.path.join(out, 'pages.parquet')}'") + ")"
    q_rel = (
        f"(SELECT * FROM '{os.path.join(out, 'knn_queries.parquet')}' "
        f"WHERE query_id < 32 OR query_id >= 192)"
    )
    want = set(duckdb.sql(idw_estimate_sql(pg_rel, q_rel, k=10)).fetchall())
    assert got == want and len(got) > 0

    nn = cell_knn(geo, queries_small, k=10, res=7)
    vals = geo.select("url", F.coalesce(F.length("text"), F.lit(0)).cast("long").alias("v"))
    rng = {
        r["query_id"]: (r["lo"], r["hi"])
        for r in nn.join(vals, "url")
        .groupBy("query_id")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .collect()
    }
    for r in got_rows:
        lo, hi = rng[r["query_id"]]
        assert lo <= r["est"] <= hi


def test_knn_join_matches_brute_self_join(spark, geo_small):
    """knn_join == brute-force self-kNN with self-exclusion on the same
    slice; the self page never appears among its own neighbors."""
    from countrymaam_spark.operators.knn import knn_join
    from countrymaam_spark.functions import text as T

    got = knn_join(geo_small, k=5, res=7, query_mod=10).collect()
    assert got, "slice selected no queries"
    # self-exclusion: no neighbor row hashes to its own query_id
    h = {r["url"]: None for r in got}
    hashed = dict(
        geo_small.select(
            "url", T.tok_hash(F.concat(F.lit("kj0"), F.col("url"))).alias("h")
        ).collect()
    )
    assert all(hashed[r["url"]] != r["query_id"] for r in got)
    # brute oracle: flat_knn with the SAME hashed query ids at k+1, drop self
    q = geo_small.select(
        T.tok_hash(F.concat(F.lit("kj0"), F.col("url"))).alias("query_id"),
        "lat",
        "lon",
    ).filter(F.col("query_id") % 10 == 0)
    brute = flat_knn(geo_small, q, k=6).collect()
    want = {}
    for r in sorted(brute, key=lambda r: (r["query_id"], r["rk"])):
        if hashed[r["url"]] == r["query_id"]:
            continue
        want.setdefault(r["query_id"], [])
        if len(want[r["query_id"]]) < 5:
            want[r["query_id"]].append((r["url"], r["dist_km"]))
    got_m = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rk"])):
        got_m.setdefault(r["query_id"], []).append((r["url"], r["dist_km"]))
    assert got_m == want


def test_knn_join_empty_input(spark):
    from countrymaam_spark.operators.knn import knn_join

    empty = spark.createDataFrame([], "url string, lat double, lon double")
    assert knn_join(empty, k=3, res=7).count() == 0


def test_knn_join_state_served_bit_equal(spark, geo_small, tmp_path):
    """knn_join from prebuilt cell state (the bench path) must be
    bit-identical to the stateless path."""
    from countrymaam_spark.operators.knn import knn_join
    from countrymaam_spark.plans import pipeline as P

    stateless = sorted(map(tuple, knn_join(geo_small, k=5, res=6, query_mod=10).collect()))
    out = str(tmp_path / "cellidx_kj")
    P.build_cell_pipeline(spark, geo_small, out, res=6)
    cells, state = P.load_cell_state(spark, out)
    stateful = sorted(
        map(
            tuple,
            knn_join(
                cells, k=5, res=6, query_mod=10, cell_col="cell", stats=state
            ).collect(),
        )
    )
    assert stateful == stateless


# --- reverse kNN (influence sets) --------------------------------------------


def test_reverse_knn_matches_oracle(spark, geo_small, queries_small):
    """Corpus-fixture parity with the brute kth-distance-window oracle,
    including the mod slice."""
    import duckdb

    from countrymaam_spark.operators.knn import reverse_knn, reverse_knn_sql
    from countrymaam_spark.operators.geotag import extract_geo_sql

    out = pg.fixture_dir("sf0.001")
    rel = "(" + extract_geo_sql(f"'{out}/pages.parquet'") + ")"
    qrel = (
        f"(SELECT * FROM '{out}/knn_queries.parquet' "
        "WHERE query_id < 32 OR query_id >= 192)"
    )
    got = sorted(
        tuple(r)
        for r in reverse_knn(
            geo_small, queries_small, k=5, res=6, target_mod=20
        ).collect()
    )
    want = sorted(
        tuple(t)
        for t in duckdb.sql(
            reverse_knn_sql(rel, qrel, k=5, target_mod=20)
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_reverse_knn_planted_semantics(spark):
    """The three RkNN behaviors kNN cannot express, on hand-checked
    geometry (degrees on the equator, ~111.19 km/deg):

    - membership is governed by the TARGET's k-th-neighbor radius, not the
      query's: q_in (0.5 deg from A) enters A's k=1 ball (radius 1 deg to
      B) while q_out (1.5 deg) does not;
    - a tie with the k-th neighbor counts as entering (q_tie at exactly
      1 deg on the mirrored side of A);
    - a target with fewer than k other pages has NO k-th neighbor: its
      radius is unbounded and EVERY query enters (k=5 > |corpus|-1).
    """
    from countrymaam_spark.operators.knn import reverse_knn

    corpus = spark.createDataFrame(
        [("A", 0.0, 0.0), ("B", 0.0, 1.0)], "url string, lat double, lon double"
    )
    qs = spark.createDataFrame(
        [(1, 0.0, -0.5), (2, 0.0, -1.5), (3, 0.0, -1.0)],
        "query_id long, lat double, lon double",
    )
    got = {
        (r["query_id"], r["url"])
        for r in reverse_knn(corpus, qs, k=1, res=6).collect()
    }
    # q1 (0.5 deg) enters both A (radius 1 deg) and... B's radius is also
    # 1 deg (A is B's 1-NN) but q1 is 1.5 deg from B -> only A.
    # q3 sits at EXACTLY A's k-th distance (haversine symmetric in dlon).
    assert (1, "A") in got and (1, "B") not in got
    assert (2, "A") not in got and (2, "B") not in got
    assert (3, "A") in got  # tie included
    # unbounded radius: k exceeds the corpus, everyone enters everywhere
    got_unbounded = {
        (r["query_id"], r["url"])
        for r in reverse_knn(corpus, qs, k=5, res=6).collect()
    }
    assert got_unbounded == {(q, u) for q in (1, 2, 3) for u in ("A", "B")}
