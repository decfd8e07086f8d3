"""Index build + checkpoint/resume + tree-served kNN recall."""

import os
import time
from contextlib import ExitStack

import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import index_build
from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.operators.knn import flat_knn
from countrymaam_spark.plans import pipeline
from countrymaam_spark.plans.checkpoint import Manifest, content_hash, run_stage
from countrymaam_spark.sources import pages as pg


@pytest.fixture(scope="module")
def geo_small(spark):
    out = pg.ensure_fixtures("sf0.001")
    g = extract_geo(spark.read.parquet(os.path.join(out, "pages.parquet"))).cache()
    g.count()
    return g


def test_salting_bounds_group_size(spark, geo_small):
    cells = index_build.encode_pages(geo_small, res=7, parent_res=4)
    salted = index_build.salt_hot_cells(cells, target_group_rows=100)
    sizes = salted.groupBy("parent", "salt").count()
    # salting splits hot parents into ~target-sized groups (hash skew slack 2x)
    assert sizes.agg(F.max("count")).collect()[0][0] <= 200
    # every row keeps exactly one (parent, salt)
    assert salted.count() == cells.count()


def test_tree_blobs_lineage(spark, geo_small):
    cells = index_build.salt_hot_cells(
        index_build.encode_pages(geo_small, res=7, parent_res=4), target_group_rows=500
    )
    trees = index_build.build_tree_blobs(cells, seed=42).cache()
    lin = index_build.lineage(trees)
    assert trees.count() == lin.count() > 0
    # lineage row counts add up to the corpus
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == cells.count()
    # deterministic: rebuild -> identical checksums + seeds
    trees2 = index_build.build_tree_blobs(cells, seed=42)
    a = {tuple(r) for r in lin.collect()}
    b = {tuple(r) for r in index_build.lineage(trees2).collect()}
    assert a == b


def test_blob_urls_partition_the_corpus(spark, geo_small):
    """Every corpus url sits in exactly one blob of a salted build: the
    unpacked blob urls equal the corpus urls as a multiset. knn_tree's
    re-rank relies on it to skip the (query_id, url) dedup."""
    from collections import Counter

    from countrymaam_spark.operators import kdtree

    cells = index_build.salt_hot_cells(
        index_build.encode_pages(geo_small, res=7, parent_res=4), target_group_rows=50
    )
    trees = index_build.build_tree_blobs(cells, seed=42)
    assert trees.filter(F.col("salt") > 0).count() > 0
    blob_urls = Counter()
    for r in trees.select("blob").toLocalIterator():
        p = kdtree.unpack_payload(r["blob"])
        blob_urls.update(
            kdtree.decode_urls(p["url_buf"], p["url_off"], range(len(p["lat"])))
        )
    corpus = Counter(
        r["url"] for r in geo_small.filter(F.col("lat").isNotNull()).select("url").collect()
    )
    assert blob_urls == corpus


def test_knn_tree_recall(spark, geo_small):
    cells = index_build.salt_hot_cells(
        index_build.encode_pages(geo_small, res=7, parent_res=4), target_group_rows=2000
    )
    trees = index_build.build_tree_blobs(cells, seed=42).cache()
    out = pg.fixture_dir("sf0.001")
    queries = spark.read.parquet(os.path.join(out, "knn_queries.parquet")).filter(
        F.col("query_id") < 24
    )
    exact = {
        (r["query_id"], r["url"]) for r in flat_knn(geo_small, queries, k=10).collect()
    }
    got_big = {
        (r["query_id"], r["url"])
        for r in index_build.knn_tree(trees, queries, k=10, search_k=4096, ring=1).collect()
    }
    recall = len(exact & got_big) / len(exact)
    assert recall >= 0.85  # ring-of-parents coverage; budget >= leaves
    got_small = {
        (r["query_id"], r["url"])
        for r in index_build.knn_tree(trees, queries, k=10, search_k=2, ring=1).collect()
    }
    recall_small = len(exact & got_small) / len(exact)
    assert recall_small <= recall + 1e-9  # leaf-budget monotonicity
    got_wide = {
        (r["query_id"], r["url"])
        for r in index_build.knn_tree(trees, queries, k=10, search_k=4096, ring=2).collect()
    }
    recall_wide = len(exact & got_wide) / len(exact)
    assert recall_wide >= recall - 1e-9  # ring-budget monotonicity
    assert recall_wide >= 0.95


def test_rp_forest_full_budget_matches_kd(spark, geo_small):
    """At full leaf budget every tree kind is exact within the parent ring,
    so kd and rp-forest serve identical result sets (reference invariant:
    budget >= corpus -> exact, independent of index family)."""
    cells = index_build.salt_hot_cells(
        index_build.encode_pages(geo_small, res=7, parent_res=4), target_group_rows=2000
    )
    kd = index_build.build_tree_blobs(cells, seed=42, kind="kd")
    rp = index_build.build_tree_blobs(cells, seed=42, kind="rp", n_trees=3)
    out = pg.fixture_dir("sf0.001")
    queries = spark.read.parquet(os.path.join(out, "knn_queries.parquet")).filter(
        F.col("query_id") < 12
    )
    a = {(r["query_id"], r["rk"], r["url"]) for r in index_build.knn_tree(kd, queries, k=5, search_k=4096).collect()}
    b = {(r["query_id"], r["rk"], r["url"]) for r in index_build.knn_tree(rp, queries, k=5, search_k=4096).collect()}
    assert a == b


def test_pipeline_checkpoint_resume(spark, geo_small, tmp_path):
    out_dir = str(tmp_path / "idx")
    pages = pg.load_pages(spark, "/root/testdata/sf0.001")
    r1 = pipeline.build_index_pipeline(spark, pages, out_dir, target_group_rows=500)
    assert all(not v["skipped"] for v in r1.values())
    # resume: every stage skips, outputs identical
    m1 = Manifest(out_dir).stages
    r2 = pipeline.build_index_pipeline(spark, pages, out_dir, target_group_rows=500)
    assert all(v["skipped"] for v in r2.values())
    assert Manifest(out_dir).stages == m1
    # kill/corrupt one stage -> only that stage (and not earlier ones) rebuilds
    os.remove(os.path.join(out_dir, "trees", "_SUCCESS"))
    r3 = pipeline.build_index_pipeline(spark, pages, out_dir, target_group_rows=500)
    assert r3["geo"]["skipped"] and r3["cells"]["skipped"]
    assert not r3["trees"]["skipped"]
    assert Manifest(out_dir).stages["trees"]["rows"] == m1["trees"]["rows"]


def _jobs_in_group(spark, group: str, fn):
    """-> (fn(), number of Spark jobs fn started). The status tracker fills
    from the listener bus after the fact, so wait until a marker job started
    after fn is visible: every job fn started is then counted too."""
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(group + "-marker", group)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-marker"):
        assert time.monotonic() < deadline, "marker job never reached the status tracker"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def test_load_trees_opens_without_a_job(spark, geo_small, tmp_path):
    """Opening the blob table through ``load_trees`` starts no Spark job (the
    reader takes the writer's schema instead of inferring it), and the tree
    path serves the same rows from it as from a plain parquet read."""
    cells = index_build.salt_hot_cells(
        index_build.encode_pages(geo_small, res=7, parent_res=4), target_group_rows=500
    )
    index_build.build_tree_blobs(cells, seed=42).write.parquet(str(tmp_path / "trees"))
    queries = spark.read.parquet(
        os.path.join(pg.fixture_dir("sf0.001"), "knn_queries.parquet")
    ).filter(F.col("query_id") < 8)

    def serve(trees):
        return sorted(
            tuple(r) for r in index_build.knn_tree(trees, queries, k=5, search_k=16).collect()
        )

    with ExitStack() as stack:
        trees, jobs = _jobs_in_group(
            spark, "open-trees", lambda: stack.enter_context(pipeline.load_trees(spark, str(tmp_path)))
        )
        assert jobs == 0
        assert trees.schema == spark.read.parquet(str(tmp_path / "trees")).schema
        got = serve(trees)
    assert got and got == serve(spark.read.parquet(str(tmp_path / "trees")))


@pytest.mark.parametrize("partition_by", [None, ["parent"]])
def test_manifest_rows_and_hash_match_snapshot(spark, geo_small, tmp_path, partition_by):
    """A stage's manifest ``rows``/``hash`` are the snapshot's ``count()`` and
    ``content_hash``, when built and when resumed with or without hash
    verification; a stale count or hash is caught and rebuilt."""
    out_dir = str(tmp_path / "idx")

    def stage(verify_hash):
        return run_stage(
            spark, Manifest(out_dir), "cells",
            lambda: index_build.encode_pages(geo_small, res=7, parent_res=2),
            verify_hash=verify_hash, partition_by=partition_by,
        )

    def entry_matches(out):
        entry = Manifest(out_dir).stages["cells"]
        return (entry["rows"], entry["hash"]) == (out.count(), content_hash(out)) and entry["rows"] > 0

    for verify_hash, want_skipped in ((False, False), (False, True), (True, True)):
        out, skipped = stage(verify_hash)
        assert skipped == want_skipped and entry_matches(out)
    for field, verify_hash in (("hash", True), ("rows", False)):
        m = Manifest(out_dir)
        m.stages["cells"][field] += 1
        m.save()
        out, skipped = stage(verify_hash)
        assert not skipped and entry_matches(out), field


def test_cell_pipeline_report_rows_are_snapshot_counts(spark, geo_small, tmp_path):
    """``build_cell_pipeline`` reports the row counts of the snapshots it
    wrote or resumed."""
    out_dir = str(tmp_path / "cell")
    for want_skipped in (False, True):
        rep = pipeline.build_cell_pipeline(spark, geo_small, out_dir, res=6, partition_parent_res=3)
        cells, lut = pipeline.load_cell_state(spark, out_dir)
        assert rep == {
            "cell_corpus": {"rows": cells.count(), "skipped": want_skipped},
            "cell_lut": {"rows": lut.count(), "skipped": want_skipped},
        }


_EMB = "/root/testdata/sf0.001/embeddings.parquet"
_DOCS = "/root/testdata/sf0.001/documents.parquet"


def _family(spark, name):
    """(build(out, df), append(out, df, all_df) or None, base, delta, all)
    for one persisted index family, over small fixture slices."""
    if name == "index":
        pages = pg.load_pages(spark, "/root/testdata/sf0.001")
        return (
            lambda out, df: pipeline.build_index_pipeline(spark, df, out, target_group_rows=500),
            None, pages, None, pages,
        )
    if name in ("text", "dedup"):
        docs = spark.read.parquet(_DOCS).select("doc_id", "text").filter(F.col("doc_id") < 200)
        base, delta = docs.filter(F.col("doc_id") < 150), docs.filter(F.col("doc_id") >= 150)
        build = getattr(pipeline, f"build_{name}_pipeline")
        append = getattr(pipeline, f"append_{name}_pipeline")
        return (
            lambda out, df: build(spark, df, out),
            lambda out, df, _all: append(spark, df, out),
            base, delta, docs,
        )
    vecs = spark.read.parquet(_EMB).select("vec_id", "embedding").filter(F.col("vec_id") < 120)
    base, delta = vecs.filter(F.col("vec_id") < 90), vecs.filter(F.col("vec_id") >= 90)
    kw = {
        "graph": {"k": 5, "max_iter": 2},
        "ivf": {"n_lists": 4},
        "pq": {"m": 4, "ksub": 8},
        "ivfpq": {"n_lists": 4, "m": 4, "ksub": 8},
        "lsh": {"n_tables": 2, "bits": 3},
    }[name]
    build = getattr(pipeline, f"build_{name}_pipeline")
    append = getattr(pipeline, f"append_{name}_pipeline")
    if name == "graph":
        return (
            lambda out, df: build(spark, df, out, **kw),
            lambda out, df, all_df: append(spark, all_df, df.select("vec_id"), out, **kw),
            base, delta, vecs,
        )
    return (
        lambda out, df: build(spark, df, out, **kw),
        lambda out, df, _all: append(spark, df, out),
        base, delta, vecs,
    )


@pytest.mark.parametrize(
    "family", ["index", "graph", "ivf", "pq", "ivfpq", "text", "dedup", "lsh"]
)
def test_pipeline_report_rows_are_snapshot_counts(spark, tmp_path, family):
    """Every build and append report gives each stage's rows as the count
    of the snapshot it left, and an append's ``appended`` as the rows the
    snapshot gained — taken from the manifest, not counted again."""
    build, append, base, delta, all_df = _family(spark, family)
    out = str(tmp_path / family)

    def snapshot_rows(stage):
        return spark.read.parquet(os.path.join(out, stage)).count()

    for want_skipped in (False, True):
        rep = build(out, base)
        assert rep and all(v["skipped"] == want_skipped for v in rep.values())
        assert {s: v["rows"] for s, v in rep.items()} == {s: snapshot_rows(s) for s in rep}
    if append is None:
        return
    before = {s: snapshot_rows(s) for s in rep}
    rep = append(out, delta, all_df)
    assert {s: v["rows"] for s, v in rep.items()} == {s: snapshot_rows(s) for s in rep}
    for s, v in rep.items():
        if "appended" in v:
            assert v["appended"] == snapshot_rows(s) - before[s] > 0


def test_two_runs_identical_content(spark, tmp_path):
    pages = pg.load_pages(spark, "/root/testdata/sf0.001")
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    pipeline.build_index_pipeline(spark, pages, a, target_group_rows=500)
    pipeline.build_index_pipeline(spark, pages, b, target_group_rows=500)
    ma, mb = Manifest(a).stages, Manifest(b).stages
    for stage in ("geo", "cells", "lineage"):
        assert ma[stage]["hash"] == mb[stage]["hash"], stage


def test_incremental_add_equals_from_scratch(spark, geo_small):
    """Reference MutableIndex.Add analog (flat_index.go:88-90): appending
    pages + rebuilding only the touched (parent, salt) groups must equal a
    from-scratch build on the combined corpus — same lineage checksums, same
    query results (salt factors unchanged at this target_group_rows)."""
    base = geo_small.filter(F.xxhash64("url") % 5 != 0)
    extra = geo_small.filter(F.xxhash64("url") % 5 == 0)
    cells_a = index_build.salt_hot_cells(
        index_build.encode_pages(base, res=7, parent_res=4),
        target_group_rows=1_000_000,
    )
    trees_a = index_build.build_tree_blobs(cells_a, seed=42).cache()
    cells_new, trees_new = index_build.incremental_add(
        cells_a, trees_a, extra, res=7, parent_res=4, seed=42
    )
    cells_full = index_build.salt_hot_cells(
        index_build.encode_pages(geo_small, res=7, parent_res=4),
        target_group_rows=1_000_000,
    )
    trees_full = index_build.build_tree_blobs(cells_full, seed=42)
    got = {tuple(r) for r in index_build.lineage(trees_new).collect()}
    want = {tuple(r) for r in index_build.lineage(trees_full).collect()}
    assert got == want
    assert cells_new.count() == cells_full.count()
    # served results equal too
    out = pg.fixture_dir("sf0.001")
    queries = spark.read.parquet(os.path.join(out, "knn_queries.parquet")).filter(
        F.col("query_id") < 8
    )
    a = {tuple(r) for r in index_build.knn_tree(trees_new, queries, k=5, ring=None, search_k=1 << 30).collect()}
    b = {tuple(r) for r in index_build.knn_tree(trees_full, queries, k=5, ring=None, search_k=1 << 30).collect()}
    assert a == b and len(a) > 0


def test_factory_zoo(spark, geo_small):
    """Reference index factory (cmd/countrymaam/main.go:29-78): every kind is
    constructible and serves a query; full-budget configs are exact."""
    from countrymaam_spark.operators.factory import IndexConfig, create_index

    out = pg.fixture_dir("sf0.001")
    queries = spark.read.parquet(os.path.join(out, "knn_queries.parquet")).filter(
        F.col("query_id") < 4
    )
    exact = {
        (r["query_id"], r["url"])
        for r in flat_knn(geo_small, queries, k=5).collect()
    }
    for kind in ("cell", "kd-tree", "rkd-tree", "rp-tree", "rrp-tree"):  # reference CLI names
        idx = create_index(
            geo_small,
            IndexConfig(kind=kind, k=5, ring=None, search_k=1 << 30, n_trees=2,
                        target_group_rows=2000),
        )
        got = {(r["query_id"], r["url"]) for r in idx.search(queries).collect()}
        assert got == exact, kind

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    eq = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    from countrymaam_spark.operators import ann as _ann

    e_exact = {
        (r["query_id"], r["vec_id"])
        for r in _ann.brute_knn(emb, eq, k=5).collect()
    }
    for kind in ("flat", "rplsh", "ivf", "aknn", "rpaknn"):
        idx = create_index(
            emb,
            IndexConfig(kind=kind, k=5, n_tables=24, bits=4, entries_num=10,
                        beam=24, max_hops=6, graph_k=10, max_iter=8,
                        n_lists=8, n_probe=8),
        )
        got = {(r["query_id"], r["vec_id"]) for r in idx.search(eq).collect()}
        recall = len(got & e_exact) / len(e_exact)
        assert recall >= 0.95, (kind, recall)

    # u8 dtype flavors: compared against the u8 brute exact (quantization
    # changes neighbor sets vs float, so the float oracle does not apply);
    # full-probe ivf_u8 must match flat_u8 exactly (budget >= corpus)
    u8_exact = {
        (r["query_id"], r["vec_id"])
        for r in _ann.brute_knn_u8(emb, eq, k=5).collect()
    }
    for kind in ("flat_u8", "ivf_u8"):
        idx = create_index(emb, IndexConfig(kind=kind, k=5, n_lists=8, n_probe=8))
        got = {(r["query_id"], r["vec_id"]) for r in idx.search(eq).collect()}
        assert got == u8_exact, kind


def test_knn_tree_routes_match_ring_cells(spark):
    """The driver's routes are ``geo.ring_cells`` of each query's parent
    cell (x wraps, y clips at the poles), one entry per (query, parent),
    each carrying its query's coordinates; ``ring=None`` routes every query
    to every parent of the grid."""
    import pandas as pd

    from countrymaam_spark.functions import geo

    pts = [(10.0, 20.0), (-33.9, 151.2), (51.5, -0.1), (64.1, -21.9),
           (89.99, 0.0), (-89.99, 45.0), (0.0, 179.99), (0.0, -179.99),
           (89.99, 179.99), (-89.99, -179.99), (20.0, 180.0)]
    batch = pd.DataFrame({
        "query_id": range(100, 100 + len(pts)),
        "lat": [p[0] for p in pts], "lon": [p[1] for p in pts],
    })
    q = spark.createDataFrame(batch)
    coords = dict(zip(batch["query_id"], zip(batch["lat"], batch["lon"])))

    def driver_pairs(parent_res, ring):
        routes = index_build._plan_routes(batch, parent_res, ring)
        pairs = []
        for p, qid, qlat, qlon in zip(*(routes[c] for c in ("parent", "qid", "qlat", "qlon"))):
            for i, la, lo in zip(qid, qlat, qlon):
                assert coords[i] == (la, lo)
                pairs.append((int(i), int(p)))
        assert len(pairs) == len(set(pairs))
        return sorted(pairs)

    for parent_res in (1, 4):
        for ring in (0, 1, 2):
            cell = geo.encode_cell(F.col("lat"), F.col("lon"), parent_res)
            want = sorted(
                tuple(r) for r in q.select(
                    "query_id", F.explode(geo.ring_cells(cell, parent_res, ring))
                ).collect()
            )
            assert driver_pairs(parent_res, ring) == want, (parent_res, ring)
        nx, ny = 2 << parent_res, 1 << parent_res
        grid = [parent_res * geo._R_SHIFT + x * geo._X_SHIFT + y
                for x in range(nx) for y in range(ny)]
        assert driver_pairs(parent_res, None) == sorted(
            (i, p) for i in coords for p in grid
        )


def test_snapshot_diff_verifies_append_only(spark, tmp_path):
    """exceptAll snapshot diff (SURVEY §2.2 set ops): an append adds exactly
    its delta and removes nothing; a mutated snapshot shows the lost rows."""
    from countrymaam_spark.plans.checkpoint import snapshot_diff

    path = str(tmp_path / "snap")
    base = pg.load_pages(spark, "/root/testdata/sf0.001").filter(F.xxhash64("url") % 3 != 0)
    delta = pg.load_pages(spark, "/root/testdata/sf0.001").filter(F.xxhash64("url") % 3 == 0)
    base.write.mode("overwrite").parquet(path)
    before = spark.read.parquet(path).localCheckpoint(eager=True)
    delta.write.mode("append").parquet(path)
    after = spark.read.parquet(path)

    added, removed = snapshot_diff(before, after)
    assert removed.isEmpty()
    assert added.count() == delta.count()
    assert added.exceptAll(delta).isEmpty() and delta.exceptAll(added).isEmpty()

    # a "torn" snapshot (one row dropped) is caught on the removed side
    torn = after.filter(F.col("url") != after.select("url").first()["url"])
    added2, removed2 = snapshot_diff(after, torn)
    assert added2.isEmpty() and removed2.count() == 1
