"""The resumable index-build pipeline: geotag -> encode+salt -> tree blobs,
each stage a checkpointed snapshot with lineage + counters. This is the
``spark-submit`` entry path for the 100 TB build; locally it runs the same
code over the fixture pages."""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from countrymaam_spark.operators import index_build
from countrymaam_spark.operators.geotag import extract_geo
from countrymaam_spark.plans.checkpoint import Manifest, rows_and_hash, run_stage

# rows per columnar read batch of the tree-blob table (see load_trees)
TREE_READ_BATCH_ROWS = 16


def build_index_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    res: int = 7,
    parent_res: int = 4,
    target_group_rows: int = 20_000,
    seed: int = 42,
    kind: str = "kd",
    n_trees: int = 1,
) -> dict:
    """Runs (or resumes) the full build. Returns stage -> (rows, skipped)."""
    manifest = Manifest(out_dir)
    report: dict[str, dict] = {}
    # ONE shared invalidation key for every stage: a parameter change can
    # never leave upstream/downstream snapshots resuming out of sync
    params = {
        "res": res, "parent_res": parent_res,
        "target_group_rows": target_group_rows,
        "seed": seed, "kind": kind, "n_trees": n_trees,
    }

    geo_df, skipped = run_stage(
        spark,
        manifest,
        "geo",
        lambda: extract_geo(pages).select("url", "lat", "lon", "text_sha"),
        params=params,
    )
    report["geo"] = {"rows": _rows(manifest, "geo"), "skipped": skipped}

    cells_df, skipped = run_stage(
        spark,
        manifest,
        "cells",
        lambda: index_build.salt_hot_cells(
            index_build.encode_pages(geo_df, res, parent_res), target_group_rows
        ),
        params=params,
    )
    report["cells"] = {"rows": _rows(manifest, "cells"), "skipped": skipped}

    trees_df, skipped = run_stage(
        spark,
        manifest,
        "trees",
        lambda: index_build.build_tree_blobs(cells_df, seed=seed, kind=kind, n_trees=n_trees),
        params=params,
    )
    report["trees"] = {"rows": _rows(manifest, "trees"), "skipped": skipped}

    _, skipped = run_stage(
        spark, manifest, "lineage", lambda: index_build.lineage(trees_df),
        params=params,
    )
    report["lineage"] = {"rows": _rows(manifest, "lineage"), "skipped": skipped}

    # counters table: per-stage row counts as data (queryable metrics)
    counters = spark.createDataFrame(
        [(k, v["rows"]) for k, v in report.items()], "stage string, rows long"
    )
    counters.write.mode("overwrite").parquet(os.path.join(out_dir, "counters"))
    return report


def build_graph_pipeline(
    spark: SparkSession,
    vecs: DataFrame,
    out_dir: str,
    k: int = 15,
    rho: float = 0.7,
    max_iter: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Save/Load for the graph index family — the reference gob-persists
    every index type (/root/reference/index/io.go:9-36; graph loader
    /root/reference/index/graph_index.go:181-191), and before this helper
    the NN-Descent edge table lived only in session-scoped localCheckpoints,
    so a real deployment rebuilt the graph every session. The edge table is
    a Manifest stage: a rerun with an intact snapshot SKIPS the (expensive)
    build, and ``load_graph_edges`` serves graph_knn/composite_knn from the
    snapshot (round-trip equality pinned in tests/test_graph.py)."""
    from countrymaam_spark.operators.graph import nn_descent

    manifest = Manifest(out_dir)
    params = {
        "k": k, "rho": rho, "max_iter": max_iter, "seed": seed,
        "id_col": id_col, "vec_col": vec_col,
    }
    _, skipped = run_stage(
        spark,
        manifest,
        "graph_edges",
        lambda: nn_descent(
            vecs, k=k, rho=rho, max_iter=max_iter, seed=seed,
            id_col=id_col, vec_col=vec_col,
        ),
        params=params,
    )
    return {"graph_edges": {"rows": _rows(manifest, "graph_edges"), "skipped": skipped}}


def build_ivf_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_lists: int = 16,
    sample_n: int = 2048,
    iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Save/Load for the IVF family: the coarse quantizer (centroid table)
    and the inverted-list assignment table persist as Manifest stages, so
    serving (``ann.ivf_knn_from_state`` via ``load_ivf``) never re-runs
    k-means or re-assigns the corpus. Completes #25 parity across the zoo:
    trees and graph edges already persist; LSH planes are seeded-
    deterministic (no state to store); flat has no build state."""
    from countrymaam_spark.operators import ann

    manifest = Manifest(out_dir)
    # BOTH stages share this key: changing n_lists/seed/sample_n invalidates
    # centroids AND assignments together — the round-3 advisor's staleness
    # (rows-only skip resumed an assignment table inconsistent with freshly
    # rebuilt centroids, silently losing recall at n_probe < n_lists)
    params = {
        "n_lists": n_lists, "sample_n": sample_n, "iters": iters,
        "seed": seed, "id_col": id_col, "vec_col": vec_col,
    }
    cents_df, skipped_c = run_stage(
        spark,
        manifest,
        "ivf_centroids",
        lambda: spark.createDataFrame(
            [
                (int(i), [float(x) for x in c])
                for i, c in enumerate(
                    ann._kmeans_centroids(corpus, vec_col, n_lists, sample_n, iters, seed)
                )
            ],
            "list_id int, centroid array<double>",
        ),
        params=params,
    )
    cents = _cents_array(cents_df)
    _, skipped_l = run_stage(
        spark,
        manifest,
        "ivf_lists",
        lambda: ann.ivf_assignments(corpus, cents, id_col=id_col, vec_col=vec_col),
        params=params,
        # the docstring promise at operators/ann.py ivf_assignments: persist
        # bucketed by list_id so probes prune files — directory partitioning
        # gives static AND dynamic (DPP) partition pruning on the probe
        # equi-join (plan-asserted in tests/test_ann.py)
        partition_by=["list_id"],
    )
    return {
        "ivf_centroids": {"rows": _rows(manifest, "ivf_centroids"), "skipped": skipped_c},
        "ivf_lists": {"rows": _rows(manifest, "ivf_lists"), "skipped": skipped_l},
    }


def build_pq_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    m: int = 8,
    ksub: int = 256,
    sample_n: int = 2048,
    iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Save/Load for the PQ family: the per-subspace codebooks and the
    m-byte code table persist as Manifest stages (one shared params key —
    changing m/ksub/seed invalidates books AND codes together, the same
    staleness contract as build_ivf_pipeline). At 10^12 vectors the code
    table IS the serving state (m bytes/vector); the raw vector table is
    only read again by the exact re-rank."""
    from countrymaam_spark.operators import pq

    manifest = Manifest(out_dir)
    params = {
        "m": m, "ksub": ksub, "sample_n": sample_n, "iters": iters,
        "seed": seed, "id_col": id_col, "vec_col": vec_col,
    }
    books_holder: dict = {}

    def _build_books():
        books_holder["books"] = pq.train_pq(
            corpus, vec_col, m=m, ksub=ksub, sample_n=sample_n, iters=iters, seed=seed
        )
        return pq.books_to_df(spark, books_holder["books"])

    books_df, skipped_b = run_stage(
        spark, manifest, "pq_books", _build_books, params=params
    )
    books = books_holder.get("books")
    if books is None:  # resumed from snapshot
        books = pq.books_from_df(books_df)
    _, skipped_c = run_stage(
        spark,
        manifest,
        "pq_codes",
        lambda: pq.pq_codes(corpus, books, id_col=id_col, vec_col=vec_col),
        params=params,
    )
    return {
        "pq_books": {"rows": _rows(manifest, "pq_books"), "skipped": skipped_b},
        "pq_codes": {"rows": _rows(manifest, "pq_codes"), "skipped": skipped_c},
    }


def load_pq(spark: SparkSession, out_dir: str):
    """-> (code DataFrame, codebook ndarray) for pq_knn_from_state."""
    from countrymaam_spark.operators import pq

    books = pq.books_from_df(spark.read.parquet(os.path.join(out_dir, "pq_books")))
    codes_df = spark.read.parquet(os.path.join(out_dir, "pq_codes"))
    return codes_df, books


def append_pq_pipeline(
    spark: SparkSession,
    new_corpus: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental append for the PQ family: codebooks are FROZEN state, so
    appending vectors is one narrow encode map over the delta plus a parquet
    append — no retraining, no full-corpus re-encode (the IVF-append
    contract; codebook drift under distribution shift is the same documented
    trade, fixed by a fresh build_pq_pipeline)."""
    from countrymaam_spark.operators import pq

    manifest = Manifest(out_dir)
    books = pq.books_from_df(spark.read.parquet(os.path.join(out_dir, "pq_books")))
    delta = pq.pq_codes(new_corpus, books, id_col=id_col, vec_col=vec_col)
    path = os.path.join(out_dir, "pq_codes")
    delta.write.mode("append").parquet(path)
    _, appended = _refresh_stage_entry(spark, manifest, "pq_codes")
    return {
        "pq_codes": {
            "rows": _rows(manifest, "pq_codes"), "appended": appended, "skipped": False,
        }
    }


def build_ivfpq_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_lists: int = 16,
    m: int = 8,
    ksub: int = 256,
    sample_n: int = 2048,
    iters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Save/Load for IVF-PQ: coarse centroids, PQ codebooks, and the
    (cid, list_id, code) state table — all three stages under ONE params
    key (a change to any knob invalidates them together), the state
    partitioned by list_id so probes prune files. The raw-vector table
    stays outside the index state: serving reads it only for the exact
    re-rank."""
    from countrymaam_spark.operators import ann, pq

    manifest = Manifest(out_dir)
    params = {
        "n_lists": n_lists, "m": m, "ksub": ksub, "sample_n": sample_n,
        "iters": iters, "seed": seed, "id_col": id_col, "vec_col": vec_col,
    }
    cents_df, skipped_c = run_stage(
        spark,
        manifest,
        "ivfpq_centroids",
        lambda: spark.createDataFrame(
            [
                (int(i), [float(x) for x in c])
                for i, c in enumerate(
                    ann._kmeans_centroids(corpus, vec_col, n_lists, sample_n, iters, seed)
                )
            ],
            "list_id int, centroid array<double>",
        ),
        params=params,
    )
    cents = _cents_array(cents_df)
    books_holder: dict = {}

    def _build_books():
        books_holder["books"] = pq.train_pq(
            corpus, vec_col, m=m, ksub=ksub, sample_n=sample_n, iters=iters, seed=seed
        )
        return pq.books_to_df(spark, books_holder["books"])

    books_df, skipped_b = run_stage(
        spark, manifest, "ivfpq_books", _build_books, params=params
    )
    books = books_holder.get("books")
    if books is None:
        books = pq.books_from_df(books_df)
    _, skipped_s = run_stage(
        spark,
        manifest,
        "ivfpq_state",
        lambda: pq.ivf_pq_state(corpus, cents, books, id_col=id_col, vec_col=vec_col),
        params=params,
        partition_by=["list_id"],
    )
    return {
        "ivfpq_centroids": {"rows": _rows(manifest, "ivfpq_centroids"), "skipped": skipped_c},
        "ivfpq_books": {"rows": _rows(manifest, "ivfpq_books"), "skipped": skipped_b},
        "ivfpq_state": {"rows": _rows(manifest, "ivfpq_state"), "skipped": skipped_s},
    }


def load_ivfpq(spark: SparkSession, out_dir: str):
    """-> (state DataFrame, centroid ndarray, codebook ndarray) for
    pq.ivf_pq_knn_from_state."""
    from countrymaam_spark.operators import pq

    cents = _cents_array(spark.read.parquet(os.path.join(out_dir, "ivfpq_centroids")))
    books = pq.books_from_df(spark.read.parquet(os.path.join(out_dir, "ivfpq_books")))
    state = spark.read.parquet(os.path.join(out_dir, "ivfpq_state"))
    return state, cents, books


def append_ivfpq_pipeline(
    spark: SparkSession,
    new_corpus: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental append: centroids AND codebooks are frozen state, so the
    delta is one narrow assign+encode map appended into the partitioned
    snapshot (the ivf/pq append contract; rebuild on distribution drift)."""
    from countrymaam_spark.operators import pq

    manifest = Manifest(out_dir)
    cents = _cents_array(spark.read.parquet(os.path.join(out_dir, "ivfpq_centroids")))
    books = pq.books_from_df(spark.read.parquet(os.path.join(out_dir, "ivfpq_books")))
    delta = pq.ivf_pq_state(new_corpus, cents, books, id_col=id_col, vec_col=vec_col)
    path = os.path.join(out_dir, "ivfpq_state")
    delta.write.mode("append").partitionBy("list_id").parquet(path)
    _, appended = _refresh_stage_entry(spark, manifest, "ivfpq_state")
    return {
        "ivfpq_state": {
            "rows": _rows(manifest, "ivfpq_state"), "appended": appended, "skipped": False,
        }
    }


def _rows(manifest: Manifest, name: str) -> int:
    """A stage snapshot's row count as its manifest entry records it:
    ``run_stage`` and ``_refresh_stage_entry`` count every snapshot they
    write, and a resumed one only when its count matched, so a report
    never counts again."""
    return manifest.stages[name]["rows"]


def _refresh_stage_entry(
    spark: SparkSession, manifest: Manifest, name: str
) -> tuple[DataFrame, int]:
    """Re-read a stage snapshot after an in-place append and refresh its
    manifest rows/hash, so later resume verification (run_stage's row-count +
    content-hash checks) accepts the appended table instead of rebuilding —
    the Iceberg new-snapshot-commit analog on plain parquet.
    -> (snapshot, rows it gained over the previous entry)."""
    path = os.path.join(manifest.out_dir, name)
    out = spark.read.parquet(path)
    rows, h = rows_and_hash(out)
    entry = manifest.stages.get(name, {})
    manifest.stages[name] = {"rows": rows, "hash": h, "params": entry.get("params", {})}
    manifest.save()
    return out, rows - entry.get("rows", 0)


def append_ivf_pipeline(
    spark: SparkSession,
    new_corpus: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental append for the IVF family: the coarse quantizer is FROZEN
    state, so appending vectors is ONE narrow nearest-centroid map over the
    delta (no k-means re-run, no full-corpus re-assignment — at 10^12 rows a
    rebuild re-shuffles the whole table; this touches only the new rows) and
    a parquet append into the ``list_id``-partitioned snapshot, preserving
    probe-side partition pruning. Bit-equivalent to re-assigning the full
    corpus against the same centroids (pinned in tests/test_ann.py).

    Centroid drift is the documented trade: a heavily-appended corpus whose
    distribution shifts should periodically rebuild via
    ``build_ivf_pipeline`` with fresh params (which invalidates both stages
    together)."""
    from countrymaam_spark.operators import ann

    manifest = Manifest(out_dir)
    cents = _cents_array(spark.read.parquet(os.path.join(out_dir, "ivf_centroids")))
    delta = ann.ivf_assignments(new_corpus, cents, id_col=id_col, vec_col=vec_col)
    path = os.path.join(out_dir, "ivf_lists")
    delta.write.mode("append").partitionBy("list_id").parquet(path)
    _, appended = _refresh_stage_entry(spark, manifest, "ivf_lists")
    return {
        "ivf_lists": {
            "rows": _rows(manifest, "ivf_lists"), "appended": appended, "skipped": False,
        }
    }


def append_graph_pipeline(
    spark: SparkSession,
    vecs_all: DataFrame,
    new_ids: DataFrame,
    out_dir: str,
    k: int = 15,
    rho: float = 0.7,
    max_iter: int = 6,
    seed: int = 43,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incremental append for the graph family: warm-start NN-Descent
    (:func:`countrymaam_spark.operators.graph.nn_descent_append`) from the
    persisted edge snapshot instead of rebuilding — per-round work scales
    with the delta's neighborhoods, not the corpus. The updated edge table
    replaces the snapshot (materialized first: a lazy plan cannot overwrite
    its own input) and the manifest entry is refreshed so resume
    verification accepts the appended graph."""
    from countrymaam_spark.operators.graph import nn_descent_append

    manifest = Manifest(out_dir)
    path = os.path.join(out_dir, "graph_edges")
    edges = spark.read.parquet(path)
    updated = nn_descent_append(
        vecs_all, edges, new_ids, k=k, rho=rho, max_iter=max_iter, seed=seed,
        id_col=id_col, vec_col=vec_col,
    ).localCheckpoint(eager=True)
    updated.write.mode("overwrite").parquet(path)
    _refresh_stage_entry(spark, manifest, "graph_edges")
    return {"graph_edges": {"rows": _rows(manifest, "graph_edges"), "skipped": False}}


def build_cell_pipeline(
    spark: SparkSession,
    pages_geo: DataFrame,
    out_dir: str,
    res: int = 7,
    cell_col: str | None = None,
    partition_parent_res: int | None = None,
) -> dict:
    """Save/Load for the cell (quad-grid) kNN index: the encoded corpus and
    its multi-level planning lut (``build_cell_lut`` over the per-cell
    counts) persist as Manifest stages, so serving
    (``cell_knn(cell_col=..., stats=...)`` via ``load_cell_state``) performs
    NO per-batch corpus encode and NO per-batch corpus aggregation. The lut
    is the Spark analog of the reference's subtree sizes (reference
    bsp_tree/bsp_tree.go:22-60) — build-time state, not query-time work; at
    10^12 rows the corpus ``groupBy(cell)`` it removes from serving is a
    full-table shuffle per query batch. Its ``lv == res`` slice is the
    per-cell count table, so that table is not persisted separately. Appends
    update the lut incrementally (``update_cell_lut``: per-(lv, cell) count
    deltas), the same contract as the tree pipeline's per-(parent,salt)
    rebuilds.

    ``partition_parent_res`` directory-partitions the corpus snapshot on the
    PARENT cell at that (coarser) resolution — the Iceberg partition-spec
    analog for the spatial table. A spatially-local read (viewport scan,
    region export, a kNN batch whose queries cluster in one metro) filters on
    ``parent`` and Spark prunes whole directories at plan time
    (``PartitionFilters`` in the scan — pytest-pinned), instead of listing a
    10^12-row corpus to serve one city. Pick the parent res so directory
    count stays O(10^2..10^4) (res 3 -> 128 dirs, res 5 -> 2048): too fine
    re-creates the small-files problem partition specs exist to avoid.
    Serving results are bit-identical to the unpartitioned snapshot (the
    extra ``parent`` column is projection-pruned by ``cell_knn``)."""
    from countrymaam_spark.operators import knn

    manifest = Manifest(out_dir)
    params = {"res": res, "cell_col": cell_col}
    if partition_parent_res is not None:
        if partition_parent_res > res:
            raise ValueError("partition_parent_res must be <= res")
        # part of the shared invalidation key: changing the layout rebuilds
        # corpus and lut together (never a mixed snapshot)
        params["partition_parent_res"] = partition_parent_res
    from countrymaam_spark.functions import geo

    cell = (
        F.col(cell_col)
        if cell_col
        else geo.encode_cell(F.col("lat"), F.col("lon"), res)
    )

    def _corpus() -> DataFrame:
        base = geo.located(pages_geo).select(
            "url", "lat", "lon", cell.alias("cell")
        )
        if partition_parent_res is None:
            return base
        return base.withColumn(
            "parent", geo.cell_parent(F.col("cell"), partition_parent_res, res)
        )

    cells_df, skipped_c = run_stage(
        spark,
        manifest,
        "cell_corpus",
        _corpus,
        params=params,
        partition_by=["parent"] if partition_parent_res is not None else None,
    )
    # the multi-level count lut (<= 5x|cells| rows): cell_knn plans each
    # batch on the driver from its lv == res slice
    _, skipped_l = run_stage(
        spark,
        manifest,
        "cell_lut",
        lambda: knn.build_cell_lut(
            knn.build_cell_stats(cells_df, res, cell_col="cell"), res
        ),
        params=params,
    )
    return {
        "cell_corpus": {"rows": _rows(manifest, "cell_corpus"), "skipped": skipped_c},
        "cell_lut": {"rows": _rows(manifest, "cell_lut"), "skipped": skipped_l},
    }


def load_cell_state(spark: SparkSession, out_dir: str):
    """-> (encoded corpus DataFrame, planning lut DataFrame) for
    ``cell_knn(cell_col="cell", stats=...)``: the batch is planned on the
    driver from the lut's ``lv == res`` slice."""
    return (
        spark.read.parquet(os.path.join(out_dir, "cell_corpus")),
        spark.read.parquet(os.path.join(out_dir, "cell_lut")),
    )


def _cents_array(cents_df: DataFrame):
    import numpy as np

    rows = sorted(cents_df.collect(), key=lambda r: r["list_id"])
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def build_text_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Save/Load for the BM25 text index: three Manifest stages — postings
    (term, doc_id, tf, dl), per-term document frequency, and the 1-row
    corpus stats (n_docs, sum_dl).  All three share ONE params dict, so a
    tokenizer/column change can never resume a stale subset (the round-3
    advisor's out-of-sync staleness).  The serving path
    (``search.bm25_topk_from_state``) then tokenizes nothing: queries join
    the stored postings directly.  At cluster scale the postings snapshot
    is the table to BUCKET BY term (the Iceberg move; plain parquet here),
    so the per-batch query join prunes files instead of scanning the index.
    """
    from countrymaam_spark.operators.search import (
        build_postings,
        doc_lengths,
        term_df,
    )

    manifest = Manifest(out_dir)
    params = {"id_col": id_col, "text_col": text_col}
    post, sk1 = run_stage(
        spark,
        manifest,
        "text_postings",
        lambda: build_postings(docs, id_col, text_col),
        params=params,
    )
    _, sk2 = run_stage(
        spark, manifest, "text_df", lambda: term_df(post), params=params
    )
    _, sk3 = run_stage(
        spark,
        manifest,
        "text_stats",
        lambda: doc_lengths(docs, id_col, text_col).agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        ),
        params=params,
    )
    return {
        "text_postings": {"rows": _rows(manifest, "text_postings"), "skipped": sk1},
        "text_df": {"rows": _rows(manifest, "text_df"), "skipped": sk2},
        "text_stats": {"rows": _rows(manifest, "text_stats"), "skipped": sk3},
    }


def append_text_pipeline(
    spark: SparkSession,
    new_docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Incremental append for the text index: per-document postings are
    independent, so NEW documents' rows parquet-append into the postings
    snapshot (only the delta is tokenized — at 10^12 docs a rebuild
    re-tokenizes the world; this touches the new rows); the df table
    merges by exact integer sum per term (vocab-bounded overwrite) and the
    1-row stats add.  Bit-equivalent to rebuilding over the union
    (pytest-pinned).  Doc ids must be NEW — re-appending an existing id
    double-counts; the dedup layer (exact sha / canonical-url groups) is
    the upstream guard, same contract as the IVF append."""
    from countrymaam_spark.operators.search import (
        build_postings,
        doc_lengths,
        term_df,
    )

    manifest = Manifest(out_dir)
    delta = build_postings(new_docs, id_col, text_col).localCheckpoint(eager=True)
    delta.write.mode("append").parquet(os.path.join(out_dir, "text_postings"))
    _, appended = _refresh_stage_entry(spark, manifest, "text_postings")

    tdf_path = os.path.join(out_dir, "text_df")
    merged = (
        spark.read.parquet(tdf_path)
        .unionByName(term_df(delta))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .localCheckpoint(eager=True)  # a lazy plan cannot overwrite its input
    )
    merged.write.mode("overwrite").parquet(tdf_path)
    _refresh_stage_entry(spark, manifest, "text_df")

    stats_path = os.path.join(out_dir, "text_stats")
    old = spark.read.parquet(stats_path).first()
    srow = doc_lengths(new_docs, id_col, text_col).agg(
        F.count(F.lit(1)), F.sum("dl")
    ).first()
    spark.createDataFrame(
        [
            (
                int(old["n_docs"]) + int(srow[0]),
                int(old["sum_dl"] or 0) + int(srow[1] or 0),
            )
        ],
        "n_docs long, sum_dl long",
    ).write.mode("overwrite").parquet(stats_path)
    _refresh_stage_entry(spark, manifest, "text_stats")
    return {
        "text_postings": {"rows": _rows(manifest, "text_postings"), "appended": appended},
        "text_df": {"rows": _rows(manifest, "text_df")},
    }


def load_text_index(spark: SparkSession, out_dir: str):
    """-> (postings DataFrame, df DataFrame, n_docs, sum_dl) for
    ``search.bm25_topk_from_state``."""
    post = spark.read.parquet(os.path.join(out_dir, "text_postings"))
    tdf = spark.read.parquet(os.path.join(out_dir, "text_df"))
    srow = spark.read.parquet(os.path.join(out_dir, "text_stats")).first()
    return post, tdf, int(srow["n_docs"]), int(srow["sum_dl"] or 0)


def load_ivf(spark: SparkSession, out_dir: str):
    """-> (assignment DataFrame, centroid ndarray) for ivf_knn_from_state."""
    cents = _cents_array(spark.read.parquet(os.path.join(out_dir, "ivf_centroids")))
    lists_df = spark.read.parquet(os.path.join(out_dir, "ivf_lists"))
    return lists_df, cents


def load_graph_edges(spark: SparkSession, out_dir: str) -> DataFrame:
    """The (node, nbr, dist) edge snapshot persisted by
    ``build_graph_pipeline`` — plain parquet, no special reader knobs
    (edges are narrow rows, unlike the MB-sized tree blobs)."""
    return spark.read.parquet(os.path.join(out_dir, "graph_edges"))


@contextmanager
def load_trees(spark: SparkSession, out_dir: str):
    """Context-managed blob-table reader.

    Blob rows are MB-sized: the default 4096-row columnar read batch would
    materialize GBs per read task, so the scan reads
    ``TREE_READ_BATCH_ROWS`` rows per batch (``columnarReaderBatchSize``).
    That knob is session-wide (Spark has no per-relation override), so this
    helper SCOPES it: set on enter, restored on exit — consume (execute)
    the yielded DataFrame inside the ``with`` block. A bare setter here
    would silently degrade every later parquet read in the session.

    The scan takes the blob writer's schema (``index_build.TREE_SCHEMA``)
    instead of inferring it from the files, so opening the table starts no
    Spark job.
    """
    key = "spark.sql.parquet.columnarReaderBatchSize"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(TREE_READ_BATCH_ROWS))
    try:
        yield spark.read.schema(index_build.TREE_SCHEMA).parquet(os.path.join(out_dir, "trees"))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def build_dedup_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Persisted dedup state — the incremental-curation counterpart of the
    index appends: a recrawl dedups each NEW batch against everything seen
    so far without re-shingling history.  Three Manifest stages under ONE
    params key:

    - ``dedup_sha``      (h, canonical_id, n_docs): exact byte-identity
      state — min doc id + count per sha256(text).  Vocabulary of contents,
      corpus-bounded.
    - ``dedup_shingles`` (did, sh, n_sh): per-doc shingle sets (the exact-
      Jaccard verification side).  Per-doc independent => parquet-appendable.
    - ``dedup_bands``    (did, band, key): the MinHash-LSH bucket index
      rows (``dedup._band_rows`` — the SAME key construction as the
      in-session self-join, so append == rebuild bit-for-bit).

    At cluster scale ``dedup_bands`` is the table to bucket by (band, key)
    (Iceberg move; plain parquet here) so a new batch's probe prunes files.
    """
    from countrymaam_spark.functions import text as T
    from countrymaam_spark.operators import dedup as DD

    manifest = Manifest(out_dir)
    params = {
        "n": n, "num_hashes": num_hashes, "bands": bands,
        "id_col": id_col, "text_col": text_col,
    }
    _, sk1 = run_stage(
        spark,
        manifest,
        "dedup_sha",
        lambda: docs.select(
            F.col(id_col).alias("did"), F.sha2(F.col(text_col), 256).alias("h")
        )
        .groupBy("h")
        .agg(F.min("did").alias("canonical_id"), F.count("*").alias("n_docs")),
        params=params,
    )
    sh, sk2 = run_stage(
        spark,
        manifest,
        "dedup_shingles",
        lambda: DD._doc_shingles(docs, id_col, text_col, n),
        params=params,
    )
    _, sk3 = run_stage(
        spark,
        manifest,
        "dedup_bands",
        lambda: DD._band_rows(
            sh.withColumn("sig", T.minhash_sig_vec(F.col("sh"), num_hashes)),
            num_hashes,
            bands,
        ),
        params=params,
    )
    return {
        "dedup_sha": {"rows": _rows(manifest, "dedup_sha"), "skipped": sk1},
        "dedup_shingles": {"rows": _rows(manifest, "dedup_shingles"), "skipped": sk2},
        "dedup_bands": {"rows": _rows(manifest, "dedup_bands"), "skipped": sk3},
    }


def append_dedup_pipeline(
    spark: SparkSession,
    new_docs: DataFrame,
    out_dir: str,
    tau: float = 0.8,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Dedup a NEW batch against the persisted state and fold it in.

    Only the delta is hashed/shingled (at 10^12 docs a rebuild re-shingles
    the world); history is touched through the state tables alone:

    1. exact: the new batch's sha rows probe ``dedup_sha`` — hits are
       byte-identical recrawls of seen content; the state then merges by
       (min canonical, summed count) and overwrites (vocabulary-of-contents
       sized, the ``append_text_pipeline`` df-merge shape).
    2. near: new shingle + band rows parquet-append; the new batch's band
       rows bucket-join the FULL band index (old + new) — never a pair
       matrix — and candidates verify by exact Jaccard against the full
       shingle state.  Result = all near-dup pairs touching >= 1 new doc
       (append == rebuild-restricted, pytest-pinned); written to
       ``dedup_new_pairs`` (per-batch artifact, overwritten each append).

    Doc ids must be NEW (same contract as every append family; the sha
    probe is itself the guard a caller uses to find re-sent content).
    """
    from countrymaam_spark.functions import text as T
    from countrymaam_spark.operators import dedup as DD

    manifest = Manifest(out_dir)
    new_sha = new_docs.select(
        F.col(id_col).alias("did"), F.sha2(F.col(text_col), 256).alias("h")
    ).localCheckpoint(eager=True)

    sha_path = os.path.join(out_dir, "dedup_sha")
    old_sha = spark.read.parquet(sha_path)
    exact_hits = (
        new_sha.join(old_sha.select("h", "canonical_id"), "h")
        .select("did", "canonical_id")
    )
    n_exact = exact_hits.count()
    merged = (
        old_sha.unionByName(
            new_sha.groupBy("h").agg(
                F.min("did").alias("canonical_id"), F.count("*").alias("n_docs")
            )
        )
        .groupBy("h")
        .agg(
            F.min("canonical_id").alias("canonical_id"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
        .localCheckpoint(eager=True)  # a lazy plan cannot overwrite its input
    )
    merged.write.mode("overwrite").parquet(sha_path)
    _refresh_stage_entry(spark, manifest, "dedup_sha")

    new_sh = DD._doc_shingles(new_docs, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    new_sh.write.mode("append").parquet(os.path.join(out_dir, "dedup_shingles"))
    sh_all, sh_appended = _refresh_stage_entry(spark, manifest, "dedup_shingles")

    new_bands = DD._band_rows(
        new_sh.withColumn("sig", T.minhash_sig_vec(F.col("sh"), num_hashes)),
        num_hashes,
        bands,
    ).localCheckpoint(eager=True)
    new_bands.write.mode("append").parquet(os.path.join(out_dir, "dedup_bands"))
    bands_all, _ = _refresh_stage_entry(spark, manifest, "dedup_bands")

    cands = (
        new_bands.select(F.col("did").alias("id_n"), "band", "key")
        .join(bands_all.select(F.col("did").alias("id_o"), "band", "key"), ["band", "key"])
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = DD._verify_jaccard_pairs(
        cands, sh_all.select("did", "sh", "n_sh"), tau
    ).localCheckpoint(eager=True)
    pairs.write.mode("overwrite").parquet(os.path.join(out_dir, "dedup_new_pairs"))
    return {
        "dedup_sha": {"rows": _rows(manifest, "dedup_sha"), "exact_hits": n_exact},
        "dedup_shingles": {"rows": _rows(manifest, "dedup_shingles"), "appended": sh_appended},
        "dedup_bands": {"rows": _rows(manifest, "dedup_bands")},
        "dedup_new_pairs": {"rows": pairs.count()},
    }


def load_dedup_state(spark: SparkSession, out_dir: str):
    """-> (sha DataFrame, shingles DataFrame, bands DataFrame)."""
    return (
        spark.read.parquet(os.path.join(out_dir, "dedup_sha")),
        spark.read.parquet(os.path.join(out_dir, "dedup_shingles")),
        spark.read.parquet(os.path.join(out_dir, "dedup_bands")),
    )


def build_lsh_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    n_tables: int = 8,
    bits: int = 4,
    seed: int = 42,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Save/Load for the LSH family. The hyperplanes themselves are
    seeded-deterministic (recreated from the manifest params — nothing to
    serialize), but the SIGNED CORPUS is the build cost worth saving: at
    10^12 rows re-signing is a full-corpus matmul pass per serving session.
    The signature table persists partitioned by ``tbl`` (within a table,
    bucket by ``key`` at cluster scale); params (n_tables/bits/seed/dim)
    key the stage, so changing any of them invalidates the snapshot instead
    of serving signatures from foreign planes."""
    from countrymaam_spark.operators import ann

    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    manifest = Manifest(out_dir)
    params = {
        "n_tables": int(n_tables), "bits": int(bits), "seed": int(seed),
        "dim": int(dim), "id_col": id_col, "vec_col": vec_col,
    }
    planes = ann._hyperplanes(dim, n_tables, bits, seed)
    _, skipped = run_stage(
        spark,
        manifest,
        "lsh_signatures",
        lambda: corpus.select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).alias("cv"),
            F.posexplode(ann.rp_signature(F.col(vec_col), planes)).alias(
                "tbl", "key"
            ),
        ),
        params=params,
        partition_by=["tbl"],
    )
    return {"lsh_signatures": {"rows": _rows(manifest, "lsh_signatures"), "skipped": skipped}}


def load_lsh(spark: SparkSession, out_dir: str):
    """-> (c_sig, planes): the persisted signature table plus the plane
    tensor recreated from the manifest's build params (bit-identical — the
    generator is a seeded PRNG)."""
    from countrymaam_spark.operators import ann

    manifest = Manifest(out_dir)
    p = manifest.stages["lsh_signatures"]["params"]
    planes = ann._hyperplanes(p["dim"], p["n_tables"], p["bits"], p["seed"])
    c_sig = spark.read.parquet(os.path.join(out_dir, "lsh_signatures")).select(
        "cid", "cv", F.col("tbl").cast("int").alias("tbl"), "key"
    )
    return c_sig, planes


def append_lsh_pipeline(
    spark: SparkSession,
    new_corpus: DataFrame,
    out_dir: str,
) -> dict:
    """Incremental append: sign ONLY the delta with the frozen planes (the
    manifest's params) and parquet-append into the tbl-partitioned
    snapshot. Bit-equivalent to re-signing the full corpus — signatures are
    per-row, so unlike IVF there is not even a drift trade to document."""
    from countrymaam_spark.operators import ann

    manifest = Manifest(out_dir)
    p = manifest.stages["lsh_signatures"]["params"]
    planes = ann._hyperplanes(p["dim"], p["n_tables"], p["bits"], p["seed"])
    delta = new_corpus.select(
        F.col(p["id_col"]).alias("cid"),
        F.col(p["vec_col"]).alias("cv"),
        F.posexplode(ann.rp_signature(F.col(p["vec_col"]), planes)).alias(
            "tbl", "key"
        ),
    )
    path = os.path.join(out_dir, "lsh_signatures")
    delta.write.mode("append").partitionBy("tbl").parquet(path)
    _, appended = _refresh_stage_entry(spark, manifest, "lsh_signatures")
    return {
        "lsh_signatures": {
            "rows": _rows(manifest, "lsh_signatures"), "appended": appended, "skipped": False,
        }
    }
