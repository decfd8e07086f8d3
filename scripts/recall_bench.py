"""Recall@10-vs-budget curves — the reference's headline artifact (its
README publishes recall-vs-qps plots; the ann-benchmarks grids in
benchmark/ann-benchmarks/patch_algos.yaml sweep search_k / trees / leafs)
measured for EVERY indexed serving path against the exact flat oracle, with
queries/s at each budget point.

Index state is built ONCE per family and cached; each budget point times
SERVING only (min of REPEATS warmed runs — this box drifts 2-8x on identical
kernels, see BENCH.md). Writes the tables to RECALL.md; BENCH.md curates.

Usage: python scripts/recall_bench.py [sf_dir] (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from countrymaam_spark.operators import ann, index_build  # noqa: E402
from countrymaam_spark.operators import graph as G  # noqa: E402
from countrymaam_spark.operators.geotag import extract_geo  # noqa: E402
from countrymaam_spark.operators.knn import flat_knn, reverse_knn  # noqa: E402
from countrymaam_spark.session import get_spark  # noqa: E402
from countrymaam_spark.sources import pages as PG  # noqa: E402

REPEATS = 2


def timed(fn):
    """(result_set, best_seconds) over REPEATS runs (first run warms)."""
    best = float("inf")
    res = None
    for _ in range(max(1, REPEATS)):
        t0 = time.monotonic()
        res = fn()
        best = min(best, time.monotonic() - t0)
    return res, best


def pairs(df, id_col):
    return {(r["query_id"], r[id_col]) for r in df.collect()}


def sweep(title, exact, n_q, rows):
    out = [f"### {title}", "", "| budget | recall@10 | queries/s | sec |", "|---|---|---|---|"]
    # return the FINAL row's recall, not the max across rows: every
    # `assert last == 1.0` pins the full-budget row specifically, and a
    # max would let a lucky partial-budget row mask a broken full row
    # (round-5 advisor, low)
    last = -1.0
    for label, fn in rows:
        got, sec = timed(lambda f=fn: pairs(*f()))
        rec = len(got & exact) / len(exact)
        out.append(f"| {label} | {rec:.3f} | {n_q / sec:.0f} | {sec:.2f} |")
        print(out[-1], flush=True)
        last = rec
    out.append("")
    return out, last


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark(shuffle_partitions=os.cpu_count())
    md = [
        "# RECALL — recall@10 vs budget (generated by scripts/recall_bench.py)",
        "",
        f"Input: `{sf_dir}`, {spark.sparkContext.master}, serving-only timings "
        f"(state built once per family), min of {REPEATS} warmed runs.",
        "",
    ]

    # ---- geo families: tree index + cell index vs flat oracle -------------
    geo = (
        extract_geo(PG.load_pages(spark, sf_dir))
        .filter(F.col("lat").isNotNull())
        .select("url", "lat", "lon")
        .localCheckpoint(eager=True)
    )
    q_geo = PG.load_knn_queries(spark, sf_dir).localCheckpoint(eager=True)
    n_q = q_geo.count()
    exact_geo = pairs(flat_knn(geo, q_geo, k=10), "url")
    md += [f"Geo corpus: {geo.count()} pages, {n_q} queries.", ""]

    cells = index_build.salt_hot_cells(
        index_build.encode_pages(geo, res=7, parent_res=4), target_group_rows=5000
    )
    trees = index_build.build_tree_blobs(cells, seed=42).localCheckpoint(eager=True)
    tree_rows = [
        (f"search_k={sk}, ring=1", lambda sk=sk: (
            index_build.knn_tree(trees, q_geo, k=10, search_k=sk, ring=1), "url"))
        for sk in (2, 8, 32, 128)
    ] + [
        ("search_k=4096, ring=2", lambda: (
            index_build.knn_tree(trees, q_geo, k=10, search_k=4096, ring=2), "url")),
        ("full (ring=None, search_k=10^9)", lambda: (
            index_build.knn_tree(trees, q_geo, k=10, search_k=10**9, ring=None), "url")),
    ]
    t, last = sweep("knn_tree (budget: search_k leaves/blob, ring of parents)",
                    exact_geo, n_q, tree_rows)
    md += t
    assert last == 1.0, "full-budget tree row must be exact"

    md += [
        "`cell_knn` is exact and has no budget; `knn_tree` is the budgeted geo path.",
        "",
    ]

    # ---- embedding families: IVF / LSH / graph vs brute oracle ------------
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).localCheckpoint(
        eager=True
    )
    q_emb = (
        emb.filter(F.col("vec_id") < 200)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .localCheckpoint(eager=True)
    )
    n_qe = q_emb.count()
    exact_emb = pairs(ann.brute_knn(emb, q_emb, k=10), "vec_id")
    md += [f"Embedding corpus: {emb.count()} vectors, {n_qe} queries.", ""]

    n_lists = 16
    cents = ann._kmeans_centroids(emb, "embedding", n_lists, 2048, 8, 42)
    c_lists = ann.ivf_assignments(emb, cents).localCheckpoint(eager=True)
    ivf_rows = [
        (f"n_probe={p}", lambda p=p: (
            ann.ivf_knn_from_state(c_lists, cents, q_emb, k=10, n_probe=p), "vec_id"))
        for p in (1, 2, 4, 8, 16)
    ]
    t, last = sweep(f"IVF (n_lists={n_lists}; budget: n_probe)", exact_emb, n_qe, ivf_rows)
    md += t
    assert last == 1.0, "n_probe=n_lists must be exact"

    lsh_rows = [
        (f"n_tables={nt}", lambda nt=nt: (
            ann.rp_lsh_knn(emb, q_emb, k=10, n_tables=nt, bits=4), "vec_id"))
        for nt in (1, 2, 4, 8, 16)
    ] + [
        ("n_tables=8, bits=1 (full)", lambda: (
            ann.rp_lsh_knn(emb, q_emb, k=10, n_tables=8, bits=1), "vec_id")),
    ]
    t, _ = sweep("RP-LSH (bits=4; budget: n_tables; bits shrink -> exact)",
                 exact_emb, n_qe, lsh_rows)
    md += t

    mp_rows = [
        (f"n_tables=8, n_probes={p}", lambda p=p: (
            ann.rp_lsh_knn(emb, q_emb, k=10, n_tables=8, bits=4, n_probes=p),
            "vec_id"))
        for p in (1, 2, 3, 5)
    ]
    t, _ = sweep(
        "RP-LSH multi-probe (8 tables, bits=4; budget: n_probes — "
        "same recall as 2-3x more tables, i.e. a 2-3x smaller signed corpus)",
        exact_emb, n_qe, mp_rows)
    md += t

    from countrymaam_spark.operators import pq as PQ

    books = PQ.train_pq(emb, m=8, sample_n=2048, seed=42)
    codes = PQ.pq_codes(emb, books).localCheckpoint(eager=True)
    n_emb = emb.count()
    pq_rows = [
        (f"refine={r}", lambda r=r: (
            PQ.pq_knn_from_state(codes, books, emb, q_emb, k=10, refine=r), "vec_id"))
        for r in (10, 20, 50, 200)
    ] + [
        (f"refine={n_emb} (full)", lambda: (
            PQ.pq_knn_from_state(codes, books, emb, q_emb, k=10, refine=n_emb),
            "vec_id")),
    ]
    t, last = sweep("PQ (m=8, 8-byte codes; budget: refine = exact-rerank width)",
                    exact_emb, n_qe, pq_rows)
    md += t
    assert last == 1.0, "refine=corpus must be exact"

    edges = G.nn_descent(emb, k=15, max_iter=10, seed=42).localCheckpoint(eager=True)
    graph_rows = [
        (f"beam={b}, hops=6", lambda b=b: (
            G.graph_knn(emb, edges, q_emb, k=10, entries_num=10, beam=b, max_hops=6),
            "vec_id"))
        for b in (2, 8, 32)
    ] + [
        ("beam=8, hops=2", lambda: (
            G.graph_knn(emb, edges, q_emb, k=10, entries_num=10, beam=8, max_hops=2),
            "vec_id")),
    ]
    t, _ = sweep("graph walk (AKNN edges; budget: beam x max_hops)",
                 exact_emb, n_qe, graph_rows)
    md += t

    # ---- IVF-PQ: the two budget axes compose (n_probe lists scanned x
    # refine exact-rerank width); full budget on both => exact ---------------
    state = PQ.ivf_pq_state(emb, cents, books).localCheckpoint(eager=True)
    ivfpq_rows = [
        (f"n_probe={p}, refine={r}", lambda p=p, r=r: (
            PQ.ivf_pq_knn_from_state(
                state, cents, books, emb, q_emb, k=10, n_probe=p, refine=r),
            "vec_id"))
        for (p, r) in ((1, 50), (2, 50), (4, 50), (8, 50), (n_lists, 200))
    ] + [
        (f"n_probe={n_lists}, refine={n_emb} (full)", lambda: (
            PQ.ivf_pq_knn_from_state(
                state, cents, books, emb, q_emb, k=10,
                n_probe=n_lists, refine=n_emb),
            "vec_id")),
    ]
    t, last = sweep(
        f"IVF-PQ (n_lists={n_lists}, m=8; budget: n_probe x refine)",
        exact_emb, n_qe, ivfpq_rows)
    md += t
    assert last == 1.0, "n_probe=n_lists + refine=corpus must be exact"

    # ---- reverse kNN: target_mod corpus-slice sweep (the progressive-
    # backfill budget: 1/mod of targets answer; full slice => exact).
    # Runs on a deterministic ~1/10 page slice: the operator's inner
    # knn_join makes EVERY corpus page a query, and the full-slice anchor
    # at 200k targets OOMs the 8g bench heap (checkpoint blocks from the
    # preceding families + the 200k-query probe state) — the budget-recall
    # property is corpus-size-independent, so the slice loses nothing. ----
    geo_rev = geo.filter(F.xxhash64("url") % 10 == 0).localCheckpoint(
        eager=True
    )
    md += [f"Reverse-kNN target corpus: {geo_rev.count()} pages "
           f"(deterministic 1/10 slice), {n_q} queries.", ""]
    # INDEPENDENT exact anchor (round-5 advisor, low — the former anchor was
    # the identical reverse_knn call as the sweep's full row, a tautology):
    # derive the influence pairs from flat_knn — per target, the 10th-other
    # distance (self removed by the same portable hash, re-ranked in the
    # same (dist, url) order), then the <=-radius filter at the engine's
    # 6-dp contract; targets lacking 10 others match every query.
    from pyspark.sql import Window as _W

    from countrymaam_spark.functions import geo as _geoF
    from countrymaam_spark.functions import text as _T

    _qh = _T.tok_hash(F.concat(F.lit("kj0"), F.col("url")))
    _raw = flat_knn(
        geo_rev, geo_rev.select(_qh.alias("query_id"), "lat", "lon"), k=11
    )
    _radii = (
        _raw.filter(
            _T.tok_hash(F.concat(F.lit("kj0"), F.col("url"))) != F.col("query_id")
        )
        .withColumn(
            "nrk", F.row_number().over(_W.partitionBy("query_id").orderBy("rk"))
        )
        .filter(F.col("nrk") == 10)
        .select(F.col("query_id").alias("tid"), F.col("dist_km").alias("radius"))
    )
    _tgt = geo_rev.select(
        _qh.alias("tid"), F.col("url").alias("turl"),
        F.col("lat").alias("tlat"), F.col("lon").alias("tlon"),
    )
    _qp = q_geo.select(
        "query_id", F.col("lat").alias("qlat"), F.col("lon").alias("qlon")
    )
    rk_exact = {
        (r["query_id"], r["turl"])
        for r in (
            _tgt.join(_radii, "tid", "left")
            .crossJoin(_qp)
            .withColumn(
                "d",
                F.round(
                    _geoF.haversine_km(
                        F.col("tlat"), F.col("tlon"),
                        F.col("qlat"), F.col("qlon"),
                    ),
                    6,
                ),
            )
            .filter(F.col("radius").isNull() | (F.col("d") <= F.col("radius")))
            .select("query_id", "turl")
            .collect()
        )
    }
    rk_rows = [
        (f"target_mod={m} (1/{m} targets)", lambda m=m: (
            reverse_knn(geo_rev, q_geo, k=10, res=7, target_mod=m), "url"))
        for m in (8, 4, 2)
    ] + [
        ("target_mod=None (full)", lambda: (
            reverse_knn(geo_rev, q_geo, k=10, res=7), "url")),
    ]
    t, last = sweep(
        "reverse kNN (influence-set pairs recovered; budget: target_mod "
        "deterministic corpus slice — recall ~ 1/mod of exact pairs)",
        rk_exact, n_q, rk_rows)
    md += t
    assert last == 1.0, "full-slice reverse kNN must be exact"

    with open(os.path.join(REPO, "RECALL.md"), "w") as f:
        f.write("\n".join(md) + "\n")
    print("wrote RECALL.md")


if __name__ == "__main__":
    main()
