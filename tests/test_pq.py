"""Product-quantization family: full-refine exactness vs the brute oracle
(reference invariant: budget >= corpus => exact,
/root/reference/countrymaam_test.go:212), lossy-budget recall, state
persistence round-trip, frozen-codebook append, and the scan-plan shape."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import ann, pq
from countrymaam_spark.plans import pipeline as P

EMB = "/root/testdata/sf0.001/embeddings.parquet"


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.read.parquet(EMB).cache()


@pytest.fixture(scope="module")
def queries(spark, corpus):
    return (
        corpus.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
        .cache()
    )


def _full(rows):
    return sorted((r["query_id"], r["rk"], r["vec_id"], r["dist"]) for r in rows)


@pytest.fixture(scope="module")
def brute(corpus, queries):
    return _full(ann.brute_knn(corpus, queries, k=5).collect())


def test_pq_full_refine_is_exact_scan_path(spark, corpus, queries, brute):
    """refine >= corpus: the ADC scan passes every id to the exact re-rank,
    so the output is bit-identical to brute force (same fold, same rounding,
    same tie order) — and hence to the driver's DuckDB oracle."""
    got = _full(pq.pq_knn(corpus, queries, k=5, m=8, refine=10**9).collect())
    assert got == brute
    sql = ann.brute_knn_sql(f"'{EMB}'", f"(SELECT * FROM '{EMB}' WHERE vec_id < 8)", k=5)
    want = sorted(tuple(t) for t in duckdb.sql(sql).fetchall())
    assert got == want


def test_pq_chunked_path_matches_scan_path(
    spark, corpus, queries, brute, monkeypatch, shuffle_regime
):
    """MAX_SCAN_QUERIES below |Q| forces the big-Q fallback, which now
    chunks the query set through the same _adc_scan LUT kernel (one code
    table pass per slice) instead of a cartesian pair join: bit-identical
    result at full refine, and NO CartesianProduct anywhere in the plan at
    any |Q| (the old crossJoin fallback degraded to one when the broadcast
    gate declined)."""
    monkeypatch.setattr(pq, "MAX_SCAN_QUERIES", 0)
    got = _full(pq.pq_knn(corpus, queries, k=5, m=8, refine=10**9).collect())
    assert got == brute
    # 8 queries / chunk size 3 -> 3 slices unioned; plan must stay
    # cartesian-free even with the broadcast gate forced off
    monkeypatch.setattr(pq, "MAX_SCAN_QUERIES", 3)
    with shuffle_regime():
        df = pq.pq_knn(corpus, queries, k=5, m=8, refine=10**9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert _full(df.collect()) == brute


def test_pq_caller_supplied_n_queries(spark, corpus, queries, brute):
    """A serving caller that knows its batch size (streaming serve loops
    know their trigger bound) passes n_queries and skips the per-call count
    planning job — results identical."""
    got = _full(
        pq.pq_knn(corpus, queries, k=5, m=8, refine=10**9, n_queries=8).collect()
    )
    assert got == brute


def test_ivf_pq_full_budget_is_exact(spark, corpus, queries, brute):
    got = _full(
        pq.ivf_pq_knn(
            corpus, queries, k=5, n_lists=8, n_probe=8, m=8, refine=10**9
        ).collect()
    )
    assert got == brute


def test_pq_recall_monotone_in_refine(spark, corpus, queries, brute):
    b = {(q, v) for q, _, v, _ in brute}

    def recall(refine):
        got = pq.pq_knn(corpus, queries, k=5, m=8, refine=refine).collect()
        g = {(r["query_id"], r["vec_id"]) for r in got}
        return len(b & g) / len(b)

    r5, r20, r200 = recall(5), recall(20), recall(200)
    assert r5 <= r20 + 1e-9 and r20 <= r200 + 1e-9
    assert r20 >= 0.6  # measured 0.95 on this fixture; generous floor
    assert r200 == 1.0  # 200 candidates on a 500-vector corpus


def test_encode_deterministic_and_m_bytes(spark, corpus):
    books = pq.train_pq(corpus, m=8, sample_n=256, seed=7)
    a = pq.pq_codes(corpus, books).orderBy("cid").collect()
    b = pq.pq_codes(corpus, books).orderBy("cid").collect()
    assert [r["code"] for r in a] == [r["code"] for r in b]
    assert all(len(r["code"]) == 8 for r in a)


def test_decode_reconstruction_is_close(spark, corpus):
    """The reconstruction must be a contraction toward the input: mean
    squared reconstruction error well under the corpus's own variance
    (otherwise the codes carry no signal and ADC degenerates to noise)."""
    books = pq.train_pq(corpus, m=8, sample_n=512, seed=7)
    rows = (
        corpus.select(
            "embedding",
            pq.pq_decode(pq.pq_encode(F.col("embedding"), books), books).alias("rec"),
        )
        .limit(100)
        .collect()
    )
    x = np.array([r["embedding"] for r in rows], dtype=np.float64)
    rec = np.array([r["rec"] for r in rows], dtype=np.float64)
    mse = ((x - rec) ** 2).mean()
    var = x.var(axis=0).mean()
    assert mse < 0.5 * var


def test_pq_pipeline_roundtrip_resume_and_invalidation(spark, corpus, queries, tmp_path):
    out = str(tmp_path / "pqidx")
    rep1 = P.build_pq_pipeline(spark, corpus, out, m=8, sample_n=512, seed=7)
    assert not rep1["pq_books"]["skipped"] and not rep1["pq_codes"]["skipped"]

    codes, books = P.load_pq(spark, out)
    served = _full(
        pq.pq_knn_from_state(codes, books, corpus, queries, k=5, refine=10**9).collect()
    )
    fresh_books = pq.train_pq(corpus, m=8, sample_n=512, seed=7)
    fresh = _full(
        pq.pq_knn_from_state(
            pq.pq_codes(corpus, fresh_books), fresh_books, corpus, queries,
            k=5, refine=10**9,
        ).collect()
    )
    assert served == fresh

    # resume: identical params -> both stages skip
    rep2 = P.build_pq_pipeline(spark, corpus, out, m=8, sample_n=512, seed=7)
    assert rep2["pq_books"]["skipped"] and rep2["pq_codes"]["skipped"]
    # param change -> BOTH stages invalidate together (shared key — the
    # round-3 advisor's staleness class: never serve codes encoded against
    # codebooks trained with different params)
    rep3 = P.build_pq_pipeline(spark, corpus, out, m=4, sample_n=512, seed=7)
    assert not rep3["pq_books"]["skipped"] and not rep3["pq_codes"]["skipped"]


def test_pq_append_frozen_codebooks(spark, corpus, tmp_path):
    """Append encodes the delta against FROZEN codebooks: the appended code
    table is bit-equivalent to encoding the full corpus with those books."""
    out = str(tmp_path / "pqappend")
    base = corpus.filter(F.col("vec_id") < 400)
    delta = corpus.filter(F.col("vec_id") >= 400)
    P.build_pq_pipeline(spark, base, out, m=8, sample_n=512, seed=7)
    rep = P.append_pq_pipeline(spark, delta, out)
    assert rep["pq_codes"]["appended"] == delta.count()

    codes, books = P.load_pq(spark, out)
    want = pq.pq_codes(corpus, books).orderBy("cid").collect()
    got = codes.orderBy("cid").collect()
    assert [(r["cid"], r["code"]) for r in got] == [(r["cid"], r["code"]) for r in want]


def test_pq_scan_plan_shape(spark, corpus, queries):
    """The production serving path: codes flow through ONE mapInPandas scan
    — no nested-loop join of codes x queries anywhere in the plan."""
    books = pq.train_pq(corpus, m=8, sample_n=512, seed=7)
    codes = pq.pq_codes(corpus, books)
    out = pq.pq_knn_from_state(codes, books, corpus, queries, k=5, refine=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_pipeline_roundtrip_and_append(spark, corpus, queries, brute, tmp_path):
    """All three IVF-PQ stages persist under one key; serving from the
    loaded state at full budget is exact; append encodes/assigns the delta
    against FROZEN centroids+codebooks, bit-equivalent to a full encode."""
    out = str(tmp_path / "ivfpq")
    rep = P.build_ivfpq_pipeline(spark, corpus, out, n_lists=8, m=8, sample_n=512, seed=7)
    assert rep["ivfpq_state"]["rows"] == corpus.count()

    state, cents, books = P.load_ivfpq(spark, out)
    got = _full(
        pq.ivf_pq_knn_from_state(
            state, cents, books, corpus, queries, k=5, n_probe=8, refine=10**9
        ).collect()
    )
    assert got == brute

    # resume skips all three; param change invalidates all three
    rep2 = P.build_ivfpq_pipeline(spark, corpus, out, n_lists=8, m=8, sample_n=512, seed=7)
    assert all(rep2[s]["skipped"] for s in rep2)
    rep3 = P.build_ivfpq_pipeline(spark, corpus, out, n_lists=4, m=8, sample_n=512, seed=7)
    assert not any(rep3[s]["skipped"] for s in rep3)

    # append on a fresh build over 4/5 of the corpus
    out2 = str(tmp_path / "ivfpq2")
    base = corpus.filter(F.col("vec_id") < 400)
    delta = corpus.filter(F.col("vec_id") >= 400)
    P.build_ivfpq_pipeline(spark, base, out2, n_lists=8, m=8, sample_n=512, seed=7)
    repa = P.append_ivfpq_pipeline(spark, delta, out2)
    assert repa["ivfpq_state"]["appended"] == delta.count()
    state2, cents2, books2 = P.load_ivfpq(spark, out2)
    want = pq.ivf_pq_state(corpus, cents2, books2).orderBy("cid").collect()
    got2 = state2.select("cid", "list_id", "code").orderBy("cid").collect()
    assert [(r["cid"], r["list_id"], r["code"]) for r in got2] == [
        (r["cid"], r["list_id"], r["code"]) for r in want
    ]


def test_pq_empty_batch_with_n_queries_hint(spark, corpus, monkeypatch):
    """A caller-supplied n_queries > 0 with an actually-empty query table
    (streaming foreachBatch delivers empty micro-batches after restart) must
    return the empty frame on BOTH regimes, not crash in np.stack/parts[0]
    (round-5 advisor, medium)."""
    books = pq.train_pq(corpus, m=8, sample_n=256, seed=42)
    codes = pq.pq_codes(corpus, books)
    empty_q = spark.createDataFrame(
        [], "query_id long, query_vec array<double>"
    )
    monkeypatch.setattr(pq, "MAX_SCAN_QUERIES", 4)
    # collect path (n_queries <= MAX_SCAN_QUERIES)
    out = pq.pq_knn_from_state(
        codes, books, corpus, empty_q, k=5, refine=10, n_queries=3
    )
    assert out.count() == 0
    # chunked path (n_queries > MAX_SCAN_QUERIES)
    out2 = pq.pq_knn_from_state(
        codes, books, corpus, empty_q, k=5, refine=10, n_queries=10
    )
    assert out2.count() == 0


def test_pq_auto_routes_to_ivfpq_at_volume(spark, corpus, queries, brute, monkeypatch):
    """Past PQ_ROUTE_IVF_SLICES chunked passes, pq_knn_from_state with IVF-PQ
    state routes to ivf_pq_knn_from_state (round-5 verdict #4). At full
    budget (refine >= corpus, n_probe >= n_lists) the routed result equals
    the unrouted chunked result equals brute."""
    from countrymaam_spark.operators.ann import _kmeans_centroids

    n = corpus.count()
    books = pq.train_pq(corpus, m=8, sample_n=256, seed=42)
    cents = _kmeans_centroids(corpus, "embedding", 4, 256, 4, 42)
    state = pq.ivf_pq_state(corpus, cents, books)
    codes = pq.pq_codes(corpus, books)

    monkeypatch.setattr(pq, "MAX_SCAN_QUERIES", 1)
    routed = pq.pq_knn_from_state(
        codes, books, corpus, queries, k=5, refine=n,
        n_queries=queries.count(),  # 8 > 20*1? no ->
        ivf_state=state, ivf_cents=cents, ivf_n_probe=4,
    )
    # 8 queries, MAX_SCAN_QUERIES=1 -> 8 slices < 20: must NOT route
    assert _full(routed.collect()) == brute

    monkeypatch.setattr(pq, "PQ_ROUTE_IVF_SLICES", 0)
    routed2 = pq.pq_knn_from_state(
        codes, books, corpus, queries, k=5, refine=n,
        n_queries=queries.count(),
        ivf_state=state, ivf_cents=cents, ivf_n_probe=4,
    )
    # 8 slices > 0: routes to IVF-PQ; full budget => identical to brute
    assert _full(routed2.collect()) == brute
