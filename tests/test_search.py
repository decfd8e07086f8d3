"""BM25 retrieval: exact semantics vs an independent pure-Python scorer,
bit-parity vs the DuckDB oracle, and the serving-plan invariants (no
nested-loop join, WindowGroupLimit top-k, gated query-side broadcast)."""

import math
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from countrymaam_spark.operators import search as S

DOCS = "/root/testdata/sf0.001/documents.parquet"

QUERIES = [
    (0, "hash join fast"),
    (1, "customer order line"),
    (2, "stream window watermark"),  # watermark is unseen in the fixture
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(DOCS).cache()


def _py_bm25(rows, queries, k=10, k1=S.K1, b=S.B):
    """Independent scorer: plain dicts, same micro-unit rounding."""
    toks = {
        did: [t for t in re.split(S.T.TOKEN_SPLIT_RE, text.lower()) if t]
        for did, text in rows
    }
    n = len(toks)
    avgdl = sum(len(ts) for ts in toks.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    out = []
    for qid, q in queries:
        scores = {}
        for term in S.tokenize_query(q):
            if term not in df:
                continue
            idf = math.log(1.0 + (n - df[term] + 0.5) / (df[term] + 0.5))
            for did, ts in toks.items():
                tf = ts.count(term)
                if not tf:
                    continue
                tfn = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * (len(ts) / avgdl)))
                scores[did] = scores.get(did, 0) + int(
                    round(idf * tfn * 1_000_000.0)
                )
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out.extend((qid, rk + 1, did, sc) for rk, (did, sc) in enumerate(ranked))
    return set(out)


def test_bm25_matches_python_scorer(spark):
    rows = [
        (1, "spark join hash join fast"),
        (2, "slow scan of a big table"),
        (3, "hash table hash hash"),
        (4, "join order and sort merge join"),
        (5, "nothing relevant here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        tuple(r)
        for r in S.bm25_topk(spark, docs, QUERIES, k=10).collect()
    }
    assert got == _py_bm25(rows, QUERIES, k=10)


def test_bm25_matches_oracle(spark, docs):
    got = {tuple(r) for r in S.bm25_topk(spark, docs, QUERIES, k=10).collect()}
    want = set(duckdb.sql(S.bm25_topk_sql(f"'{DOCS}'", QUERIES, k=10)).fetchall())
    assert got == want
    # query 2 still matches on its seen terms; a fully-unseen query would
    # simply contribute no rows
    assert any(r[0] == 2 for r in got)


def test_bm25_all_unseen_query_returns_no_rows(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    out = S.bm25_topk(spark, docs, [(7, "zzz qqq")], k=5).collect()
    assert out == []


def test_bm25_plan_invariants(spark, docs):
    """Serving plan: broadcast regime by default (tiny query-term table),
    WindowGroupLimit for the top-k, and NEVER a nested-loop join — the
    1-row stats join must ride a constant equi-key hash join."""
    plan = (
        S.bm25_topk(spark, docs, QUERIES, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_shuffle_regime_same_rows(spark, docs, shuffle_regime):
    """The forced at-volume regime: the query-term joins become shuffle
    equi-joins (still no nested loop) and the result set is identical."""
    base = {tuple(r) for r in S.bm25_topk(spark, docs, QUERIES, k=10).collect()}
    with shuffle_regime():
        forced = S.bm25_topk(spark, docs, QUERIES, k=10)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = {tuple(r) for r in forced.collect()}
    assert got == base


def test_text_pipeline_roundtrip_and_resume(spark, docs, tmp_path_factory):
    """Persisted index serves identically to the in-session build; a rerun
    resumes every stage; a params change invalidates ALL stages together."""
    from countrymaam_spark.plans import pipeline as P

    out = str(tmp_path_factory.mktemp("text_idx"))
    r1 = P.build_text_pipeline(spark, docs, out)
    assert all(not v["skipped"] for v in r1.values())

    post, tdf, n_docs, sum_dl = P.load_text_index(spark, out)
    served = {
        tuple(r)
        for r in S.bm25_topk_from_state(
            spark, post, tdf, n_docs, sum_dl, QUERIES, k=10
        ).collect()
    }
    direct = {tuple(r) for r in S.bm25_topk(spark, docs, QUERIES, k=10).collect()}
    assert served == direct

    r2 = P.build_text_pipeline(spark, docs, out)
    assert all(v["skipped"] for v in r2.values())

    # tokenize a different column -> every stage rebuilds (shared params key)
    docs2 = docs.withColumn("text2", F.col("text"))
    r3 = P.build_text_pipeline(spark, docs2, out, text_col="text2")
    assert all(not v["skipped"] for v in r3.values())


def test_bm25_df_queries_match_list_queries(spark, docs):
    """The DataFrame-queries (streaming-serve) form equals the list form."""
    from countrymaam_spark.plans import pipeline as P

    post = S.build_postings(docs)
    tdf = S.term_df(post)
    srow = S.doc_lengths(docs).agg(F.count(F.lit(1)), F.sum("dl")).first()
    qdf = spark.createDataFrame(
        [(q, t) for q, t in QUERIES], "query_id long, qtext string"
    )
    got = {
        tuple(r)
        for r in S.bm25_topk_df(
            spark, post, tdf, int(srow[0]), int(srow[1]), qdf, k=10
        ).collect()
    }
    want = {tuple(r) for r in S.bm25_topk(spark, docs, QUERIES, k=10).collect()}
    assert got == want


def test_text_pipeline_append_equals_rebuild(spark, docs, tmp_path_factory):
    """Build on half the corpus, append the other half: serving from the
    appended state is bit-equivalent to building on the full corpus."""
    from countrymaam_spark.plans import pipeline as P

    out = str(tmp_path_factory.mktemp("text_idx_append"))
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    P.build_text_pipeline(spark, first, out)
    r = P.append_text_pipeline(spark, second, out)
    assert r["text_postings"]["appended"] > 0

    post, tdf, n_docs, sum_dl = P.load_text_index(spark, out)
    got = {
        tuple(x)
        for x in S.bm25_topk_from_state(
            spark, post, tdf, n_docs, sum_dl, QUERIES, k=10
        ).collect()
    }
    want = {tuple(x) for x in S.bm25_topk(spark, docs, QUERIES, k=10).collect()}
    assert got == want

    # the refreshed manifest accepts the appended snapshot: no rebuild
    r2 = P.build_text_pipeline(spark, docs, out)  # same params key
    assert all(v["skipped"] for v in r2.values())
