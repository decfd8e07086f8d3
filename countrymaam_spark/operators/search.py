"""BM25 full-text retrieval over the documents table: inverted-index build
(postings / document-frequency / length tables) + top-k serving.

This is the text-retrieval sibling of the repo's ANN serving paths: the
reference builds an index once and serves batched top-k queries against it
(``/root/reference/countrymaam.go:41-86`` Search/SearchChannel contract,
``cmd/countrymaam/main.go:228-311`` predict loop); here the "index" is the
classic inverted index and the score is BM25 instead of a vector distance.
The serving shape is identical to ``knn_flat``/``cell_knn``: candidate
generation by key join, exact re-rank, global top-k per query.

Shape at scale (10^12 pages):

- **Postings build** — tokenize (JVM ``split``, no Python), ``explode``,
  ``groupBy(doc_id, term)``.  The map-side combine collapses each task's
  token stream to its local (doc, term) histogram before the one hash
  exchange, so the shuffle carries distinct (doc, term) pairs, not token
  occurrences.  Document length rides along from the same tokens array
  (denormalized into the postings row), so serving never joins the
  corpus-sized lengths table.
- **Document frequency** — a term-keyed aggregation over postings;
  vocab-bounded output.
- **Serving** — the query-term table is tiny (|queries| x |terms/query|)
  and is BROADCAST: it prunes the postings scan to candidate rows at the
  join, exactly like the cell-ring candidate join in ``cell_knn``.  The df
  side is semi-pruned to the query's terms first (vocab rows -> |terms|
  rows) and broadcast too.  Per-(query, doc) scores then partial-aggregate
  before one hash exchange on (query_id, doc_id), and the rank filter
  compiles to WindowGroupLimit (~k rows per query cross the final, tiny
  exchange).  No BroadcastNestedLoopJoin anywhere: the two corpus stats
  (N, sum dl) are index state — one bounded 1-row collect at plan time,
  inlined as literals (a constant-key join folds back into a nested-loop
  cross join under Catalyst's constant propagation).
- **Query-side volume** — the broadcast side is the query TERM table, not
  the corpus; at millions of queries per batch the adaptive gate
  (``operators/adaptive.py``) decides broadcast vs shuffle, same as the
  ANN serving paths.

Determinism (oracle bit-parity): per-term BM25 contributions are rounded
to integer MICRO-units (1e-6) *before* the sum, so the document score
accumulates in exact BIGINT arithmetic in any partitioning / reduce order;
ranking ties break on doc_id.  The only float ops (ln, one divide chain)
are written with the identical expression tree in the DuckDB mirror.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from countrymaam_spark.functions import text as T
from countrymaam_spark.operators.adaptive import gate_broadcast

K1 = 1.2
B = 0.75


def tokenize_query(q: str) -> list[str]:
    """Python twin of functions.text.tokens — same regex, lowercased,
    empties dropped, DEDUPED (query tf is 1; standard bag-of-words BM25
    with unit query weights)."""
    seen: dict[str, None] = {}
    for t in re.split(T.TOKEN_SPLIT_RE, q.lower()):
        if t:
            seen.setdefault(t, None)
    return list(seen)


def doc_lengths(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, dl): total token count per document. Narrow projection."""
    return docs.select(
        F.col(id_col).alias("doc_id"), T.token_count(F.col(text_col)).alias("dl")
    )


def build_postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Inverted-index postings: (term, doc_id, tf, dl).

    dl is denormalized from the same tokens array so serving never joins
    the lengths table.  One shuffle keyed (doc_id, term) with map-side
    combine; output rows = distinct (doc, term) pairs.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        T.tokens(F.col(text_col)).alias("toks"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        F.explode("toks").alias("term"),
    )
    return (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl"))
        .select("term", "doc_id", F.col("tf").cast("long").alias("tf"), "dl")
    )


def term_df(postings: DataFrame) -> DataFrame:
    """(term, df): document frequency. Vocab-bounded term-keyed agg."""
    return postings.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))


def _query_table(spark: SparkSession, queries: list[tuple[int, str]]) -> DataFrame:
    rows = [(int(qid), t) for qid, q in queries for t in tokenize_query(q)]
    return spark.createDataFrame(rows, "query_id long, term string")


def bm25_topk(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k BM25 retrieval: -> (query_id, rk, doc_id, score_micro).

    score_micro = SUM over matched terms of
    round(1e6 * idf(term) * tf_norm(term, doc)) as BIGINT — exact integer
    accumulation, any reduce order.  idf = ln(1 + (N - df + .5)/(df + .5))
    (Robertson-Sparck-Jones, always positive); tf_norm is the standard
    k1/b saturation.  Ties: (score_micro DESC, doc_id ASC).
    Unseen query terms drop at the df inner join (standard BM25).
    """
    # tokenize the corpus ONCE: the postings table is pinned (localCheckpoint)
    # and every consumer — the candidate join, term_df, and the corpus stats —
    # reads the materialized rows. The lazy form re-tokenized the corpus three
    # times (plan-verified: two full scan->explode->groupBy subtrees plus the
    # doc_lengths stats job). In a deployed index this materialization IS the
    # persisted postings snapshot (build_text_pipeline); the one-shot path now
    # matches that shape.
    post = build_postings(docs).localCheckpoint(eager=True)
    # corpus stats (N, sum of lengths): ONE bounded 1-row collect at plan
    # time.  In a deployed index these two numbers are part of the persisted
    # index state (build_text_pipeline's text_stats stage, like the IVF
    # centroid counts); inlining them as literals keeps the serving plan
    # join-free here — the constant-key alternative folds back into a
    # nested-loop cross join under Catalyst's constant propagation.
    # ONE stats job (count + sum of lengths together); this is the only
    # remaining tokenize of the raw docs besides the postings build itself
    # (n_docs must count token-less docs too, so it cannot come from `post`).
    srow = doc_lengths(docs).agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).first()
    n_docs, sum_dl = int(srow[0]), int(srow[1] or 0)
    return bm25_topk_from_state(
        spark, post, term_df(post), n_docs, sum_dl, queries,
        k=k, k1=k1, b=b,
    )


def bm25_topk_from_state(
    spark: SparkSession,
    post: DataFrame,
    tdf: DataFrame,
    n_docs: int,
    sum_dl: int,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Serve BM25 from PERSISTED index state (postings + df tables from
    ``plans.pipeline.build_text_pipeline`` and the two stats scalars): the
    deployment path — the corpus is tokenized once at build; queries join
    the stored postings.  Same result as ``bm25_topk`` (pytest-pinned)."""
    if n_docs == 0:
        return spark.createDataFrame(
            [], "query_id long, rk long, doc_id long, score_micro long"
        )
    qt = _query_table(spark, queries)
    # the caller hands us the query batch, so its size is known exactly —
    # the gate threads it through without any count job
    n_qt = sum(len(tokenize_query(q)) for _, q in queries)

    # df restricted to the query's terms: vocab rows -> |query terms| rows
    dfq = tdf.join(
        gate_broadcast(qt.select("term").distinct(), n_qt), "term"
    )

    cand = post.join(gate_broadcast(qt, n_qt), "term").join(
        gate_broadcast(dfq, n_qt), "term"
    )
    return _score_and_rank(cand, n_docs, sum_dl, k, k1, b)


def _score_and_rank(
    cand: DataFrame, n_docs: int, sum_dl: int, k: int, k1: float, b: float
) -> DataFrame:
    """Shared scoring tail: per-term micro contributions -> exact BIGINT
    sum -> WindowGroupLimit top-k with (score DESC, doc_id ASC) ties."""
    n_d = F.lit(float(n_docs))
    df_d = F.col("df").cast("double")
    # same IEEE division the oracle performs on its own (identical) stats
    avgdl = F.lit(float(sum_dl) / float(n_docs))
    idf = F.log(F.lit(1.0) + (n_d - df_d + F.lit(0.5)) / (df_d + F.lit(0.5)))
    tf_d = F.col("tf").cast("double")
    dl_d = F.col("dl").cast("double")
    tfn = (tf_d * F.lit(k1 + 1.0)) / (
        tf_d + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (dl_d / avgdl))
    )
    micro = F.round(idf * tfn * F.lit(1000000.0), 0).cast("long")

    scored = (
        cand.select("query_id", "doc_id", micro.alias("c_micro"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c_micro").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= int(k))
        .select("query_id", "rk", "doc_id", "score_micro")
    )


def bm25_topk_df(
    spark: SparkSession,
    post: DataFrame,
    tdf: DataFrame,
    n_docs: int,
    sum_dl: int,
    queries_df: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 over a query DATAFRAME (query_id, qtext) — the streaming-serve
    form: query tokenization runs in Spark (same JVM split as the corpus
    side, ``array_distinct`` = the list API's dedupe), so a micro-batch of
    queries never collects to the driver.  The broadcast estimate is one
    tiny count on the exploded query-term table (never the corpus).
    Results are identical to ``bm25_topk`` on the same (id, text) pairs
    (pytest-pinned)."""
    qt = queries_df.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.explode(F.array_distinct(T.tokens(F.col("qtext")))).alias("term"),
    )
    n_qt = qt.count()
    if n_docs == 0 or n_qt == 0:
        return spark.createDataFrame(
            [], "query_id long, rk long, doc_id long, score_micro long"
        )
    dfq = tdf.join(
        gate_broadcast(qt.select("term").distinct(), n_qt), "term"
    )
    cand = post.join(gate_broadcast(qt, n_qt), "term").join(
        gate_broadcast(dfq, n_qt), "term"
    )
    return _score_and_rank(cand, n_docs, sum_dl, k, k1, b)


def bm25_topk_sql(
    docs_rel: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> str:
    """DuckDB oracle: the identical pipeline — same tokenizer, same
    expression tree, same micro-unit rounding, same tie-break."""
    qrows = ", ".join(
        f"({int(qid)}, '{t}')" for qid, q in queries for t in tokenize_query(q)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(len({T.tokens_sql('text')}) AS BIGINT) AS dl,
                   unnest({T.tokens_sql('text')}) AS term
            FROM {docs_rel}
        ),
        post AS (
            SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
                   CAST(MIN(dl) AS BIGINT) AS dl
            FROM toks GROUP BY term, doc_id
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS BIGINT) AS sum_dl
            FROM (SELECT doc_id, CAST(len({T.tokens_sql('text')}) AS BIGINT) AS dl
                  FROM {docs_rel})
        ),
        tdf AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM post GROUP BY term
        ),
        q(query_id, term) AS (VALUES {qrows}),
        cand AS (
            SELECT q.query_id, post.doc_id,
                   CAST(round(
                       ln(1.0 + (CAST(stats.n_docs AS DOUBLE) - CAST(tdf.df AS DOUBLE) + 0.5)
                                / (CAST(tdf.df AS DOUBLE) + 0.5))
                       * ((CAST(post.tf AS DOUBLE) * {k1 + 1.0!r})
                          / (CAST(post.tf AS DOUBLE)
                             + {k1!r} * ({1.0 - b!r} + {b!r}
                                 * (CAST(post.dl AS DOUBLE)
                                    / (CAST(stats.sum_dl AS DOUBLE)
                                       / CAST(stats.n_docs AS DOUBLE))))))
                       * 1000000.0
                   ) AS BIGINT) AS c_micro
            FROM post
            JOIN q ON post.term = q.term
            JOIN tdf ON post.term = tdf.term
            CROSS JOIN stats
        ),
        scored AS (
            SELECT query_id, doc_id, CAST(SUM(c_micro) AS BIGINT) AS score_micro
            FROM cand GROUP BY query_id, doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(rk AS BIGINT) AS rk, doc_id, score_micro
        FROM (
            SELECT query_id, doc_id, score_micro,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score_micro DESC, doc_id ASC
                   ) AS rk
            FROM scored
        ) r
        WHERE rk <= {int(k)}
    """
