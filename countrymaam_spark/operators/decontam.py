"""Eval-set decontamination — n-gram overlap between a training corpus and a
benchmark/eval set (the Lee-et-al / GPT-3 appendix-C shape).

Before training, a corpus is scanned for documents that share long token
n-grams with held-out evaluation sets; overlapping documents are dropped (or
down-weighted) so benchmark numbers measure generalization, not
memorization.  The distributed shape is deliberately asymmetric:

1. The EVAL side is tiny (benchmarks are 10^3-10^6 documents).  Its distinct
   L-gram table is built once (`eval_gram_set`), pinned with a
   localCheckpoint, and rides the estimate-gated broadcast into the probe
   join — eval-gram tables overflow the gate only for pathological "eval
   sets" the size of the corpus, where the join degrades to a shuffle
   equi-join and is still O(corpus grams).
2. The CORPUS side reuses the span-dedup gram machinery
   (``dedup._gram_starts``: grams built inside ``transform`` before the
   explode, so the token array never fans out |grams|-fold) and is touched
   exactly once: explode -> hash semi-probe against the eval grams ->
   per-doc aggregation with map-side partials.  No doc-eval pair join ever
   materializes; nothing is corpus x eval.

``covered_tokens`` uses the same fixed-width interval-union identity as
``dup_span_stats`` (sorted starts: each contributes min(L, next - p)), so
``contam_frac`` is the fraction of the document's tokens lying inside some
eval-overlapping gram — the quantity a decontamination pass thresholds on.

Grams are keyed on the raw L-token string (exact; measured faster than
hash-count-then-verify — see ``dedup._dup_starts``).  Oracles mirror every
step in DuckDB over the same gram CTE (``dedup._dup_span_grams_sql``).

Reference tie-in: no counterpart (the reference is an ANN library); this is
the SURVEY §2.2 training-data curation family's cross-corpus member, next to
within-corpus span dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from countrymaam_spark.operators.adaptive import gate_broadcast
from countrymaam_spark.operators.dedup import _dup_span_grams_sql, _gram_starts


def eval_gram_set(
    evals: DataFrame, L: int = 8, id_col: str = "eval_id", text_col: str = "text"
) -> DataFrame:
    """(g,): the distinct L-token grams of the eval set. Benchmark-sized,
    never corpus-sized."""
    _, grams = _gram_starts(evals, L, id_col, text_col)
    return grams.select("g").distinct()


def contamination_stats(
    docs: DataFrame,
    evals: DataFrame | None,
    L: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_grams: DataFrame | None = None,
    eval_grams_rows: int | None = None,
) -> DataFrame:
    """(doc_id, n_tok, n_grams, hit_grams, covered_tokens, contam_frac):
    per-document overlap with the eval set at gram length L.

    A gram occurrence is a *hit* iff its L-token text occurs anywhere in the
    eval set.  Every corpus document gets a row (zeros when clean or shorter
    than L); ``contam_frac`` = covered_tokens / n_tok, rounded 4dp after an
    exact-integer division pair.  Deterministic; no RNG anywhere.

    ``eval_grams`` (+ optional ``eval_grams_rows`` for the broadcast gate)
    lets a deployment pass the PREBUILT pinned gram table of
    :func:`eval_gram_set` — the production regime: benchmarks change rarely,
    so the gram state is built once and every corpus batch pays only the
    probe (the ``bm25_serve_volume`` pattern).  When given, ``evals`` is
    ignored (may be None).
    """
    base, grams = _gram_starts(docs, L, id_col, text_col)
    if eval_grams is None:
        eval_grams = eval_gram_set(evals, L, eval_id_col, text_col).localCheckpoint(
            eager=True
        )
    if eval_grams_rows is None:
        eval_grams_rows = eval_grams.count()
    hits = grams.join(
        gate_broadcast(eval_grams, eval_grams_rows), "g"
    )
    w = Window.partitionBy("did").orderBy("p")
    cov = (
        hits.withColumn("nxt", F.lead("p").over(w))
        .groupBy("did")
        .agg(
            F.count("*").alias("hit_grams"),
            F.sum(
                F.least(F.lit(L), F.coalesce(F.col("nxt") - F.col("p"), F.lit(L)))
            ).alias("covered_tokens"),
        )
    )
    return (
        base.join(cov, "did", "left")
        .select(
            F.col("did").alias(id_col),
            "n_tok",
            F.greatest(F.col("n_tok") - F.lit(L - 1), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("hit_grams"), F.lit(0)).cast("long").alias("hit_grams"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.coalesce(
                F.round(F.col("covered_tokens").cast("double") / F.col("n_tok"), 4),
                F.lit(0.0),
            ).alias("contam_frac"),
        )
    )


def _eval_grams_sql(evals_rel: str, L: int, text_col: str) -> str:
    """Oracle CTE: eg (g,) — the distinct L-grams of the eval relation (no
    positions needed on this side)."""
    from countrymaam_spark.functions import text as T

    toks = T.tokens_sql(text_col)
    return f"""
        ebase AS (
            SELECT {toks} AS toks FROM {evals_rel}
        ), eb2 AS (
            SELECT toks, CAST(len(toks) AS BIGINT) AS n_tok FROM ebase
        ), eg AS (
            SELECT DISTINCT g FROM (
                SELECT unnest(list_transform(range(0, n_tok - {L} + 1),
                       p -> array_to_string(toks[(p+1):(p+{L})], ' '))) AS g
                FROM eb2 WHERE n_tok >= {L}
            )
        )"""


def contamination_stats_sql(
    docs_rel: str,
    evals_rel: str,
    L: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
) -> str:
    return f"""
        WITH {_dup_span_grams_sql(docs_rel, L, id_col, text_col)},
        {_eval_grams_sql(evals_rel, L, text_col)}, d2 AS (
            SELECT grams.did, p,
                   LEAD(p) OVER (PARTITION BY grams.did ORDER BY p) AS nxt
            FROM grams JOIN eg USING (g)
        ), cov AS (
            SELECT did, CAST(COUNT(*) AS BIGINT) AS hit_grams,
                   CAST(SUM(LEAST({L}, COALESCE(nxt - p, {L}))) AS BIGINT) AS covered_tokens
            FROM d2 GROUP BY did
        )
        SELECT b.did AS {id_col}, b.n_tok,
               GREATEST(b.n_tok - {L - 1}, 0) AS n_grams,
               COALESCE(c.hit_grams, 0) AS hit_grams,
               COALESCE(c.covered_tokens, 0) AS covered_tokens,
               COALESCE(ROUND(CAST(c.covered_tokens AS DOUBLE) / b.n_tok, 4), 0.0) AS contam_frac
        FROM b2 b LEFT JOIN cov c USING (did)
    """


def contamination_intervals(
    docs: DataFrame,
    evals: DataFrame | None,
    L: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_grams: DataFrame | None = None,
    eval_grams_rows: int | None = None,
) -> DataFrame:
    """(doc_id, span_start, span_end, n_grams): the MERGED maximal
    eval-overlapping token intervals per document — the rows a span-level
    decontamination pass CUTS (the surgical alternative to dropping whole
    documents, same gaps-and-islands shape as ``dedup.dup_span_intervals``:
    two hit grams merge iff their start gap <= L).  span_end inclusive.
    Only the hit rows (eval-overlap-sized) reach the per-doc window."""
    _, grams = _gram_starts(docs, L, id_col, text_col)
    if eval_grams is None:
        eval_grams = eval_gram_set(evals, L, eval_id_col, text_col).localCheckpoint(
            eager=True
        )
    if eval_grams_rows is None:
        eval_grams_rows = eval_grams.count()
    hits = grams.join(
        gate_broadcast(eval_grams, eval_grams_rows), "g"
    )
    w = Window.partitionBy("did").orderBy("p")
    isl = (
        hits.withColumn("prv", F.lag("p").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prv").isNull() | (F.col("p") - F.col("prv") > L), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        isl.groupBy("did", "island")
        .agg(
            F.min("p").alias("span_start"),
            (F.max("p") + F.lit(L - 1)).alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .select(F.col("did").alias(id_col), "span_start", "span_end", "n_grams")
    )


def contamination_intervals_sql(
    docs_rel: str,
    evals_rel: str,
    L: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
        WITH {_dup_span_grams_sql(docs_rel, L, id_col, text_col)},
        {_eval_grams_sql(evals_rel, L, text_col)}, d2 AS (
            SELECT grams.did, p,
                   LAG(p) OVER (PARTITION BY grams.did ORDER BY p) AS prv
            FROM grams JOIN eg USING (g)
        ), isl AS (
            SELECT did, p,
                   SUM(CASE WHEN prv IS NULL OR p - prv > {L} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY did ORDER BY p
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM d2
        )
        SELECT did AS {id_col}, MIN(p) AS span_start,
               MAX(p) + {L - 1} AS span_end,
               CAST(COUNT(*) AS BIGINT) AS n_grams
        FROM isl GROUP BY did, island
    """


def decontaminate(
    docs: DataFrame,
    evals: DataFrame | None,
    L: int = 8,
    max_frac: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_grams: DataFrame | None = None,
    eval_grams_rows: int | None = None,
) -> DataFrame:
    """The corpus with eval-contaminated documents removed: keep documents
    whose ``contam_frac`` <= max_frac (default 0.0 = drop on ANY shared
    L-gram, the strict GPT-3-style rule). Returns the full input schema.
    ``eval_grams``/``eval_grams_rows`` as in :func:`contamination_stats`."""
    stats = contamination_stats(
        docs,
        evals,
        L,
        id_col,
        text_col,
        eval_id_col,
        eval_grams,
        eval_grams_rows,
    )
    keep = stats.filter(F.col("contam_frac") <= float(max_frac)).select(id_col)
    return docs.join(keep, id_col)


def decontaminate_sql(
    docs_rel: str,
    evals_rel: str,
    L: int = 8,
    max_frac: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    cols: str = "*",
) -> str:
    stats = contamination_stats_sql(
        docs_rel, evals_rel, L, id_col, text_col, eval_id_col
    )
    return f"""
        SELECT {cols} FROM {docs_rel}
        WHERE {id_col} IN (
            SELECT {id_col} FROM ({stats}) WHERE contam_frac <= {max_frac}
        )
    """
