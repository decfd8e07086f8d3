"""Corpus-unigram rarity scoring — the perplexity-filter shape in exact
integer arithmetic.

CCNet-style quality filtering scores each document under a language model
trained on the corpus (or a reference corpus) and keeps the low-perplexity
band.  The distributed shape is: one pass to train the unigram table, one
pass to score every document against it.  This module keeps that exact
shape but replaces ``-log p(tok)`` with the integer inverse-frequency weight

    w(tok) = total_tokens div count(tok)        (>= 1, exact BIGINT)

so that the per-document score ``sum_w`` is an exact integer in both engines
and the DuckDB oracle is bit-identical regardless of partitioning or
summation order.  A float ``-log p`` differs in the last ulp between JVM and
DuckDB ``ln`` and per-token rounding can flip on boundary values; the
integer weight carries the same monotone signal (rare tokens >> common
tokens, scores comparable across documents) with none of that risk.  The
single IEEE division ``rarity = sum_w / n_toks`` of two exact integers is
deterministic, then rounded 4dp for the driver hash.

Scale design (10^12 documents):

1. ``token_totals`` — map-side-partial count keyed by token.  Vocabulary-
   sized output (Heaps' law: ~10^7-10^8 at web scale), never corpus-sized.
2. The corpus total is a 1-row bounded collect over the pinned vocabulary
   (plan-time literal, the ``bm25_search`` corpus-stats pattern — never a
   corpus-sized driver pull).
3. ``doc_rarity`` — explode all token occurrences, hash-join the weight
   table (estimate-gated broadcast: vocabularies usually fit, the gate
   degrades to a shuffle equi-join when they don't), re-aggregate per
   doc_id with map-side partials.  No doc-pair joins; nothing corpus^2.

Reference tie-in: no counterpart (the reference is an ANN library); this is
part of the SURVEY §2.2 training-data quality-scoring family next to
``quality_score`` (per-doc heuristics) — rarity is the corpus-relative
member of that family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.functions import text as T
from countrymaam_spark.operators.adaptive import gate_broadcast


def token_totals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(tok, cnt): corpus term frequency (all occurrences). One map-side-
    partial aggregation; output is vocabulary-sized."""
    return (
        docs.select(F.explode(T.tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )


def token_totals_sql(rel: str, text_col: str = "text") -> str:
    return f"""
        SELECT tok, COUNT(*) AS cnt FROM (
            SELECT UNNEST({T.tokens_sql(text_col)}) AS tok FROM {rel}
        ) GROUP BY tok
    """


def doc_rarity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_toks, sum_w, rarity): corpus-relative rarity per document.

    ``sum_w`` sums the exact integer weight total div cnt over every token
    occurrence; ``rarity`` is the mean weight (one exact-int division,
    rounded 4dp).  High rarity = vocabulary the corpus rarely uses (for the
    synthetic fixtures: numerals and ids score high, template words low).
    Documents with zero tokens drop out (no score is defined for them).
    """
    vocab = token_totals(docs, text_col).localCheckpoint(eager=True)
    # corpus total as a plan-time literal: a 1-row bounded collect over the
    # pinned vocabulary (the bm25_search corpus-stats pattern) — a 1-row
    # crossJoin would plan as BroadcastNestedLoopJoin and break the
    # no-nested-loop plan invariant for no benefit
    total = vocab.agg(F.sum("cnt")).first()[0] or 0
    weights = vocab.select(
        "tok", F.expr(f"{int(total)} div cnt").alias("w")
    )
    occurrences = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(T.tokens(F.col(text_col))).alias("tok")
    )
    scored = occurrences.join(
        gate_broadcast(weights, vocab.count()), "tok"
    )
    n = F.count(F.lit(1))
    return scored.groupBy("doc_id").agg(
        n.alias("n_toks"),
        F.sum("w").alias("sum_w"),
        F.round(F.sum("w").cast("double") / n, 4).alias("rarity"),
    )


def doc_rarity_sql(rel: str, id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
        WITH toks AS (
            SELECT {id_col} AS doc_id, UNNEST({T.tokens_sql(text_col)}) AS tok
            FROM {rel}
        ),
        cnts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnts),
        w AS (SELECT tok, total // cnt AS w FROM cnts, tot)
        SELECT t.doc_id AS doc_id,
               COUNT(*) AS n_toks,
               CAST(SUM(w.w) AS BIGINT) AS sum_w,
               ROUND(CAST(SUM(w.w) AS DOUBLE) / COUNT(*), 4) AS rarity
        FROM toks t JOIN w ON t.tok = w.tok
        GROUP BY t.doc_id
    """
