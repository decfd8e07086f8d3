"""End-to-end training-set extraction from the crawl — the pages-table
counterpart of ``dedup.curate_docs``: one composed pipeline from the raw
``input_hint`` table ``(url, warc_ts, html, text, lang)`` to model-ready
passages.

Stages (every one an already-verified operator; this module only composes):

1. **Boilerplate removal** — ``lines.clean_pages``: drop lines whose global
   document frequency >= ``min_line_docs`` (CCNet/C4).
2. **Quality gate** — keep cleaned pages with >= ``min_tokens`` tokens and
   a whitespace/alnum token stream that is not dominated by digits
   (``max_digit_frac``) — the junk-page cut that matters on web text where
   id/coordinate-heavy pages survive line dedup.
3. **Exact dedup** — one canonical page per cleaned-text sha
   (min url wins, deterministic), the recrawl collapse.
4. **Passage chunking** — ``chunk.chunk_docs`` fixed token windows.

Scale shape: the composition adds NO new shuffle class — line dedup's two
corpus aggregations, a sha-keyed window (WindowGroupLimit-free: min-over-
partition, map-side partial via the groupBy form), and the narrow chunk
explode.  Everything in one declarative plan; Catalyst pipelines the
filters into the scans.

The DuckDB oracle composes the member oracles verbatim, so the driver row
checks the WHOLE pipeline bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.functions import text as T
from countrymaam_spark.operators import chunk as CH
from countrymaam_spark.operators import lines as LN


def _digit_frac(toks):
    """Fraction of tokens that are pure digit runs (Column, 4dp-stable only
    through the final filter — never emitted)."""
    n_digit = F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
    return n_digit / F.greatest(F.size(toks), F.lit(1))


def training_chunks(
    pages: DataFrame,
    min_line_docs: int = 10,
    min_tokens: int = 10,
    max_digit_frac: float = 0.5,
    chunk_size: int = 32,
    chunk_stride: int | None = None,
    scrub: bool = False,
) -> DataFrame:
    """(url, chunk_id, n_chunk_toks, chunk_text): model-ready passages from
    the raw crawl, after boilerplate removal, the quality gate, and exact
    dedup of cleaned text (canonical = min url per sha).

    ``scrub=True`` inserts the PII masking pass (:mod:`scrub`) right after
    boilerplate removal — BEFORE the quality gate and the sha dedup, so (a)
    token/digit gating judges the released text, and (b) recrawls that
    differ only in rotated PII (session emails, dynamic IPs) collapse to
    one canonical page. A narrow projection; the composition still adds no
    new shuffle class."""
    cleaned = LN.clean_pages(pages, min_line_docs)
    if scrub:
        from countrymaam_spark.operators import scrub as SC

        cleaned = cleaned.withColumn("clean_text", SC.scrub_text(F.col("clean_text")))
    toks = T.tokens(F.col("clean_text"))
    good = cleaned.filter(
        (F.size(toks) >= int(min_tokens))
        & (_digit_frac(toks) <= float(max_digit_frac))
    )
    # one canonical (min-url) page per cleaned-text sha in ONE aggregation:
    # min_by(clean_text, url) picks the min-url row's text deterministically,
    # exactly the rows the former groupBy(sha) -> min(url) -> self-join on
    # url selected — but the self-join re-computed the whole clean_pages
    # subtree (scan -> posexplode -> boiler anti-join -> per-url re-assembly)
    # on BOTH sides (plan-verified: two full subtrees). Same rows, one pass
    # (guide §2.4: remove shuffles outright / don't compute twice).
    canon = (
        good.groupBy(F.sha2(F.col("clean_text"), 256).alias("h"))
        .agg(
            F.min("url").alias("url"),
            F.min_by("clean_text", "url").alias("clean_text"),
        )
        .select("url", "clean_text")
    )
    return CH.chunk_docs(
        canon, size=chunk_size, stride=chunk_stride, id_col="url", text_col="clean_text"
    )


def training_chunks_sql(
    pages_rel: str,
    min_line_docs: int = 10,
    min_tokens: int = 10,
    max_digit_frac: float = 0.5,
    chunk_size: int = 32,
    chunk_stride: int | None = None,
    scrub: bool = False,
) -> str:
    clean = LN.clean_pages_sql(pages_rel, min_line_docs)
    if scrub:
        from countrymaam_spark.operators import scrub as SC

        clean = (
            f"SELECT url, {SC.scrub_text_sql('clean_text')} AS clean_text"
            f" FROM ({clean})"
        )
    toks = T.tokens_sql("clean_text")
    digit_frac = (
        f"CAST(len(list_filter({toks}, t -> regexp_full_match(t, '[0-9]+'))) AS DOUBLE)"
        f" / GREATEST(len({toks}), 1)"
    )
    good = f"""
        SELECT url, clean_text FROM ({clean})
        WHERE len({toks}) >= {min_tokens}
          AND {digit_frac} <= {max_digit_frac}
    """
    canon = f"""
        SELECT g.url AS url, g.clean_text AS clean_text
        FROM (SELECT MIN(url) AS url FROM ({good}) GROUP BY sha256(clean_text)) c
        JOIN ({good}) g ON c.url = g.url
    """
    return CH.chunk_docs_sql(
        f"({canon})", size=chunk_size, stride=chunk_stride,
        id_col="url", text_col="clean_text",
    )
