"""Line-level boilerplate dedup over the pages corpus — the CCNet/C4 shape.

Web-scale curation removes *lines* (sentences/segments) that repeat across
many documents — navigation chrome, legal footers, templated blurbs — before
any document-level scoring.  This is a different axis from the engine's
document dedup (``dedup.py``: whole-doc sha / MinHash / SimHash) and its
span dedup (``dup_span_stats``: within-corpus duplicated token L-grams): the
unit here is the *line*, the signal is *global document frequency*, and the
output is a cleaned corpus plus per-page boilerplate accounting.

Scale design (10^12 pages, ~4-50 lines each):

1. ``line_doc_freq`` — one map-side-partial aggregation keyed by the raw
   line STRING.  Per-page ``array_distinct`` runs narrow (array-side, no
   shuffle), so each page contributes each line once and the count IS the
   document frequency.  The heavy hitters on the agg key are exactly the
   boilerplate lines, and partial aggregation bounds their skew: every map
   task emits at most one row per distinct line it sees.  The key is the
   string, not a hash — exact (no collision budget at 10^12 lines) and
   measured faster than hash-count-then-verify on this engine
   (``dedup._dup_starts`` A/B note).
2. ``boiler_lines`` — frequency threshold.  Output size is corpus-bounded by
   construction: at most total_lines / min_docs rows, in practice the
   template vocabulary (thousands), so it rides the estimate-gated
   broadcast (``adaptive.gate_broadcast``) into the label joins below and
   degrades to a shuffle equi-join if a pathological corpus overflows the
   gate.
3. ``page_line_stats`` / ``clean_pages`` — posexplode the corpus once,
   hash-join the (tiny, gated-broadcast) boiler set, re-aggregate per url.
   The only corpus-sized shuffle is the per-url re-aggregation of line rows,
   compressed by map-side partial aggregation to <= 1 row per url per task.
   No page-pair joins anywhere; nothing grows with corpus^2.

Line segmentation is a literal ``". "`` split (identical in Spark
``split(text, '\\. ')`` and DuckDB ``string_split(text, '. ')``) — RE2 (the
oracle engine) has no lookbehind, so the delimiter is consumed; decimal
points inside coordinates are never followed by a space, so geotag text
survives segmentation intact.

Reference tie-in: the reference has no text curation (it is an ANN library);
this extends the corpus-frequency machinery SURVEY.md §2.2 mandates for the
training-data pipeline, alongside exact/MinHash/SimHash/span dedup.

Oracles mirror every step in ANSI SQL (DuckDB): UNNEST over the same split,
LEFT JOIN against the same thresholded frequency table, STRING_AGG ordered
by the same 1-based position for reassembly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.operators.adaptive import gate_broadcast

LINE_SEP = ". "


def split_lines(text: Column) -> Column:
    """Array of line segments; the literal ``". "`` delimiter is consumed."""
    return F.split(text, r"\. ")


def split_lines_sql(text: str) -> str:
    return f"string_split({text}, '. ')"


def line_doc_freq(pages: DataFrame) -> DataFrame:
    """(line, df): global document frequency of every distinct line.

    ``array_distinct`` is per-page and narrow; the single shuffle is the
    map-side-partial count on the line string.
    """
    return (
        pages.select(
            F.explode(F.array_distinct(split_lines(F.col("text")))).alias("line")
        )
        .groupBy("line")
        .agg(F.count("*").alias("df"))
    )


def line_doc_freq_sql(pg_rel: str) -> str:
    return f"""
        SELECT line, COUNT(*) AS df FROM (
            SELECT DISTINCT url, line FROM (
                SELECT url, UNNEST({split_lines_sql('text')}) AS line
                FROM {pg_rel}
            )
        ) GROUP BY line
    """


def boiler_lines(pages: DataFrame, min_docs: int) -> DataFrame:
    """(line,): lines appearing in >= min_docs documents. Corpus-bounded:
    <= total_lines / min_docs rows."""
    return line_doc_freq(pages).filter(F.col("df") >= int(min_docs)).select("line")


def _boiler_sql(pg_rel: str, min_docs: int) -> str:
    return (
        f"SELECT line FROM ({line_doc_freq_sql(pg_rel)}) WHERE df >= {min_docs}"
    )


def _exploded(pages: DataFrame) -> DataFrame:
    """(url, pos, line) with 1-based pos (matches DuckDB lambda ordinality)."""
    return pages.select(
        "url", F.posexplode(split_lines(F.col("text"))).alias("pos0", "line")
    ).select("url", (F.col("pos0") + 1).alias("pos"), "line")


def page_line_stats(pages: DataFrame, min_docs: int) -> DataFrame:
    """(url, n_lines, n_boiler, total_chars, boiler_chars): per-page
    boilerplate accounting under the df >= min_docs threshold.

    All four measures are exact integers (no float fraction in the contract;
    callers derive boiler_chars / total_chars themselves), so the oracle is
    bit-identical regardless of partitioning.
    """
    b = boiler_lines(pages, min_docs).localCheckpoint(eager=True)
    marked = _exploded(pages).join(
        gate_broadcast(b.withColumn("is_b", F.lit(1)), b.count()),
        "line",
        "left",
    )
    is_b = F.col("is_b").isNotNull()
    return marked.groupBy("url").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(is_b, 1).otherwise(0)).cast("long").alias("n_boiler"),
        F.sum(F.length("line")).cast("long").alias("total_chars"),
        F.sum(F.when(is_b, F.length("line")).otherwise(0))
        .cast("long")
        .alias("boiler_chars"),
    )


def page_line_stats_sql(pg_rel: str, min_docs: int) -> str:
    return f"""
        WITH lines AS (
            SELECT url, UNNEST({split_lines_sql('text')}) AS line FROM {pg_rel}
        ),
        boiler AS ({_boiler_sql(pg_rel, min_docs)})
        SELECT l.url AS url,
               COUNT(*) AS n_lines,
               CAST(SUM(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
               CAST(SUM(length(l.line)) AS BIGINT) AS total_chars,
               CAST(SUM(CASE WHEN b.line IS NOT NULL THEN length(l.line) ELSE 0 END) AS BIGINT) AS boiler_chars
        FROM lines l LEFT JOIN boiler b ON l.line = b.line
        GROUP BY l.url
    """


def clean_pages(pages: DataFrame, min_docs: int) -> DataFrame:
    """(url, clean_text): pages with boilerplate lines removed, remaining
    lines rejoined with ``". "`` in original order.

    Pages whose every line is boilerplate (fully templated pages) drop out of
    the output — that is the curation semantic, and the oracle drops them the
    same way (inner GROUP BY after the anti filter).  Order inside a page is
    restored by sorting the collected (pos, line) structs, so the result is
    partitioning-independent.
    """
    b = boiler_lines(pages, min_docs).localCheckpoint(eager=True)
    kept = (
        _exploded(pages)
        .join(gate_broadcast(b, b.count()), "line", "left_anti")
    )
    return kept.groupBy("url").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            LINE_SEP,
        ).alias("clean_text")
    )


def clean_pages_sql(pg_rel: str, min_docs: int) -> str:
    return f"""
        WITH lines AS (
            SELECT url, s['pos'] AS pos, s['line'] AS line FROM (
                SELECT url,
                       UNNEST(list_transform({split_lines_sql('text')},
                                             (x, i) -> {{'pos': i, 'line': x}})) AS s
                FROM {pg_rel}
            )
        ),
        boiler AS ({_boiler_sql(pg_rel, min_docs)})
        SELECT l.url AS url,
               STRING_AGG(l.line, '{LINE_SEP}' ORDER BY l.pos) AS clean_text
        FROM lines l LEFT JOIN boiler b ON l.line = b.line
        WHERE b.line IS NULL
        GROUP BY l.url
    """
