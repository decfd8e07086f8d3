"""Structured Streaming ingest: a continuously-arriving pages crawl feed.

The reference is strictly batch (its "streams" are Go channels used for
intra-process pipelining, /root/reference/pipeline/pipeline.go:9-110); this
module is the v2 surface the north star leaves open — streaming ingest of
pages into the same geotag -> cell pipeline, with event-time watermarks and
windowed per-cell rollups for late-arriving crawl records.

All transformations reuse the batch operators (extract_geo, encode_cell are
plain Column expressions, legal in streaming plans). Tests drive it with the
rate source / a file source feeding fixture parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from countrymaam_spark.functions import geo
from countrymaam_spark.operators.geotag import extract_geo


def stream_pages_from_dir(spark, dir_path: str, schema) -> DataFrame:
    """File-source stream over a directory of pages parquet drops."""
    return spark.readStream.schema(schema).parquet(dir_path)


def geotag_stream(pages_stream: DataFrame, res: int = 7) -> DataFrame:
    """Streaming geotag + cell encode (stateless — pure column expressions)."""
    return (
        extract_geo(pages_stream)
        .filter(F.col("lat").isNotNull())
        .withColumn("cell", geo.encode_cell(F.col("lat"), F.col("lon"), res))
    )


def windowed_cell_counts(
    geo_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    parent_res: int = 4,
    res: int = 7,
) -> DataFrame:
    """Event-time windowed per-parent-cell page counts with late-data bound.

    Watermark on ``warc_ts`` drops records later than the horizon and lets
    state for closed windows be evicted — the standard streaming rollup shape
    (tile-server freshness feed).
    """
    return (
        geo_stream.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            geo.cell_parent(F.col("cell"), parent_res, res).alias("parent"),
        )
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "parent",
            "n_pages",
        )
    )


def run_to_memory_sink(stream_df: DataFrame, name: str, mode: str = "append"):
    """Start the query into an in-memory sink (tests/demo); returns the
    StreamingQuery — caller awaits and stops."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )


def stream_pip_counts(
    geo_stream: DataFrame,
    edges: DataFrame,
    res: int = 6,
    window: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """Streaming point-in-polygon rollup: pages arriving on the stream are
    tagged with their containing polygon and counted per (event-time
    window, polygon).

    The containment test is STREAM-STATIC: ``operators/pip._contained``,
    the batch join's plan — broadcast cover cells and per-polygon edge
    arrays, ray-cast parity as a higher-order expression — is stateless,
    so the single stateful operator in the plan is the final watermarked
    window count (Structured Streaming's one-stateful-agg sweet spot).
    ``geo_stream`` carries each page's ``cell`` at ``res`` and its
    ``lat``/``lon``.
    """
    from countrymaam_spark.operators.pip import _contained, _cover_cells

    inside = _contained(geo_stream, _cover_cells(edges, res), edges).select(
        "warc_ts", "poly_id"
    )
    return (
        inside.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "poly_id")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("w.start").alias("window_start"),
            "poly_id",
            "n_pages",
        )
    )


def dedup_stream(pages_stream: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Streaming exact dedup of the crawl feed: emit the FIRST arrival of
    each text fingerprint, drop re-crawls and mirror copies arriving within
    the watermark horizon — the frontier-dedup stage a streaming ingest runs
    BEFORE the expensive per-page work (the batch analog is
    operators/dedup.exact_dup_groups).

    ``dropDuplicatesWithinWatermark`` keys the state store on the sha and
    evicts keys older than the horizon, so state is bounded by the horizon's
    key cardinality, not the full crawl history — the documented trade:
    a duplicate arriving AFTER its key was evicted is re-emitted, which a
    downstream batch dedup pass (exact_dup_groups over the sink) reconciles.
    Emits (text_sha, warc_ts) in append mode; rows flow out in the batch
    they arrive (no windows held open).
    """
    keyed = pages_stream.select(
        F.sha2(F.col("text"), 256).alias("text_sha"),
        F.col("warc_ts"),
    )
    return keyed.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["text_sha"]
    )
