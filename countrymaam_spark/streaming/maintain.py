"""Write-side streaming ingest: continuously MAINTAIN the cell index's
serving state from a pages stream (the complement of streaming/serve.py,
which is the read side).

The reference is batch-build only (cmd/countrymaam/main.go builds, then
serves); the north rule's deployment is an ever-growing crawl table, so the
index state must absorb appends without rebuilds. Batch appends already do
(update_cell_stats / update_cell_lut, append_ivf_pipeline, …); this module
is the same contract driven by Structured Streaming, with exactly-once
semantics chosen per sink:

- **corpus** (ground truth): per-micro-batch idempotent append — batch ``i``
  lands under ``cell_corpus/ingest_batch=i`` with overwrite, so a replayed
  batch rewrites its own partition instead of duplicating rows.
- **planning lut** (derived state): a streaming ``groupBy(lv, cell)`` count
  in UPDATE mode — Spark's state store carries exact cumulative counts
  across restarts/replays — and ``foreachBatch`` upserts the *changed*
  rows into the lut snapshot by SET (idempotent), never by add.

Consistency: the two sinks commit independently. ``cell_knn`` bounds each
query's k-th distance from the lut's counts and probes only the cells the
lut counts, so a lut that LEADS the corpus (a micro-batch the lut sink has
committed and the corpus sink has not) can over-count a ring and return a
wrong top-k, and one that TRAILS it misses the pages of any cell it does not
count yet; lower counts in cells it does count only widen the probe. Serve
from a state where both sinks have processed the same micro-batches (as
after ``processAllAvailable`` on both). At scale the snapshot rewrite in
``_upsert_lut`` becomes an Iceberg/Delta ``MERGE INTO`` on (lv, cell); the
lut is <= 5x|cells| rows, not corpus-sized, so either form is cheap.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from countrymaam_spark.operators import knn as K


def maintain_cell_corpus_stream(
    geo_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Idempotent-append the encoded corpus: micro-batch ``i`` overwrites
    ``cell_corpus/ingest_batch=i``. ``geo_stream`` must carry
    (url, lat, lon, cell) — i.e. ``ingest.geotag_stream`` output."""
    corpus_root = os.path.join(out_dir, "cell_corpus")

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df.select("url", "lat", "lon", "cell").write.mode("overwrite").parquet(
            os.path.join(corpus_root, f"ingest_batch={batch_id}")
        )

    w = geo_stream.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def maintain_cell_lut_stream(
    geo_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    res: int = 7,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the multi-level planning lut from the stream: explode each
    page into its <=5 (lv, ancestor-cell) contributions, count them in a
    streaming UPDATE-mode aggregation (exact across replays via the state
    store), and SET-upsert the changed rows into the ``cell_lut`` snapshot."""
    counts = K.lut_rows(geo_stream, res).groupBy("lv", "cell").agg(F.count("*").alias("cnt"))
    lut_path = os.path.join(out_dir, "cell_lut")

    def _upsert_lut(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fresh = batch_df.select("lv", "cell", "cnt")
        if os.path.exists(lut_path):
            old = spark.read.parquet(lut_path)
            merged = old.join(fresh, ["lv", "cell"], "left_anti").unionByName(fresh)
        else:
            merged = fresh
        # materialize before overwrite: a lazy plan cannot replace its input
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(lut_path)

    w = (
        counts.writeStream.foreachBatch(_upsert_lut)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def maintain_kmv_stream(
    keyed_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    key_col: str,
    k: int = 256,
    salt: str = "kmv0",
    available_now: bool = True,
) -> StreamingQuery:
    """Continuously maintain a persisted KMV distinct-count sketch table
    (``operators/sketch``) from a stream of (group_cols..., key) rows:
    each micro-batch is sketched, merged into the ``kmv_sketch`` snapshot
    (k smallest of the union), and the snapshot overwritten.

    Exactly-once comes FREE from the algebra: sketch merge is IDEMPOTENT
    (re-merging a replayed batch unions hashes already present, so the
    snapshot is unchanged) and commutative, so replays and reordering
    cannot corrupt the state — no dedup bookkeeping needed, unlike the
    counting lut above. Stream-maintained state == the batch sketch of all
    rows, row-for-row (pytest-pinned across multi-drop ingest).

    At 10^12 pages the snapshot stays O(groups · k) rows; each batch ships
    only its own sketch — never a distinct-key shuffle of history."""
    from countrymaam_spark.operators import sketch as SK

    path = os.path.join(out_dir, "kmv_sketch")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fresh = SK.kmv_sketch(batch_df, group_cols, key_col, k=k, salt=salt)
        if os.path.exists(path):
            old = spark.read.parquet(path)
            fresh = SK.kmv_merge(old.unionByName(fresh), group_cols, k=k)
        # materialize before overwrite: a lazy plan cannot replace its input
        fresh.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    w = keyed_stream.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()
