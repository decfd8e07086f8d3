"""Stage checkpointing + resume: the Iceberg-snapshot analog on plain parquet.

Each pipeline stage writes a parquet "snapshot" directory plus a manifest
entry (rows, order-insensitive content hash). Re-running the pipeline skips
stages whose snapshot exists and row-count-verifies — countrymaam's gob
Save/Load (/root/reference/index/io.go:9-36) generalized to a multi-stage
dataflow. Swapping the parquet writer for an Iceberg catalog changes only
``_write``/``_read`` here.

Determinism contract: stage build functions must be seed-stable, so two full
runs produce equal content hashes (tested in tests/test_index_build.py:
resume/corrupt-one-stage/identical-content; params invalidation in
tests/test_ann.py and tests/test_search.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def rows_and_hash(df: DataFrame) -> tuple[int, int]:
    """(row count, ``content_hash``) of ``df`` in one aggregation: what a
    manifest entry records and a resume check compares."""
    m61 = (1 << 61) - 1
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in sorted(df.columns)]
    row_h = F.conv(F.substring(F.sha2(F.concat_ws("\x1f", *cols), 256), 1, 15), 16, 10).cast(
        "long"
    )
    out = (
        df.select((row_h % F.lit(m61)).cast("decimal(38,0)").alias("row_h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("row_h") % F.lit(m61)).cast("long").alias("h"),
        )
        .collect()[0]
    )
    return int(out["n"]), int(out["h"] or 0)


def content_hash(df: DataFrame) -> int:
    """Order-insensitive, duplicate-sensitive content hash: SUM of per-row
    sha256-derived 60-bit values mod 2^61-1. Sum (unlike bit_xor) is
    commutative AND counts multiplicity, so duplicate-heavy datasets with
    pairwise-cancelling rows cannot collide; the decimal(38) accumulator keeps
    the fold overflow-free at any row count (ANSI-safe)."""
    return rows_and_hash(df)[1]


class Manifest:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.path = os.path.join(out_dir, "CHECKPOINT.json")
        self.stages: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.stages = json.load(f).get("stages", {})

    def save(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        with open(self.path, "w") as f:
            json.dump({"stages": self.stages}, f, indent=2, sort_keys=True)


def run_stage(
    spark: SparkSession,
    manifest: Manifest,
    name: str,
    build_fn,
    verify_hash: bool = False,
    params: dict | None = None,
    partition_by: list[str] | None = None,
) -> tuple[DataFrame, bool]:
    """Build-or-resume one stage. Returns (df, skipped).

    ``partition_by`` directory-partitions the snapshot on those columns (the
    Iceberg partitioned-table analog on plain parquet): scans with a literal
    or dynamic filter on the partition column prune whole directories — the
    IVF assignment table uses this so probes read only probed lists.

    Skip requires: manifest entry + snapshot dir + row count match + BUILD
    PARAMS match (and content hash match when ``verify_hash``). Any mismatch
    rebuilds and overwrites — a torn write is never trusted.

    ``params`` is the stage's full build configuration, recorded verbatim in
    the manifest entry. Without it, a re-run with changed parameters could
    resume a stale snapshot whenever the ROW COUNT happens to be unchanged —
    the round-3 advisor's staleness: rebuilding IVF with a new n_lists
    refreshed the centroid table (row mismatch) but resumed the assignment
    table (rows always = corpus size), silently serving list ids the
    assignments never contain. Dependent stages should pass the SAME params
    dict (one shared invalidation key), so they can never resume out of
    sync with each other.
    """
    path = os.path.join(manifest.out_dir, name)
    entry = manifest.stages.get(name)
    want_params = {} if params is None else {
        k: v for k, v in sorted(params.items())
    }
    if entry is not None and os.path.exists(os.path.join(path, "_SUCCESS")):
        df = spark.read.parquet(path)
        if entry.get("params") == want_params and (
            rows_and_hash(df) == (entry["rows"], entry["hash"])
            if verify_hash
            else df.count() == entry["rows"]
        ):
            return df, True
    df = build_fn()
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    out = spark.read.parquet(path)
    rows, h = rows_and_hash(out)
    manifest.stages[name] = {"rows": rows, "hash": h, "params": want_params}
    manifest.save()
    return out, False


def snapshot_diff(before: DataFrame, after: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(added, removed) rows between two snapshots of the same table —
    MULTISET semantics (``exceptAll``: duplicate-sensitive both ways), the
    Iceberg snapshot-diff analog used to verify resume/append invariants:
    an append-only stage is correct iff ``removed`` is empty and ``added``
    equals exactly the delta it claims to have written; any overwrite or
    lost row shows up on the ``removed`` side. Distributed set difference —
    one hash exchange per side, no collect."""
    return after.exceptAll(before), before.exceptAll(after)
