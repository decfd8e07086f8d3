"""SparkSession factory with engine defaults.

Defaults are tuned for correctness-at-scale: AQE on (skew-join splitting,
partition coalescing), Arrow enabled for the vectorized-UDF paths the
input_hint mandates, and an explicit shuffle-partition count sized by the
caller (tests use a small count; bench uses the core count).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

MASTER = "local[*]"
DRIVER_MEMORY = "8g"


def get_spark(
    master: str | None = None,
    app_name: str = "countrymaam_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    mem = (extra_conf or {}).get("spark.driver.memory", DRIVER_MEMORY)
    builder = (
        SparkSession.builder.master(master or MASTER)
        .appName(app_name)
        # commit + pre-fault the whole heap at JVM start (untimed session
        # setup) instead of lazily inside the first large sort/aggregation:
        # on this box a first-touch page fault of a ~40 MB buffer costs
        # seconds (measured in the kdtree kernel, same phenomenon JVM-side),
        # and G1 growing the heap mid-query showed up as multi-second
        # first-run inflation of the big window stages (knn_cell_metro
        # 13-15 s -> 6-7 s with this on). -Xms pins the committed size;
        # AlwaysPreTouch faults the pages eagerly.
        .config("spark.driver.defaultJavaOptions", f"-Xms{mem} -XX:+AlwaysPreTouch")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd, not snappy: parquet-java's snappy path allocates+cleans a
        # direct buffer per large value — multi-MB binary blob columns (tree
        # blobs) write 3-4x slower and churn native RSS (jstack-verified)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
