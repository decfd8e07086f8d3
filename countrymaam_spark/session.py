"""SparkSession factory with engine defaults.

Defaults are tuned for correctness-at-scale: AQE on (skew-join splitting,
partition coalescing), Arrow enabled for the vectorized-UDF paths the
input_hint mandates, and an explicit shuffle-partition count sized by the
caller (tests use a small count).

``spark.driver.memory`` caps the driver heap. The heap starts at half the
cap, committed and pre-touched, and G1 grows it past that only when its
GC-time policy or an allocation that does not fit asks for it
(``MinHeapFreeRatio=0`` turns off the resize to 40 % free at the end of each
concurrent mark, whose size depends on how much was allocated while marking
ran). With geobench's 1 GB cap on a 4-core box this cut the median peak PSS
from about 2000 to about 1450 MB on both workloads. Left to grow from G1's
default start (1/64 of RAM), the heap ended anywhere between 400 and 700 MB
from one run of the same workload to the next, and the peak spread with it;
pinned to the whole cap, it held 1 GB of pages while the live set after a
young collection stayed at 110-150 MB.
Larger heaps (the tests' 8 GB) and sf10 runs are not measured this way.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

MASTER = "local[*]"
DRIVER_MEMORY = "8g"


def _mib(size: str) -> int:
    """A Spark memory size ("512m", "8g", "1gb") in MiB; no unit means MiB."""
    num, unit = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower()).groups()
    return int(num) * 1024 ** "kmgt".index(unit or "m") // 1024


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
        .config(
            "spark.driver.defaultJavaOptions",
            f"-Xms{_mib(mem) // 2}m -XX:+AlwaysPreTouch -XX:MinHeapFreeRatio=0",
        )
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
