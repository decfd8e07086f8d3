from countrymaam_spark.session import DRIVER_MEMORY, _mib


def test_mib_reads_spark_memory_sizes():
    assert [_mib(s) for s in ("1g", "512m", "1024", "2gb", "2048k", " 8G ")] == [
        1024, 512, 1024, 2048, 2, 8192,
    ]


def test_driver_heap_starts_at_half_the_cap_without_the_remark_resize(spark):
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert f"-Xms{_mib(DRIVER_MEMORY) // 2}m" in args
    assert "-XX:+AlwaysPreTouch" in args
    assert "-XX:MinHeapFreeRatio=0" in args
    assert f"-Xmx{DRIVER_MEMORY}" in args
