"""Driver-heap default derived from the host's memory (no Spark)."""

from search_engine_spark.session import default_driver_memory

MEMINFO = """MemTotal:       {kib} kB
MemFree:         1000000 kB
MemAvailable:    2000000 kB
"""


def test_half_of_memtotal():
    # a 15.7 GiB host gets a 7.8 GiB heap, not 24g
    assert default_driver_memory(MEMINFO.format(kib=16479424)) == "8046m"
    assert default_driver_memory(MEMINFO.format(kib=4 * 1024 * 1024)) == "2048m"


def test_capped_at_24g():
    assert default_driver_memory(MEMINFO.format(kib=48 * 1024 * 1024)) == "24576m"
    assert default_driver_memory(MEMINFO.format(kib=512 * 1024 * 1024)) == "24576m"


def test_missing_memtotal():
    assert default_driver_memory("") == "24g"
    assert default_driver_memory("MemFree: 10 kB\n") == "24g"
