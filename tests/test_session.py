"""session.py: the default driver heap must fit the host."""

import os

from gregor_spark.session import default_driver_memory


def _mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise AssertionError("no MemTotal")


def _mb(spec: str) -> int:
    unit = {"m": 1, "g": 1024}[spec[-1].lower()]
    return int(spec[:-1]) * unit


def test_default_driver_memory_is_half_the_host_at_most_48g():
    mb = _mb(default_driver_memory())
    assert 0 < mb <= min(_mem_total_mb() // 2 + 1, 48 * 1024)


def test_running_session_heap_fits_physical_ram(spark):
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return  # an explicit override is the caller's choice
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _mb(heap) <= _mem_total_mb()


def test_session_skips_dataframe_call_site_capture(spark):
    """Column calls skip PySpark's per-call call-site capture (a py4j conf
    read and a stack walk each): the session turns it off."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
