"""SparkSession factory tuned for the engine.

Local mode is the sandbox stand-in for a multi-executor cluster: the same
partitioning/shuffle/AQE behavior applies, only the exchange transport
differs.  Scale evidence is gathered by running the same job at two
parallelism levels (local[8] vs local[32]) per BENCH/BASELINE.md.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_DRIVER_GB = 48


def default_driver_memory() -> str:
    """Half of the host's physical RAM (``MemTotal``), capped at 48g: in
    local mode the driver JVM is the whole engine, so it gets real
    memory, but a heap sized past the host gets the JVM OOM-killed."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kb = int(line.split()[1])
                    return f"{max(1, min(_MAX_DRIVER_GB << 10, kb >> 11))}m"
    except (OSError, ValueError, IndexError):
        pass
    return f"{_MAX_DRIVER_GB}g"


def get_spark(
    app: str = "gregor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n = master[master.find("[") + 1 : master.find("]")] if "[" in master else cpus
    if shuffle_partitions is None:
        shuffle_partitions = int(n) if n.isdigit() else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        # local mode = driver-only: give the single JVM real memory or 32
        # concurrent task threads invert scaling on GC pressure
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # r8: multi-path reads (the manifest-listed Iceberg-like tables)
        # below this path count are listed on the driver instead of
        # through a distributed listing job — on a local filesystem the
        # job is pure scheduler overhead (profiled: 8–39 s per
        # read_table of a 4096-file table).  Parameterised because the
        # right value is deployment-specific: against high-latency
        # object stores with 10^5+ files, distributed listing wins, so
        # production sets SPARK_GRAFT_LIST_THRESHOLD lower (or relies on
        # real Iceberg manifests, which never directory-list at all).
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            os.environ.get("SPARK_GRAFT_LIST_THRESHOLD", "8192"),
        )
        # PySpark wraps F.col and every Column method in a call-site
        # capture (pyspark.errors.utils._with_origin): per call a
        # getActiveSession, a py4j conf read, an `inspect` stack walk and
        # a JVM origin set/clear.  Building one north-rule plan made
        # about 440 extra py4j calls (757 instead of 317).  Cost of
        # turning it off: a DataFrame error no longer carries the Python
        # call-site block.  PySpark reads this once per process, at the
        # first wrapped call made while a session is active; ``extra``
        # can turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # optional RAM-backed shuffle dir (SPARK_GRAFT_LOCAL_DIR=/dev/shm/...):
    # on one box every task thread shares a single disk for shuffle files;
    # a cluster gives each executor its own lanes.  Pointing local dirs at
    # tmpfs isolates that variable for the scaling-efficiency evidence.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
