"""SparkSession factory with engine defaults.

Settings chosen for the iterative superstep workload: AQE on (runtime skew
splitting + shuffle coalescing replace Vite's -b edge balancing for the
general case), Arrow enabled for the CSR Pandas-UDF kernels.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# glibc malloc tuning for the Arrow/NumPy python workers: keep big freed
# blocks on the heap instead of munmap-ing them, so per-superstep kernel
# temporaries are REUSED rather than re-faulted. Measured on this class of
# VM: fresh-page faulting streams at <1 GB/s and does not scale with cores
# (it serializes in the host), while reused memory streams at ~15-20 GB/s
# per core and scales — without this the sweep kernel's scaling collapses
# at >4 workers. Must be in the environment BEFORE the JVM (and hence the
# forked python workers) starts; the already-running driver process itself
# is unaffected (glibc reads tunables at process start).
_MALLOC_TUNABLES = (
    "glibc.malloc.mmap_threshold=4294967295:glibc.malloc.trim_threshold=4294967295"
)


def _ensure_malloc_tunables() -> None:
    cur = os.environ.get("GLIBC_TUNABLES", "")
    if "glibc.malloc.mmap_threshold" not in cur:
        os.environ["GLIBC_TUNABLES"] = f"{cur}:{_MALLOC_TUNABLES}" if cur else _MALLOC_TUNABLES


def get_spark(
    app_name: str = "vite_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's local session (``extra_conf`` overrides any default).

    PySpark's DataFrame call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled``): with it on, every
    ``F.*``/DataFrame call walks the Python stack and makes extra Py4J
    round trips, and the first one imports IPython. The cost: a Spark
    error message no longer names the Python line (file, function) of
    the DataFrame call that failed; the Python traceback still does.
    PySpark reads the setting once per process, at the first DataFrame
    call after a session exists."""
    _ensure_malloc_tunables()
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
