"""SparkSession factory with the engine's standard configuration.

Settings chosen for correctness-vs-oracle (UTC, Arrow on) and for scale
(AQE + skew-join handling on, shuffle partitions sized to cores — on a
real cluster these come from spark-submit conf instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["build_session", "stop_session", "default_cores", "default_driver_memory"]


#: RocksDB-backed streaming state (bundled rocksdbjni): keeps per-key
#: state OFF-HEAP and spillable instead of in the executor heap, which
#: is what a 100 TB / 10^9-key streaming keyspace needs — the default
#: HDFS-backed provider holds every key's state object on-heap and is
#: the first thing to die at that scale.
ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEM`` if set, else half of physical RAM (1-16 GB), so
    a big job spills before the host runs out of memory."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "4g"
    return f"{max(1, min(16, kb // (2 * 1024 * 1024)))}g"


def build_session(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app: str = "geomesa_spark",
    extra_conf: dict | None = None,
    rocksdb_state: bool | None = None,
) -> SparkSession:
    """``rocksdb_state`` flag-gates the streaming state store provider
    (default: Spark's HDFS-backed store; None also honors the
    SPARK_GRAFT_ROCKSDB_STATE env var). Session-level because the
    provider is read at streaming-query start; ``live.use_rocksdb_state``
    toggles it on an existing session."""
    cores = cores or default_cores()
    if rocksdb_state is None:
        rocksdb_state = os.environ.get("SPARK_GRAFT_ROCKSDB_STATE", "") == "1"
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if rocksdb_state:
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_STATE_PROVIDER
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session(spark: SparkSession) -> None:
    spark.stop()
