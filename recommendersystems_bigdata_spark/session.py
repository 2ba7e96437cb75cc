"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[*]`` but every knob here is chosen for the
multi-executor case (SURVEY.md §4/§6): AQE handles runtime partition
coalescing and skew-join splitting, Arrow handles the Python boundary,
and the shuffle-partition default is sized for the test scale factors
(the 100 TB deployment would raise it or rely on AQE's initialPartitionNum).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Spark's bundled disk-backed state store for Structured Streaming. The
# default HDFSBackedStateStoreProvider keeps every state row on the
# executor HEAP (plus snapshot files), which caps stateful-query key
# cardinality at executor memory; RocksDB keeps state off-heap on local
# disk with incremental checkpointing — the 100 TB-cardinality choice
# (SCALE.md §2 streaming). It is a per-query SQL conf read at stream
# start: a deployment selects it with
# ``spark.conf.set(ROCKSDB_PROVIDER_CONF, ROCKSDB_PROVIDER_CLASS)``.
ROCKSDB_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER_CLASS = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "recommendersystems_bigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the core count — at the test scale
    factors a 200-way shuffle is pure overhead; AQE coalesces further.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))

    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
