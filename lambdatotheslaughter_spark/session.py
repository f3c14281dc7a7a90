"""SparkSession factory, configured the way a 1000-executor cluster job
would be: AQE on (runtime re-planning, skew join splitting, partition
coalescing), explicit UTC session timezone (oracle hash alignment), Arrow
enabled for the Pandas-UDF slow path.

Work is sized per kind. Batch work keeps the session's 32 shuffle
partitions with AQE coalescing them at runtime. Each streaming query starts
through ``streaming.harness.drain`` with ``defaultParallelism`` shuffle
partitions — one state-store partition per core, fixed in the query's
checkpoint — because streaming runs without AQE and pays a fixed cost per
state partition on every micro-batch.

Four environment settings reach the session: ``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_DRIVER_MEM``, ``SPARK_GRAFT_WAREHOUSE`` and
``SPARK_GRAFT_CKPT``. Every session is long-lived and shared by every query,
so a query that needs a setting for its own plan takes it through
``scoped_conf``, which hands the session back exactly as it found it.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = 32
CHECKPOINT_FILE_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
                           "FileSystemBasedCheckpointFileManager")


def get_spark(app_name: str = "lambdatotheslaughter_spark") -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Keeps one session per process, so every query amortizes the ~10 s JVM
    startup.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local metastore for the Hive-managed serving layer (tables.save_managed_table)
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/lts_spark_warehouse"))
        .config("spark.sql.streaming.checkpointLocation", os.environ.get(
            "SPARK_GRAFT_CKPT", "/tmp/lts_spark_ckpt"))
        # Spark's default FileContext manager resolves links on every rename,
        # and without Hadoop's native library that forks a `readlink` from
        # the driver per state-store, offset, commit or source-log file. This
        # one renames with FileSystem.rename, a single atomic rename(2) on a
        # local filesystem, and writes the same checkpoint layout.
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block, then put each key back:
    to its old value if it had one, unset otherwise. A key left unset reads
    as Spark's default, so restoring by ``get`` then ``set`` would pin the
    default as an explicit setting; unsetting leaves nothing behind.

    Planning reads the confs, so a query that depends on them must be
    planned (materialized) inside the block."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
