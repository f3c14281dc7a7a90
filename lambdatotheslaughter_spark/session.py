"""SparkSession factory, configured the way a 1000-executor cluster job
would be: AQE on (runtime re-planning, skew join splitting, partition
coalescing), explicit UTC session timezone (oracle hash alignment), Arrow
enabled for the Pandas-UDF slow path.

Work is sized per kind. Batch work keeps the session's shuffle partitions
(32, or ``SPARK_GRAFT_SHUFFLE``) with AQE coalescing them at runtime. Each streaming query starts
through ``streaming.harness.drain`` with ``defaultParallelism`` shuffle
partitions — one state-store partition per core, fixed in the query's
checkpoint — because streaming runs without AQE and pays a fixed cost per
state partition on every micro-batch.

At cluster scale the only knobs that change are master / memory / shuffle
partitions; query code never needs to know.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


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
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local metastore for the Hive-managed serving layer (sink_managed_table)
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/lts_spark_warehouse"))
        .config("spark.sql.streaming.checkpointLocation", os.environ.get(
            "SPARK_GRAFT_CKPT", "/tmp/lts_spark_ckpt"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
