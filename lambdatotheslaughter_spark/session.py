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


def get_spark(app_name: str = "lambdatotheslaughter_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Keeps one session per process: the driver and bench amortize the ~10 s
    JVM startup across every query (BASELINE.md bench guidance).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
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
    )
    if os.environ.get("SPARK_GRAFT_CLUSTER_PROFILE", "0") == "1":
        # r12 §9 config pass (VERDICT r11 ask #7), env-keyed so the LOCAL
        # defaults — and therefore the driver's bench — stay byte-for-byte
        # comparable across rounds. These are the guide's cluster-scale
        # knobs, not local[32] tuning; each is value-neutral (join
        # strategy / serialization / scan-split changes only) and the full
        # 546-key oracle-parity replica was run green with the profile ON
        # (OPTIMIZATION_r12.md §7):
        # - preferSortMergeJoin=false + a 128m local-map threshold let the
        #   planner (and AQE, at runtime) pick shuffled-hash over
        #   sort-merge when a per-partition build fits — guide §3.1: SMJ
        #   pays a sort both sides that SHJ skips. The r11 forced-SHJ
        #   robustness audit (SCALE.md) already pinned value parity for
        #   every registry key under this planner regime.
        # - pythonUDF.arrow.enabled: scalar @udf batches cross the Python
        #   boundary as Arrow instead of pickled rows (guide §4.3). The
        #   registry's 6 scalar-UDF/UDTF contract demos declare honest
        #   return types; parity was re-proven with the flag ON.
        # - maxPartitionBytes=512m: fewer, larger scan splits for long
        #   sequential parquet scans (guide §6) — sized for cluster-scale
        #   inputs, pointless (single-file) at the local SFs.
        builder = (
            builder
            .config("spark.sql.join.preferSortMergeJoin", "false")
            .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                    "128m")
            .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
            .config("spark.sql.files.maxPartitionBytes", "512m")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
