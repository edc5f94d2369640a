"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment
would set per-executor: AQE on (runtime re-plan, skew-join handling,
partition coalescing), shuffle partitions sized to cores (cluster:
~2-3x total cores), UTC session timezone (oracle comparisons are
timezone-naive), Arrow enabled for the Pandas-UDF path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "impala_refresher_spark") -> SparkSession:
    """Return (or create) the tuned SparkSession.

    On a real cluster the master/memory settings come from
    spark-submit; everything else here is deployment-independent.
    """
    # One width for both cores and shuffle partitions. The test session
    # narrows it by setting SPARK_GRAFT_CPUS itself (tests/conftest.py).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The events fixture stores TIMESTAMP(NANOS) which Spark cannot
        # read natively; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Small-file fixtures: don't create thousands of tiny tasks, but
        # keep maxPartitionBytes at the 128m default so the 100 TB story
        # (one task per parquet row-group span) is unchanged.
        .config("spark.sql.files.openCostInBytes", "1048576")
        # AQE coalescing floor. The 1m default collapses this fixture's
        # byte-light but compute-dense shuffles (interpreted higher-order
        # functions over text/vectors) to 1 partition = 1 core. 64k keeps
        # ~cores-many partitions at test SFs; at 100 TB shuffle stages are
        # far above either floor, so the setting only affects the tail.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
