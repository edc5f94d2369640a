"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a 1000-executor cluster deployment
would set per-executor: AQE on (runtime re-plan, skew-join handling,
partition coalescing), shuffle partitions sized to cores (cluster:
~2-3x total cores), UTC session timezone (oracle comparisons are
timezone-naive), Arrow enabled for the Pandas-UDF path.

The generated-code cache (``spark.sql.codegen.cache.maxEntries``) holds
4096 compiled classes instead of Spark's 100. Whole-stage and
projection classes are cached JVM-wide and keyed on their source, so a
repeated query can reuse them; at 100 entries a mixed workload larger
than the cache (the 11-query interactive pool needs ~155) cycles
through the LRU, and every miss re-runs Janino, loads a new class and
restarts JIT on it. One sf0.01 pass over the full registry makes ~2,630
distinct classes, so 4096 holds that working set and stays a bound.
It caches compiled plan code only, never data. The conf is static and
JVM-wide: it takes effect only when ``get_spark`` launches the JVM,
and a session built elsewhere (a plain ``SparkSession.builder``, as in
``scripts/driver_sim.py --vanilla``) keeps the default of 100.

The driver JVM reserves C2, HotSpot's optimizing JIT tier, for code
that runs hotter than usual: its tier-4 thresholds are 3x the JDK 17
defaults (invocations 15000/1800, compile 45000, back-edges 120000,
from 5000/600/15000/40000). In a short interactive session most of the
driver's CPU is the JVM compiling Spark itself, and three quarters of
that is C2 time spread over thousands of Catalyst, scheduler,
serializer, Scala and JDK methods that cross the default thresholds
but run for only a few more queries. C1 still compiles all of them at
the usual point; only the C2 pass waits until a method has run 3x as
often. In local mode the tasks run in this JVM too, so their per-row
Spark code waits longer for C2 as well. That bounds the multiplier:
at 10x the median mid-size sf0.1 query of ``bench.py`` (0.3-0.6 s)
ran 9% and 24% slower in two runs at 4 cores, while at 3x its sf0.1
run held and the interactive CPU saving was about the same. Whole-stage generated loops still
reach C2 within a multi-million-row action (``tests/test_plans.py``
checks one 30M-row aggregate). The flags go in
``spark.driver.defaultJavaOptions``, which spark-submit prepends to
``spark.driver.extraJavaOptions``; a caller's own ``extraJavaOptions``
(given in ``PYSPARK_SUBMIT_ARGS``, which wins over builder confs)
therefore keeps them instead of replacing them. Like the codegen cache
they apply only to a JVM that ``get_spark`` launches: an existing
session, the vanilla correctness session and cluster executors keep
the JVM defaults.
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
        # Reuse compiled classes across repeated queries (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Reserve C2 for hot code: 3x tier-4 thresholds (module docstring).
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
            "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000",
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
