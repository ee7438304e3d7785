"""SparkSession factory tuned for the local[N] test harness.

The configs mirror what we would set on a real cluster: AQE on (runtime
partition coalescing + skew-join splitting), shuffle partitions sized to
the parallelism actually available, Arrow enabled for every
pandas-interop path, UTC session time zone so timestamp semantics match
the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "data-pipeline-playground-spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Janino class cache (static: set at create time). Spark's default
        # of 100 entries is below one service request's working set (99–111
        # generated classes per run_service_pipeline call, pyspark 4.1.2),
        # so warm requests kept evicting and recompiling: 42–57 compiles on
        # every warm request of 14 seeded ones. At 1000 most warm requests
        # compile nothing (a few compile 2–4 classes for a new plan shape).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # static config — set at create time so bucketed-table tests
        # never write a spark-warehouse/ dir into the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/dpp-spark-warehouse")
    )
    # Scale-dependent overrides stay parameterised (round-14 guide §9
    # discipline): $SPARK_GRAFT_EXTRA_CONFS is a ';'-separated k=v list
    # applied last, so a cluster profile (e.g. io.compression.codec=zstd,
    # files.maxPartitionBytes=1g on real NICs/disks) or an A/B probe can
    # set confs without editing this file. Local defaults above stay the
    # bench-comparable baseline.
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
