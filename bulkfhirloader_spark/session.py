"""SparkSession builder.

The reference parallelizes with a fixed goroutine pool (-workers, default 8;
main.go:35, main.go:106-109) and a bounded work queue (main.go:100).  In
Spark both concerns belong to the scheduler: task slots come from the
master/executor config and backpressure is implicit.  This builder only sets
the knobs that matter for correctness and local-vs-cluster portability:

- AQE on (runtime coalescing, skew-join splitting) — the 100 TB safety net.
- shuffle.partitions sized to the local core count instead of the 200
  default; on a real cluster AQE re-coalesces anyway.
- UTC session timezone so date math (functions.scalars.age_years) is
  deterministic across environments.
- Arrow enabled for the few pandas-UDF extension paths.
- Spark's generated-class cache sized to the engine's working set
  (``CODEGEN_CACHE_ENTRIES``), so a warm query reuses its compiled code.
- File listing kept on the driver up to ``LISTING_THRESHOLD`` paths, so a
  streaming micro-batch does not start a listing job per batch.

``spark.sql.codegen.cache.maxEntries`` is fixed once per JVM: Spark's
``CodeGenerator`` object sizes its cache from the conf of the first session
that generates code, and keeps that size past ``spark.stop()``.
``get_spark``'s value holds only when ``get_spark`` created that session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's codegen class cache holds 100 generated classes by default.  The
# 19 headline registry queries need ~380, so every warm pass of them
# recompiled ~270 classes (~16 ms each); the whole registry at sf0.01
# compiles 2,308 distinct cacheable classes plus ~41 uncacheable ones per
# pass.  Holding all of them costs +16 MB of driver metaspace (235 vs
# 219 MB); the cache is an LRU, so a longer-lived session stays bounded.
CODEGEN_CACHE_ENTRIES = 4096

# Paths one read lists on the driver before Spark fans the listing out into
# a job (default 32).  A streaming micro-batch reads its files as that many
# paths, up to the file source's default 1,000 per trigger; a 200-file batch
# ran 400 listing tasks in two jobs (3.2-3.6 s a batch; 0.9-1.1 s listed on
# the driver).  On an object store with slow status calls, pass a lower
# value through ``extra_conf``.
LISTING_THRESHOLD = 1024


def get_spark(
    app_name: str = "bulkfhirloader-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(LISTING_THRESHOLD),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
