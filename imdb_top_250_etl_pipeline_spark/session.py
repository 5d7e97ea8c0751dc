"""SparkSession factory.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the
CPUs this process may run on; single JVM), but every config below is
chosen so the same plans scale to a real multi-executor cluster at
~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — at scale this is what rescues skewed shuffles.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE coalesces from a deliberately-high initial number.
- Arrow enabled so the Pandas-UDF slow path is batch-vectorized.
- Task counts and byte gates, the scan-split floor and the Arrow
  batch byte cap among them, come from ``operators/sizing.py``.
- Session timezone pinned UTC: deterministic timestamps (and the DuckDB
  oracle compares naive-UTC values).
- ANSI off: casts yield NULL on bad input, matching the reference's
  ``safe_int``/``safe_decimal`` semantics (webscraper-postgres.py:174-188);
  we still prefer explicit ``try_cast`` in operators.
- Whole-stage-codegen class cache sized to the engine's working set, so
  a long-lived session compiles each generated class once instead of
  re-compiling (Janino, then JIT) the classes its LRU evicted.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .operators import sizing

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpu_count() -> int:
    """``$SPARK_GRAFT_CPUS``, else the CPUs in this process's affinity
    mask (a container's cpuset, not the host's core count)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(app_name: str = "imdb-top-250-etl-pipeline-spark") -> SparkSession:
    """Create (or get) the tuned SparkSession."""
    cpus = cpu_count()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(sizing.ARROW_BATCH_CAP))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache (static conf: fixed when the JVM's first
        # session starts).  Spark's default LRU of 100 entries is smaller
        # than one pass's working set -- 119 distinct classes per pass of
        # the llm dedup workload, 92 of the olap scan/join workload
        # (CodegenMetrics, perfbench inputs) -- so every repeated pass
        # evicted and re-compiled 86-108 (llm) / 23 (olap) of them.  2000
        # holds both with room for a long session's other queries.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read as a
        # timestamp; read as long and convert in the catalog (ns → µs,
        # truncating exactly like DuckDB's TIMESTAMP_NS → TIMESTAMP cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # files.maxPartitionBytes default 128m is right for the cluster; at
        # tiny local SFs AQE coalescing keeps task counts sane anyway.
        .getOrCreate()
    )
    sizing.scan_floor(spark, cpus, os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    spark.sparkContext.setLogLevel("WARN")
    # releasing a localCheckpoint pin (operators/pinning.py) truncates
    # lineage on purpose; Spark WARNs on every such unpersist
    log4j = spark.sparkContext._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD", log4j.Level.ERROR
    )
    return spark
