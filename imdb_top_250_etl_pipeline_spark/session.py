"""SparkSession factory.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32
threads, single JVM), but every config below is chosen so the same plans
scale to a real multi-executor cluster at ~100 TB:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — at scale this is what rescues skewed shuffles.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a cluster
  AQE coalesces from a deliberately-high initial number.
- Arrow enabled so the Pandas-UDF slow path is batch-vectorized.
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _input_bytes(path: str) -> int:
    """Total bytes under the session's data dir — the cheap local-FS
    probe the scan-parallelism gate reads (best-effort: unreadable or
    remote paths count as 0, which keeps the floor off)."""
    total = 0
    try:
        for root, _dirs, files in os.walk(path):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    pass
    except OSError:
        pass
    return total


def get_spark(app_name: str = "imdb-top-250-etl-pipeline-spark") -> SparkSession:
    """Create (or get) the tuned SparkSession."""
    cpus = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # byte-level Arrow batch cap (round 12): the codec seam streams
        # media blobs into Python, and the default ROW-counted batching
        # (maxRecordsPerBatch=10000) would materialize multi-GB batches
        # on a multi-MB-blob corpus regardless of partitioning.  64 MiB
        # bounds per-batch worker memory; tests/test_arrow_batch_bound.py
        # pins the behavior with oversized synthetic blobs.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
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
    )
    # Floor on SCAN parallelism (round 13, guide §6): CPU-dense but
    # byte-small inputs (hashed-n-gram / shingling / codec corpora)
    # otherwise scan as one task per small file and serialize the
    # per-row work.  SIZE-GATED (round 14, guide §1/§6): the floor only
    # helps when an average split carries real bytes — ungated, it
    # forced 2*cpus splits on every scan of every byte-small fixture
    # file (63 empty-but-scheduled tasks per stage at local[32]; the
    # round-13 driver's 8-core control run beat its 32-core run on
    # identical code).  The gate derives from input size, not a mode
    # switch: floor applies iff the data dir holds >= 2 MiB per wanted
    # split, so it is OFF at sf0.1 (17 MB), ON at sf1 (269 MB) and at
    # any production scale, at every core count.
    floor = 2 * cpus
    if _input_bytes(os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)) >= (
        floor * 2 * 1024 * 1024
    ):
        builder = builder.config(
            "spark.sql.files.minPartitionNum", str(floor)
            # ...and the 4 MiB default openCostInBytes floors the computed
            # split size right back to ~2 splits on a several-MB file;
            # 256 KiB keeps tiny-file packing sane while the floor holds.
        ).config("spark.sql.files.openCostInBytes", str(256 * 1024))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
