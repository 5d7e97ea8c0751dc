"""Read-side task sizing: every task count, salt count and byte gate.

Plans are shaped for a ~100 TB cluster but also run on a few cores, so
each count derives from the default parallelism (``par``) and Catalyst's
static byte estimate of the optimized logical plan (``plan_bytes``: no
job).  The estimate can inflate by orders of magnitude above joins and
is missing on a Connect session, so a count that reads it is clamped to
the parallelism count, which always wins at production scale.

- ``width(df)``, ``max(2*par, 8)``: windows.py's range repartitions.
- ``width(df, SPREAD_QUANTUM)``, dedup.spread: one task per 32 KiB ahead
  of per-row-expensive passes (shingling, hashing), floor 8.  At local[32]
  the fixed 64-way spread lost to an 8-core control (sf0.1, min-of-4:
  simhash raw 3.55 -> 2.40 s, minhash raw 2.87 -> 1.74 s).
- ``width(df, SEAM_QUANTUM, floor=1)``, multimodal.widen_for_python: one
  Python worker per 128 KiB; the fixed 2*par fan paid ~60 worker
  launches for a few hundred KB of blobs at local[32].
- ``salts(df)``, ``max(par, 8)``: two-phase top-k salt groups; each key
  hashes to one group, so the result is the same for any count.
- ``fits_one_task(df)``: a top-k corpus under 256 MiB puts at most ~a
  million scored rows in one per-query task, so salting is skipped.
- ``scan_floor``: ``2*cpus`` scan splits (and a 256 KiB
  ``openCostInBytes``, since the 4 MiB default packs a several-MB file
  back into ~2 splits) when the input holds 2 MiB per split.  Byte-small
  CPU-dense corpora would otherwise scan one task per file; ungated, the
  floor scheduled near-empty splits of every small fixture file.
  ``session.get_spark`` probes ``$SPARK_GRAFT_SF_DIR`` on each call and
  sets or clears its own floor: a query later handed another ``sf_dir``
  keeps the session's floor, and perfbench sets the variable before the
  session starts.
- ``ARROW_BATCH_CAP``: 64 MiB per Arrow batch into Python; the default
  row-counted batching hands a worker multi-GB batches of large blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SPREAD_QUANTUM = 32 * 1024
SEAM_QUANTUM = 128 * 1024
ONE_TASK_BYTES = 256 * 1024 * 1024
SPLIT_BYTES = 2 * 1024 * 1024
OPEN_COST_BYTES = 256 * 1024
ARROW_BATCH_CAP = 64 * 1024 * 1024


def plan_bytes(df: DataFrame) -> int | None:
    """The optimized logical plan's size estimate in bytes, or None
    when the session has none (Connect)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _par(df: DataFrame) -> int:
    return df.sparkSession.sparkContext.defaultParallelism


def width(df: DataFrame, quantum: int | None = None, floor: int = 8) -> int:
    """Task count for a fan-out of ``df``: ``max(2*par, floor)``; with a
    ``quantum``, at most one task per ``quantum`` estimated bytes, and
    never under ``floor``."""
    n = max(2 * _par(df), floor)
    est = plan_bytes(df) if quantum else None
    if est is not None:
        n = max(floor, min(n, -(-est // quantum)))
    return n


def salts(df: DataFrame) -> int:
    """Salt groups for a two-phase top-k over ``df``."""
    return max(_par(df), 8)


def fits_one_task(df: DataFrame) -> bool:
    """True when ``df`` is estimated small enough for one top-k task."""
    est = plan_bytes(df)
    return est is not None and est < ONE_TASK_BYTES


def path_bytes(spark: SparkSession, path: str) -> int:
    """Bytes under ``path`` from Hadoop's content summary: driver-side
    metadata on any filesystem Hadoop reads (local, ``s3a://``,
    ``hdfs://``), no job.  Any failure, such as a missing path or an
    unknown scheme, reads 0."""
    try:
        p = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(p).getLength())
    except Exception:
        return 0


def scan_floor(spark: SparkSession, cpus: int, path: str) -> None:
    """Set the scan-split floor on ``spark`` when ``path`` holds at
    least ``SPLIT_BYTES`` per wanted split.  Otherwise clear a floor an
    earlier, larger dir left on a reused session: a key is unset only
    while it holds the value the floor writes, so one the user passed
    (``--conf``, spark-defaults) stays."""
    floor = {
        "spark.sql.files.minPartitionNum": str(2 * cpus),
        "spark.sql.files.openCostInBytes": str(OPEN_COST_BYTES),
    }
    over = path_bytes(spark, path) >= 2 * cpus * SPLIT_BYTES
    for key, value in floor.items():
        if over:
            spark.conf.set(key, value)
        elif spark.conf.get(key, None) == value:
            spark.conf.unset(key)
