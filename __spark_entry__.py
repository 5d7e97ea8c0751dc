"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``imdb_top_250_etl_pipeline_spark/`` — this file
only adapts the registry to the driver's function signatures.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from imdb_top_250_etl_pipeline_spark.plans import QUERIES, ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_top_customers"].fn(spark, "/root/testdata/sf0.001")


# No pin release here: the caller owns each result, so it may build every
# entry first or use threads.  Spark's ContextCleaner frees a dropped
# result's blocks; a pinning.pin_scope() around the use frees them at once.


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins; keys without one get a rows-only check."""
    return dict(ORACLES)
