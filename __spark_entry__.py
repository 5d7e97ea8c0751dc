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

from imdb_top_250_etl_pipeline_spark.operators import pinning
from imdb_top_250_etl_pipeline_spark.plans import QUERIES, ORACLES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_top_customers"].fn(spark, "/root/testdata/sf0.001")


# Rolling pin-release for the driver's 50-query session (round 14).
#
# Many queries materialize intermediates via eager localCheckpoint (the
# package's pin discipline).  The grading driver runs every queries()
# entry in ONE vanilla session with no ambient pinning.pin_scope, so
# each query's blocks leaked until session end — 50 queries deep, the
# executor storage holds every dead block ever pinned (bench.py fixed
# the same hazard for itself in round 13; a GC-pressure flake from
# exactly this was observed in a driver-style verify run this round).
#
# pinning.rolling_pin_scope gives each query build its own scope and
# frees it a few builds later.  A sequential caller (build -> collect
# -> next, the contract the verify recipe mirrors) has consumed those
# results long ago; nothing is cached and nothing is computed early.


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: pinning.rolling_pin_scope(q.fn) for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins; keys without one get a rows-only check."""
    return dict(ORACLES)
