"""The session compiles each whole-stage-codegen class once.

Spark keeps generated classes in an LRU keyed by their source text.  A
repeated pass of the same queries generates the same sources, so once the
cache holds one pass's working set, a second pass compiles nothing.  With
the default 100-entry cache the llm dedup operators alone evict and
re-compile about a hundred classes on every pass.
"""

from __future__ import annotations

from imdb_top_250_etl_pipeline_spark.operators.pinning import pin_scope
from imdb_top_250_etl_pipeline_spark.plans import lookup

from .conftest import SF_SMOKE

PASS = ("dedup_exact_documents", "dedup_minhash_candidates", "multimodal_ahash_dedup")


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark) -> None:
    for name in PASS:
        with pin_scope():
            lookup(name).fn(spark, SF_SMOKE).collect()


def test_steady_pass_compiles_no_new_classes(spark):
    _run_pass(spark)
    before = _compilations(spark)
    _run_pass(spark)
    assert _compilations(spark) - before == 0
