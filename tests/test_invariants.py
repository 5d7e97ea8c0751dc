"""Unit pins for the invariant-row kit (plans/invariants.py) on tiny
in-memory frames: the violation count, the containment floor and the
row renderer's schema."""
from __future__ import annotations

import pyspark.sql.functions as F

from imdb_top_250_etl_pipeline_spark.plans.invariants import (
    FLAG,
    containment,
    found,
    render,
    violations,
)


def test_violations_is_zero_not_null_on_empty_input(spark):
    empty = spark.range(0).select(F.col("id").alias("x"))
    assert violations(empty, F.col("x") < 0).collect()[0].asDict() == {
        "n": 0,
        "ok": True,
    }
    nums = spark.range(10).select(F.col("id").alias("x"))
    row = violations(nums, F.col("x") >= 7).collect()[0]
    assert (row["n"], row["ok"]) == (3, False)


def test_containment_floor_is_an_integer_compare(spark):
    expected = spark.range(10)

    def ok(n_found: int, num: int, den: int) -> bool:
        hits = found(spark.range(n_found), expected, ["id"])
        row = containment(expected, hits, num, den).collect()[0]
        assert row["n"] == 10
        return row["ok"]

    assert ok(9, 9, 10)
    assert not ok(8, 9, 10)
    assert ok(10, 1, 1)
    assert not ok(9, 1, 1)


def test_render_declares_part_then_schema_with_typed_nulls(spark):
    schema = {"id_a": "bigint", "score": "double", "n": "bigint", "ok": "boolean"}
    nums = spark.range(3)
    planted = ("planted", nums, {"id_a": "id", "score": F.col("id") / 2})
    precision = ("precision", violations(nums, F.col("id") > 5), FLAG)
    out = render(schema, [planted, precision])
    declared = [
        ("part", "string"),
        ("id_a", "bigint"),
        ("score", "double"),
        ("n", "bigint"),
        ("ok", "boolean"),
    ]
    # each entry alone already binds the declared types: an omitted
    # column is a typed NULL, not a NULL-typed one
    for df in (out, render(schema, [planted]), render(schema, [precision])):
        assert [(f.name, f.dataType.simpleString()) for f in df.schema] == declared
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [
        ("planted", 0, 0.0, None, None),
        ("planted", 1, 0.5, None, None),
        ("planted", 2, 1.0, None, None),
        ("precision", None, None, 0, True),
    ]
