"""Invariant-row kit: the Spark side of a planted-invariant query.

A planted-invariant query (dedup, ANN search) runs its operator over a
fixture with planted ground truth and emits one small table of tagged
rows — ``planted`` pairs, a ``recall`` containment count, a
``precision`` violation count, … — whose every value an independent
DuckDB oracle restates by hand.  This module builds those rows; the
oracle stays hand-written SQL and is never rendered from here, or the
dual would check the kit against itself.

* ``render`` puts ``(tag, frame, {column: Column or name})`` entries onto
  one declared, ordered schema (``part`` first); every column an entry
  leaves out becomes a typed NULL.  The Spark-only twin of
  batteries.py's ``_table_battery``.
* ``violations`` — one row ``(n, ok)``: rows where ``bad`` holds, 0 on
  empty input, ``ok = n == 0``.
* ``found`` counts the probe rows a pair table contains;
  ``containment`` — one row ``(n, ok)``: ``n`` expected rows, ``ok``
  when ``found / n >= num / den`` as an integer compare.
* ``ann_recall`` / ``ranks_contiguous`` — one row ``(n_queries, ok)``
  each, the two checks every approximate top-k ranking carries.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# entry slots of a kit row that already carries `n` and `ok`
FLAG = {"n": "n", "ok": "ok"}
# the join key of a top-k ranking's (query, neighbor) hits
NEIGHBOR = ["query_id", "neighbor_id"]


def render(schema: dict[str, str], entries: list[tuple]) -> DataFrame:
    """Union ``(tag, frame, slots)`` entries by name, in order, onto
    ``part`` + ``schema`` (column -> SQL type).  A slot is a Column or a
    column name of the entry's frame; a column without a slot is a NULL
    of its declared type."""

    def row(tag: str, frame: DataFrame, slots: dict) -> DataFrame:
        return frame.select(
            F.lit(tag).alias("part"),
            *[
                (
                    F.col(slots[c]) if isinstance(slots.get(c), str)
                    else slots.get(c, F.lit(None))
                ).cast(t).alias(c)
                for c, t in schema.items()
            ],
        )

    return reduce(DataFrame.unionByName, [row(*e) for e in entries])


def violations(frame: DataFrame, bad: Column) -> DataFrame:
    """One row (n, ok): the rows of ``frame`` where ``bad`` holds (0,
    never NULL, on empty input) and whether there are none."""
    return (
        frame.select(F.when(bad, 1).otherwise(0).alias("bad"))
        .agg(F.coalesce(F.sum("bad"), F.lit(0)).cast("bigint").alias("n"))
        .select("n", (F.col("n") == 0).alias("ok"))
    )


def found(
    probe: DataFrame, pairs: DataFrame, on: list[str], count: Column | None = None
) -> DataFrame:
    """One row, column ``found``: the ``probe`` rows with a match in
    ``pairs`` on ``on`` — ``count(*)`` unless ``count`` says otherwise
    (a collapse-mapped probe counts its distinct planted ids)."""
    return probe.join(pairs.select(*on), on, "left_semi").agg(
        (F.count("*") if count is None else count).alias("found")
    )


def containment(
    expected: DataFrame, found_frame: DataFrame, num: int = 1, den: int = 1
) -> DataFrame:
    """One row (n, ok): ``n`` = rows of ``expected``; ``ok`` when the
    one-row ``found_frame``'s ``found`` reaches ``num/den`` of them,
    compared as the integer floor ``den * found >= num * n``."""
    return (
        expected.agg(F.count("*").cast("bigint").alias("n"))
        .crossJoin(F.broadcast(found_frame))
        .select("n", (den * F.col("found") >= num * F.col("n")).alias("ok"))
    )


def ann_recall(ann: DataFrame, exact: DataFrame, num: int, den: int) -> DataFrame:
    """One row (n_queries, ok): the queries ``ann`` answers, and whether
    its recall against the ``exact`` top-k reaches ``num/den`` (integer
    compare ``den * hits >= num * total``)."""
    return (
        ann.agg(F.countDistinct("query_id").cast("bigint").alias("n_queries"))
        .crossJoin(F.broadcast(found(ann.select(*NEIGHBOR), exact, NEIGHBOR)))
        .crossJoin(F.broadcast(exact.agg(F.count("*").alias("t"))))
        .select("n_queries", (den * F.col("found") >= num * F.col("t")).alias("ok"))
    )


def ranks_contiguous(ann: DataFrame, k: int) -> DataFrame:
    """One row (n_queries, ok): the queries ``ann`` answers, and whether
    every query's ranks run 1..c with c <= k."""
    per_q = ann.groupBy("query_id").agg(
        F.count("*").alias("c"),
        F.min("rank").alias("rmin"),
        F.max("rank").alias("rmax"),
    )
    return per_q.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        F.min(
            (F.col("rmin") == 1) & (F.col("rmax") == F.col("c")) & (F.col("c") <= k)
        ).alias("ok"),
    )
