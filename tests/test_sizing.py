"""Gate tests for the task-sizing regimes (operators/sizing.py).

Each regime is driven through the public operator that uses it, and its
count or plan shape is read from the plan without running a job: the
plan's byte estimate is driven with ``spark.range(n)``, whose estimate
is exactly 8 bytes per row.  The seam width is pinned in
test_arrow_batch_bound.py, the small-hint top-k shape in
test_plan_shapes.py.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT
from tests.test_plan_shapes import plan_of

ONE_TASK_TOPK = 256 << 20
SCAN_KEYS = ("spark.sql.files.minPartitionNum", "spark.sql.files.openCostInBytes")


def _exchange_width(df, kind: str) -> int:
    """The partition count of the one ``kind`` exchange in ``df``'s plan."""
    (n,) = re.findall(rf"{kind}\(.*, (\d+)\)", plan_of(df, "simple"))
    return int(n)


def test_spread_width_follows_plan_bytes(spark):
    from imdb_top_250_etl_pipeline_spark.operators.dedup import spread

    par = spark.sparkContext.defaultParallelism
    # KB-scale: one quantum's worth of work or less -> the floor of 8
    tiny = spark.range(16)
    assert _exchange_width(spread(tiny, "id"), "hashpartitioning") == 8
    # byte-heavy (8 GB estimate): clamped to the parallelism count
    heavy = spark.range(1 << 30)
    assert _exchange_width(spread(heavy, "id"), "hashpartitioning") == max(
        2 * par, 8
    )


@pytest.mark.parametrize(
    "op, args",
    [
        ("grouped_row_number", (["g"], ["o"])),
        ("distributed_cumsum", (["o"], "o")),
        ("grouped_cumsum", (["g"], ["o"], "o")),
        ("distributed_prev_max", (["o"], "o")),
    ],
)
@pytest.mark.parametrize("rows", [16, 1 << 30])
def test_window_width_ignores_plan_bytes(spark, monkeypatch, op, args, rows):
    from imdb_top_250_etl_pipeline_spark.operators import windows

    # capture the range-repartitioned input instead of pinning it, so
    # building the operator runs no job
    seen = []

    def capture(parted):
        seen.append(parted)
        return parted.withColumn("_pid", F.spark_partition_id())

    monkeypatch.setattr(windows, "_pin_partition_ids", capture)
    par = spark.sparkContext.defaultParallelism
    df = spark.range(rows).selectExpr("id % 3 AS g", "id AS o")
    getattr(windows, op)(df, *args)
    (parted,) = seen
    assert _exchange_width(parted, "rangepartitioning") == max(2 * par, 8)


@pytest.mark.parametrize(
    "hint_rows, windows",
    [(ONE_TASK_TOPK // 8 - 1, 1), (ONE_TASK_TOPK // 8, 2), (1 << 32, 2)],
)
def test_topk_gate_at_256_mib(spark, hint_rows, windows):
    # a corpus hint under the bound ranks in one window; at or above it
    # the salted two-window plan stays, with max(par, 8) salt groups
    from imdb_top_250_etl_pipeline_spark.operators.similarity import (
        _two_phase_topk,
    )

    scored = spark.range(10).selectExpr(
        "id % 2 AS query_id", "id AS neighbor_id", "CAST(id AS DOUBLE) AS cos_sim"
    )
    hint = spark.range(hint_rows)
    plan = plan_of(_two_phase_topk(scored, 3, size_hint_df=hint), "simple")
    assert plan.count("Window ") == windows, plan
    salts = re.findall(r"pmod\(xxhash64\([^)]*\), (\d+)\) AS salt", plan)
    par = spark.sparkContext.defaultParallelism
    assert salts == ([str(max(par, 8))] if windows == 2 else []), plan


@pytest.fixture
def scan_floor_of(spark, monkeypatch):
    """Rebuild the session over a data dir and report the scan floor it
    set; the shared session's scan confs are restored afterwards."""
    from imdb_top_250_etl_pipeline_spark.session import get_spark

    saved = {k: spark.conf.get(k, None) for k in SCAN_KEYS}

    def probe(path):
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(path))
        s = get_spark("tests")
        return s.conf.get(SCAN_KEYS[0], None), s.conf.get(SCAN_KEYS[1], None)

    yield probe
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _sparse_dir(path, n_bytes):
    """A data dir holding one sparse file of ``n_bytes``: no disk written."""
    path.mkdir()
    with open(path / "blob.bin", "wb") as f:
        f.truncate(n_bytes)
    return path


def test_scan_floor_gate(spark, scan_floor_of, tmp_path):
    from imdb_top_250_etl_pipeline_spark.session import cpu_count

    splits = 2 * cpu_count()
    gate = splits * (2 << 20)  # 2 MiB per wanted split
    over = _sparse_dir(tmp_path / "over", gate)
    under = _sparse_dir(tmp_path / "under", gate - 1)
    # in sequence on one reused session: each probe sets or clears the
    # floor the one before it left
    assert scan_floor_of(over) == (str(splits), str(256 << 10))
    assert scan_floor_of(under) == (None, None)
    assert scan_floor_of(over) == (str(splits), str(256 << 10))
    assert scan_floor_of(tmp_path / "missing") == (None, None)
    # a value the floor did not write is the user's: under the gate it stays
    spark.conf.set(SCAN_KEYS[0], "3")
    assert scan_floor_of(under) == ("3", None)


def test_path_bytes_reads_hadoop_content_summary(spark):
    # the probe must equal a local walk to the byte: the default sf0.1
    # data dir sits at 1.04x the 4-CPU gate, so any drift could flip it
    from imdb_top_250_etl_pipeline_spark.operators.sizing import path_bytes

    walked = sum(
        os.path.getsize(os.path.join(root, name))
        for root, _dirs, files in os.walk(SF_CORRECT)
        for name in files
    )
    assert path_bytes(spark, "file://" + SF_CORRECT) == walked
    assert path_bytes(spark, SF_CORRECT) == walked
    assert path_bytes(spark, SF_CORRECT + "/no_such_dir") == 0
    assert path_bytes(spark, "nosuchfs://host/data") == 0
