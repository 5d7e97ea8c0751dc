"""Scale-safe window alternatives.

A ``Window.partitionBy(group)`` with LOW-cardinality groups (order
status, market segment, language — the common analytics keys) caps
parallelism at the number of groups: 5 segments over 100 TB means 5
tasks each sorting 20 TB.  Fine at fixture scale (the oracle queries in
plans/relational.py keep the plain window — it IS the reference
semantics), fatal at 100×.  This module provides the distributed
construction for the hot case:

row_number over (group, order) = range-repartition on (group, order...)
→ number rows within each (physical partition, group) cell → add the
per-group cumulative count of all earlier partitions.  Range
partitioning guarantees that, within a group, every row in partition i
orders before every row in partition i+1, so local numbers + offsets
reproduce the global sequence exactly (the with_surrogate_key argument,
operators/etl.py, generalized to grouped ranking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import sizing
from .pinning import eager_pin


def _pin_partition_ids(parted: DataFrame) -> DataFrame:
    """Freeze ``spark_partition_id()`` over a range-repartitioned frame.

    Every operator here joins per-row results against per-partition
    offsets, so BOTH branches of the plan must see the SAME partition
    assignment.  RangePartitioner samples its boundaries with a random
    seed: if Catalyst/AQE ever compiles the two branches as separate
    exchanges (observed nondeterministically under AQE when one branch
    sits beneath a broadcast stage), each side draws different
    boundaries and the offset join silently mixes two inconsistent
    ``_pid`` worlds.  An eager localCheckpoint materializes the
    repartitioned rows once and truncates lineage, making ``_pid`` a
    frozen fact instead of a recomputable expression — and as a bonus
    the range shuffle runs once, not once per branch.  At production
    scale the equivalent contract is persisting the repartitioned table
    (or a bucketed write) before the multi-pass consumption.

    Storage lifecycle: the pin registers with any ambient
    ``pinning.pin_scope`` — wrap pipeline compositions in one and the
    blocks are unpersisted when the scope closes.
    """
    return eager_pin(parted.withColumn("_pid", F.spark_partition_id()))


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    out_col: str = "rn",
) -> DataFrame:
    """row_number() OVER (PARTITION BY group_cols ORDER BY order_cols),
    distributed across ~parallelism tasks regardless of group count.

    ``order_cols`` accepts column names or Column expressions (e.g.
    ``F.desc("c_acctbal")``) and must be a total order within each group
    (include a unique tie-break key) — same contract as the window form,
    where ties would otherwise make row_number nondeterministic.

    Cost: one range shuffle + one tiny offset aggregate + one cell-keyed
    window whose parallelism is n_partitions × n_groups (versus
    n_groups for the plain window).

    EAGER: building this DataFrame runs a Spark job immediately — the
    range-repartitioned input is localCheckpoint-pinned so both plan
    branches see one frozen partition assignment (the _pin_partition_ids
    contract).  The pinned blocks live in executor storage until an
    ambient ``pinning.pin_scope`` closes (or the session ends); call
    sites that build many of these in one session should wrap the
    composition in a scope, or reuse the returned frame rather than
    re-invoking per pass.
    """
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    gcols = [F.col(c) for c in group_cols]
    n = sizing.width(df)
    parted = _pin_partition_ids(df.repartitionByRange(n, *gcols, *ocols))
    cell = W.partitionBy("_pid", *group_cols).orderBy(*ocols)
    local = parted.withColumn("_local_rn", F.row_number().over(cell))
    # one row per (partition, group) cell — tiny; cumulative count of all
    # EARLIER partitions for the same group is the cell's rank offset
    counts = local.groupBy("_pid", *group_cols).agg(F.count("*").alias("_n"))
    off_w = (
        W.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid",
        *group_cols,
        F.coalesce(F.sum("_n").over(off_w), F.lit(0)).alias("_offset"),
    )
    return (
        local.join(F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(out_col, (F.col("_offset") + F.col("_local_rn")).cast("long"))
        .drop("_pid", "_local_rn", "_offset")
    )


def distributed_cumsum(
    df: DataFrame,
    order_cols: list,
    value_col,
    out_col="cumsum",
) -> DataFrame:
    """Global running total of ``value_col`` in ``order_cols`` order,
    WITHOUT the single-task partition-less window: range-repartition on
    the order key, partial-sum within each partition, add the broadcast
    cumulative total of all earlier partitions.

    The distributed prefix-sum primitive — what sequence packing, quota
    assignment, and offset-based indexing need at corpus scale.
    ``order_cols`` must be a total order (unique tie-break key), same
    contract as grouped_row_number — including its EAGER contract: one
    Spark job runs at construction time and the repartitioned input is
    pinned in executor storage for the session.

    ``value_col``/``out_col`` accept a list to run SEVERAL prefix sums
    in the one pass (one repartition, one pin, one offsets broadcast) —
    what a two-sided ECDF comparison (`profiling.ks_statistic`) needs.
    """
    vcols = [value_col] if isinstance(value_col, str) else list(value_col)
    outs = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(vcols) != len(outs):
        raise ValueError("value_col and out_col lengths differ")
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = sizing.width(df)
    parted = _pin_partition_ids(df.repartitionByRange(n, *ocols))
    cell = (
        W.partitionBy("_pid")
        .orderBy(*ocols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = parted
    for v, _i in zip(vcols, range(len(vcols))):
        local = local.withColumn(f"_local_sum{_i}", F.sum(v).over(cell))
    totals = local.groupBy("_pid").agg(
        *[F.sum(v).alias(f"_n{i}") for i, v in enumerate(vcols)]
    )
    off_w = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    # partition-less window over ONE ROW PER PARTITION — bounded by the
    # partition count, never by data volume (the with_surrogate_key rule).
    # The offset stays NULL (not 0) when no earlier partition holds a
    # non-NULL value: SQL's running SUM is NULL only while the WHOLE
    # prefix is NULL, and an all-NULL partition must not poison later
    # partitions' sums (round-9 differential-fuzz find — offset+NULL
    # local sum returned NULL where SQL says the offset).
    offsets = totals.select(
        "_pid",
        *[
            F.sum(f"_n{i}").over(off_w).alias(f"_offset{i}")
            for i in range(len(vcols))
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid")
    for i, name in enumerate(outs):
        off, loc = F.col(f"_offset{i}"), F.col(f"_local_sum{i}")
        out = out.withColumn(
            name,
            F.when(
                off.isNull() & loc.isNull(), F.lit(None)
            ).otherwise(
                F.coalesce(off, F.lit(0)) + F.coalesce(loc, F.lit(0))
            ),
        )
    return out.drop(
        "_pid",
        *[f"_local_sum{i}" for i in range(len(vcols))],
        *[f"_offset{i}" for i in range(len(vcols))],
    )


def grouped_cumsum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    value_col: str,
    out_col: str = "cumsum",
) -> DataFrame:
    """sum(value) OVER (PARTITION BY group_cols ORDER BY order_cols ROWS
    UNBOUNDED PRECEDING), distributed across ~parallelism tasks
    regardless of group count — the grouped twin of distributed_cumsum,
    built exactly like grouped_row_number with sum as the combine.

    This is the primitive behind per-source token budgeting (UNIMAX
    application, per-domain quota cuts): a handful of giant sources must
    not become a handful of giant tasks.  ``order_cols`` must be a total
    order within each group (unique tie-break key); EAGER like
    grouped_row_number — the range-repartitioned input is
    localCheckpoint-pinned (``_pin_partition_ids`` contract), released
    by an ambient ``pinning.pin_scope``.
    """
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    gcols = [F.col(c) for c in group_cols]
    n = sizing.width(df)
    parted = _pin_partition_ids(df.repartitionByRange(n, *gcols, *ocols))
    cell = (
        W.partitionBy("_pid", *group_cols)
        .orderBy(*ocols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = parted.withColumn("_local_sum", F.sum(value_col).over(cell))
    # one row per (partition, group) cell — tiny; the cumulative sum of
    # all EARLIER partitions' cells for the same group is the offset.
    # NULL handling mirrors distributed_cumsum: the running SUM is NULL
    # only while the group's WHOLE prefix is NULL, so the offset stays
    # NULL (not 0) until an earlier partition holds a non-NULL value
    # and an all-NULL local prefix must not poison offset+local
    # (round-9 differential-fuzz find).
    totals = local.groupBy("_pid", *group_cols).agg(
        F.sum(value_col).alias("_n")
    )
    off_w = (
        W.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_pid",
        *group_cols,
        F.sum("_n").over(off_w).alias("_offset"),
    )
    off, loc = F.col("_offset"), F.col("_local_sum")
    return (
        local.join(F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(
            out_col,
            F.when(off.isNull() & loc.isNull(), F.lit(None)).otherwise(
                F.coalesce(off, F.lit(0)) + F.coalesce(loc, F.lit(0))
            ),
        )
        .drop("_pid", "_local_sum", "_offset")
    )


def distributed_prev_max(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "prev_max",
) -> DataFrame:
    """Running maximum of ``value_col`` over all rows STRICTLY EARLIER in
    ``order_cols`` order (NULL for the globally first row), without a
    partition-less window — same range-repartition + per-partition-offset
    construction as distributed_cumsum, with max as the combine.

    The exclusive frame is what event-time watermarking needs: a row is
    late iff its timestamp falls more than the allowed delay behind the
    max event time of the rows that ARRIVED before it — its own
    timestamp must not vaccinate it.  ``order_cols`` must be a total
    order (unique tie-break key).  EAGER like grouped_row_number: a
    Spark job runs at construction time and the repartitioned input is
    pinned in executor storage for the session.
    """
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    n = sizing.width(df)
    parted = _pin_partition_ids(df.repartitionByRange(n, *ocols))
    cell = (
        W.partitionBy("_pid")
        .orderBy(*ocols)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = parted.withColumn("_local_max", F.max(value_col).over(cell))
    totals = parted.groupBy("_pid").agg(F.max(value_col).alias("_m"))
    off_w = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    # one row per partition through the partition-less window — bounded
    # by partition count, never data volume (the distributed_cumsum rule)
    offsets = totals.select(
        "_pid", F.max("_m").over(off_w).alias("_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.greatest("_local_max", "_offset"))
        .drop("_pid", "_local_max", "_offset")
    )


def quantile_bins(
    df: DataFrame,
    value_col: str,
    n_bins: int = 10,
    accuracy: int = 10000,
    exact: bool = False,
) -> DataFrame:
    """Equal-frequency discretization: adds ``bin`` in [0, n_bins) such
    that each bin holds ~1/n_bins of the rows (feature bucketization
    before training / drift monitoring).

    Edges come from one approx_percentile aggregate (mergeable sketch,
    the 100 TB path for quantiles) and reach every row as a broadcast
    single-row cross join — no driver-side collect, so the operator
    composes lazily like everything else.  Assignment counts edges <=
    value over the tiny edge array; ties at an edge go to the higher
    bin, NULL values get NULL bins.

    ``exact=True`` swaps the sketch for the exact interpolated
    ``percentile`` aggregate — linear interpolation at rank p*(n-1),
    the same definition (and measured bit-identical doubles) as
    DuckDB's ``quantile_cont``, which is what makes the operator
    oracle-checkable.  Exact percentile buffers each group's values, so
    it is the small-data/driver-verification path; production stays on
    the mergeable sketch.
    """
    probs = ", ".join(str(i / n_bins) for i in range(1, n_bins))
    agg = (
        f"percentile({value_col}, array({probs}))"
        if exact
        else f"approx_percentile({value_col}, array({probs}), {accuracy})"
    )
    edges = df.agg(F.expr(agg).alias("_edges"))
    return (
        df.crossJoin(F.broadcast(edges))
        .withColumn(
            "bin",
            F.when(
                F.col(value_col).isNotNull(),
                F.size(F.filter("_edges", lambda e: e <= F.col(value_col))),
            ).cast("int"),
        )
        .drop("_edges")
    )


def running_distinct(
    df: DataFrame,
    part_col: str,
    value_col: str,
    order_cols: list[str],
    out_col: str = "n_distinct_so_far",
) -> DataFrame:
    """Cumulative distinct count per partition: for each row, how many
    DISTINCT ``value_col`` values its partition has seen up to and
    including it — "unique products viewed so far", the running-uniques
    curve engagement analytics plot.

    A running ``collect_set`` would carry an unbounded set through the
    window state; instead each value's FIRST occurrence (row_number
    over (partition, value) == 1, ties broken by ``order_cols``) flags
    1 and a plain running SUM of the flags gives the count — two
    window passes, each a hash shuffle, state O(1) per row.  Fully
    deterministic when ``order_cols`` is a total order (include a
    unique id as the last key), hence oracle-checkable.
    """
    w_first = W.partitionBy(part_col, value_col).orderBy(*order_cols)
    flagged = df.withColumn(
        "_first", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    )
    w_run = (
        W.partitionBy(part_col)
        .orderBy(*order_cols)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return flagged.withColumn(
        out_col, F.sum("_first").over(w_run).cast("long")
    ).drop("_first")
