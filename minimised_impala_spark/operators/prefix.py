"""Distributed prefix sum (global running total) without a global sort
bottleneck.

The naive Spark spelling — ``Window.orderBy(key)`` with no partitionBy —
funnels EVERY row through one task (Spark even warns "No Partition Defined
for Window operation"), which is a non-starter at 100 TB. The reference has
no streaming/scan primitive either (its AnalyticEvalNode sorts per
partition, `be/src/exec/analytic-eval-node.h:58`), so this is the classic
two-phase parallel scan expressed in DataFrame ops:

1. range-repartition by the ordering key (sampled boundaries — scalable),
2. per-partition local cumulative sums (parallel windows keyed by the
   physical partition id),
3. a tiny per-partition totals table (#partitions rows) turned into
   exclusive bucket offsets and broadcast-joined back.

Total cost: one range shuffle + one pid-keyed window shuffle + a broadcast
of #partitions rows. No single-task stage touches the full data.

Determinism note: `spark_partition_id()` is stable within one execution of
the range exchange (AQE coalescing merges contiguous ranges, preserving
bucket order), and the final result depends only on (order_col, value_col),
not on the bucketing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from minimised_impala_spark.seams import seam

_PID = "__prefix_pid"
_LOCAL = "__prefix_local"
_OFF = "__prefix_off"


def distributed_cumsum(
    df: DataFrame,
    order_col: str | list[str],
    value_col: str | Column,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out_col`` = inclusive running sum of ``value_col`` in
    ``order_col`` order, computed with the two-phase parallel scan above.

    ``order_col`` is a unique (total-order) key: one column name or a
    list of names forming a composite key. Pass the tuple form rather
    than packing multiple columns into one scalar — fixed-width scalar
    packing (d*1000+node, score*1e10+id, lpad concat) is the banned
    key-collision class; range partitioning and windows order lexically
    over the column list natively. ``value_col`` may be any numeric
    column or expression.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # persist() PINS the bucket assignment: `ranged` feeds both the
    # local-cumsum branch and the totals branch, and without
    # materialization each branch re-executes the range exchange —
    # RangePartitioner re-SAMPLES boundaries per execution (sample seed
    # derives from the RDD id), so the two executions can split a
    # boundary a few rows apart and the offsets no longer match the
    # bucket contents (observed as a ±2 drift in the concurrency sweep:
    # rows that switched buckets get double/never-counted in the offset).
    # Both branches read the one materialized RDD; block-level locks
    # serialize racing tasks.
    ranged = seam(
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn(_PID, F.spark_partition_id())
    )
    local_w = (
        Window.partitionBy(_PID)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn(_LOCAL, F.sum(value).over(local_w))
    # per-bucket totals from the raw values (NOT max of the running sum —
    # negative values would break that)
    totals = ranged.groupBy(_PID).agg(F.sum(value).alias("__tot"))
    # exclusive prefix over the per-bucket totals: #partitions rows, so a
    # driver-free single-partition window here is fine (and unavoidable)
    off_w = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        _PID, F.coalesce(F.sum("__tot").over(off_w), F.lit(0)).alias(_OFF)
    )
    return (
        local.join(F.broadcast(offsets), _PID)
        .withColumn(out_col, F.col(_LOCAL) + F.col(_OFF))
        .drop(_PID, _LOCAL, _OFF)
    )
