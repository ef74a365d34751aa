"""Unit tests for operators/prefix.distributed_cumsum: the two-phase
parallel scan must match a naive single-partition running sum exactly, and
its plan must not funnel the full input through one window task."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from minimised_impala_spark.operators.prefix import distributed_cumsum

pytestmark = pytest.mark.usefixtures("in_query_scope")


def _naive(df, order_col, value_col):
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn("cum", F.sum(value_col).over(w))


def test_matches_naive_including_negatives(spark):
    rng = random.Random(7)
    rows = [(i, rng.randint(-50, 100)) for i in range(2000)]
    df = spark.createDataFrame(rows, "k bigint, v bigint").repartition(8)
    got = {
        r["k"]: r["cum"]
        for r in distributed_cumsum(df, "k", "v", "cum", num_partitions=8).collect()
    }
    want = {r["k"]: r["cum"] for r in _naive(df, "k", "v").collect()}
    assert got == want


def test_sparse_and_skewed_keys(spark):
    # non-contiguous keys, some empty range buckets
    rows = [(i * i * 7 + 3, i % 5) for i in range(500)]
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    got = distributed_cumsum(df, "k", "v", "cum", num_partitions=16)
    want = _naive(df, "k", "v")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_composite_tuple_order_key(spark):
    """Multi-column order keys rank lexicographically over the column
    LIST (range partition + window both take the tuple natively) — the
    replacement for the banned fixed-width scalar packing (score*1e10+id
    style), which collides once the low column outgrows its width. The
    test's (a, b) domain is exactly a collision case for 1000*a+b
    packing: b spans past 1000."""
    rng = random.Random(11)
    rows = [(rng.randint(0, 5), rng.randint(0, 5000), 1) for _ in range(3000)]
    # make (a, b) unique by dropping dup keys
    seen, uniq = set(), []
    for a, b, v in rows:
        if (a, b) not in seen:
            seen.add((a, b))
            uniq.append((a, b, v))
    df = spark.createDataFrame(uniq, "a bigint, b bigint, v bigint").repartition(8)
    got = distributed_cumsum(df, ["a", "b"], "v", "cum", num_partitions=8)
    w = Window.orderBy("a", "b").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cum", F.sum("v").over(w))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_no_global_window_over_input(spark):
    """The only partitionless window in the plan must be over the tiny
    per-bucket totals, never over the input: the input-side window must be
    partitioned (by the range-bucket id)."""
    # earlier tests' checkpoint RDDs may not be cleaned up yet, so the
    # assertion below diffs RDD ids instead of asserting an absolute count
    before_ids = {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}
    df = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v")
    )
    out = distributed_cumsum(df, "k", "v", "cum")
    plan = out._jdf.queryExecution().toString()
    # the local pass appears as a Window with partition spec on the pid col
    assert "__prefix_pid" in plan
    # Both branches must consume ONE materialization of the range
    # exchange. AQE ReusedExchange only fires when the two subtrees
    # canonicalize identically — which silently fails for some inputs,
    # re-sampling different range boundaries per branch (the ±2 offset
    # drift found by events_concurrency_curve). The operator therefore
    # pins bucket assignment with persist() (r12; previously an eager
    # localCheckpoint, which ran the exchange at plan-BUILD time): both
    # branches read InMemoryTableScans over ONE cached instance of the
    # range exchange — every rangepartitioning print in the executed
    # plan carries the same plan_id.
    out.collect()
    executed = out._jdf.queryExecution().executedPlan().toString()
    # string counting is brittle (the AQE string prints Final AND
    # Initial sections, and the cached subplan is itself adaptive), so
    # assert the invariant semantically: both join branches read the
    # cache, and exactly ONE RDD is materialized — i.e. one range
    # exchange executed, one boundary sampling, shared by both branches.
    assert executed.count("InMemoryTableScan") >= 2
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    new = [i for i in infos if i.id() not in before_ids]
    assert len(new) == 1, [i.name() for i in new]
