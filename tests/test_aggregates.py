"""The exact accumulators of the aggregate family (queries/tpch.py
``isum`` and ``isum_wide``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from minimised_impala_spark.queries.tpch import isum, isum_wide
from minimised_impala_spark.tables import load_table


def test_isum_wide_agrees_with_isum_in_envelope(spark, sf_dir):
    # inside the split-long envelope the two exact accumulators are the
    # same function: identical doubles for every q1-style column
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            isum(F.col("l_extendedprice"), 2).alias("a2"),
            isum_wide(F.col("l_extendedprice"), 2).alias("b2"),
            isum(rev, 4).alias("a4"),
            isum_wide(rev, 4).alias("b4"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert r["a2"] == r["b2"] and r["a4"] == r["b4"], tuple(r)
