"""Pins for the round-12 fixes.

1. dedup_embedding's quadratic-envelope guard (VERDICT r11 directive #6):
   the blocked-exact all-pairs recipe is Θ(n²) by design; above the
   documented row envelope it must raise a loud error directing callers
   to the sub-quadratic recipes instead of OOMing an executor at 100×.
2. pipeline_near_dedup's rescore (directive #5) is one array_intersect
   per candidate pair — the shingle-level self-join (k² rows per hot
   shingle, the sf10 worker OOM) must not reappear in the plan.
"""

from __future__ import annotations

import os

import pytest

from minimised_impala_spark.queries import load_all

load_all()


def test_dedup_embedding_envelope_guard(spark, sf_dir, monkeypatch):
    from minimised_impala_spark.queries.registry import fresh

    monkeypatch.setenv("MIS_EMB_EXACT_MAX_ROWS", "10")
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        fresh("dedup_embedding")(spark, sf_dir)


def test_dedup_embedding_envelope_default_admits_fixture(spark, sf_dir):
    # the default envelope (50k, 2.5× the sf1 fixture) admits every
    # checked-in fixture — the guard only fires out-of-envelope
    from minimised_impala_spark.queries.registry import fresh

    assert "MIS_EMB_EXACT_MAX_ROWS" not in os.environ
    df = fresh("dedup_embedding")(spark, sf_dir)
    assert df.columns == ["left_id", "right_id", "cosine"]


def test_near_dedup_rescore_is_per_pair_array_intersect(spark, sf_dir):
    # pin the rescore HELPER's plan (the composed pipeline materializes
    # its components eagerly, so the rescore subtree never appears in
    # the final query's plan): one array_intersect per candidate pair,
    # no shingle-on-shingle equi-join
    from minimised_impala_spark.extensions.dedup import (
        exact_jaccard_rescore,
        lsh_candidate_pairs,
        shingles,
    )

    cand = lsh_candidate_pairs(spark, sf_dir)
    dups = exact_jaccard_rescore(cand, shingles(spark, sf_dir))
    opt = dups._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in opt
    # the old rescore joined shingles on (sh = sh2) — a hot-shingle k²
    # blowup; its signature column must be gone from the plan
    assert "sh2" not in opt
    assert dups.columns == ["d1", "d2"]


def test_isum_wide_agrees_with_isum_in_envelope(spark, sf_dir):
    # inside the split-long envelope the two exact accumulators are the
    # same function: identical doubles for every q1-style column
    from pyspark.sql import functions as F

    from minimised_impala_spark.queries.tpch import isum, isum_wide
    from minimised_impala_spark.tables import load_table

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
