"""The dedup family (extensions/dedup.py): the exact embedding recipe's
quadratic envelope and the composed near-dedup pipeline's rescore.

1. dedup_embedding is the blocked-exact all-pairs recipe, Θ(n²) by
   design: above its row envelope it raises an error that directs
   callers to the sub-quadratic recipes instead of OOMing an executor.
2. pipeline_near_dedup's rescore is one array_intersect per candidate
   pair — the shingle-level self-join (k² rows per hot shingle, the sf10
   worker OOM) must not reappear in the plan.
"""

from __future__ import annotations

import pytest

from minimised_impala_spark.extensions import dedup
from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import fresh

load_all()


def test_dedup_embedding_envelope_guard(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(dedup, "_EMB_EXACT_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        fresh("dedup_embedding")(spark, sf_dir)


def test_dedup_embedding_envelope_default_admits_fixture(spark, sf_dir):
    # the envelope (50k, 2.5× the sf1 fixture) admits every checked-in
    # fixture — the guard only fires out-of-envelope
    rows = dedup._parquet_footer_rows(f"{sf_dir}/embeddings.parquet")
    assert rows is not None and rows <= dedup._EMB_EXACT_MAX_ROWS
    df = fresh("dedup_embedding")(spark, sf_dir)
    assert df.columns == ["left_id", "right_id", "cosine"]


def test_near_dedup_rescore_is_per_pair_array_intersect(spark, sf_dir):
    # pin the rescore HELPER's plan (the composed pipeline materializes
    # its components eagerly, so the rescore subtree never appears in
    # the final query's plan): one array_intersect per candidate pair,
    # no shingle-on-shingle equi-join
    cand = dedup.lsh_candidate_pairs(spark, sf_dir)
    dups = dedup.exact_jaccard_rescore(cand, dedup.shingles(spark, sf_dir))
    opt = dups._jdf.queryExecution().optimizedPlan().toString()
    assert "array_intersect" in opt
    # the old rescore joined shingles on (sh = sh2) — a hot-shingle k²
    # blowup; its signature column must be gone from the plan
    assert "sh2" not in opt
    assert dups.columns == ["d1", "d2"]
