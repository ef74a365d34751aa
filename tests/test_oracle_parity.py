"""Differential test: every registered query with an oracle hash-matches
DuckDB at the test scale factor. This is the local mirror of the driver's
t2 correctness gate. Each query is built fresh inside its own
``query_scope()`` and must leave no persistent RDD behind when the scope
exits. The check compares RDD ids, not counts: Spark's ContextCleaner may
unpersist another test's unreferenced RDD while a query runs."""

from __future__ import annotations

import pytest

from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import ORACLES, QUERIES, fresh
from minimised_impala_spark.seams import query_scope

from tests.oracle import compare

load_all()


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name: str, spark, sf_dir: str):
    before = _persistent(spark)
    with query_scope():
        res = compare(name, spark, sf_dir, fresh(name), ORACLES[name])
    assert res["ok"], res
    # The driver's hash is full-precision on floats and -0.0-sensitive
    # (r3 evidence, NOTES.md): strict_match is the signal that predicts
    # its verdict, so a query passing only the 9-sig-digit canon fails CI.
    assert res["strict_match"], {**res, "why": "float bits differ from oracle"}
    assert not _persistent(spark) - before, "seams outlived the query scope"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only(name: str, spark, sf_dir: str):
    before = _persistent(spark)
    with query_scope():
        assert fresh(name)(spark, sf_dir).count() >= 0
    assert not _persistent(spark) - before, "seams outlived the query scope"
