"""Standing add-order invariance check (fast CI subset of the r9 sweep).

The driver hash is full-precision, so any query whose float output depends
on Spark's physical plan (partial-agg tree, input splits, shuffle fan-out)
is one parallelism change away from a red driver row — the class
`python tools/mis.py invariance` sweeps registry-wide and the nested-parity suite
first caught on tpch_q1's k=6 sum_charge (fixed with isum, tpch.py).

This subset re-runs the float-heaviest headline queries under flipped
runtime physical confs (shuffle.partitions 8→3, 256k splits, AQE off) and
asserts strict-canon-identical rows. registry.fresh() forces re-planning
under the flipped confs; both confs are runtime-mutable session confs so
no session restart is needed.
"""

from __future__ import annotations

import pytest

from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import fresh
from tests.oracle import canon_rows_strict

load_all()

# Float-aggregate-bearing queries across the suite's families: TPC-H money
# sums/ratios at every dsum width, window sums, events value aggs, text
# scores. (Integer/count-only outputs are trivially order-independent.)
NAMES = [
    "tpch_q1",
    "tpch_q6",
    "tpch_q8",
    "tpch_q14",
    "tpch_q17",
    "events_window_agg",
    "text_quality",
]

_FLIPPED = {
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.files.maxPartitionBytes": "262144",
    "spark.sql.adaptive.enabled": "false",
}


def _canon(df) -> list[tuple]:
    return canon_rows_strict(list(df.columns), [tuple(r) for r in df.collect()])


@pytest.mark.parametrize("name", NAMES)
def test_add_order_invariance(spark, sf_dir, name):
    baseline = _canon(fresh(name)(spark, sf_dir))
    saved = {k: spark.conf.get(k) for k in _FLIPPED}
    try:
        for k, v in _FLIPPED.items():
            spark.conf.set(k, v)
        flipped = _canon(fresh(name)(spark, sf_dir))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert baseline == flipped, (
        f"{name}: output depends on physical plan shape "
        f"({len(baseline)} vs {len(flipped)} canon rows)"
    )
