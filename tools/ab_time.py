#!/usr/bin/env python
"""Best-of-N fresh-draw timing for named registry queries — the bench's
per-query methodology (fresh plan + collect) without the full suite.
``compiled`` is the number of classes Janino compiled during the best draw
(Spark's CodegenMetrics): above 0 on a warm draw, the plan regenerates code
the codegen cache does not hold.

    python tools/ab_time.py q1,q2,... [draws]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1].split(",")
    draws = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from minimised_impala_spark.session import local_test_session
    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import fresh
    from minimised_impala_spark.seams import query_scope
    from minimised_impala_spark.tables import ALL_TABLES, load_table

    load_all()
    spark = local_test_session("mis-ab")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compilations = codegen.METRIC_COMPILATION_TIME()
    for t in ALL_TABLES:
        load_table(spark, sf_dir, t)
    # warm codegen/JVM same as bench
    fresh("tpch_q6")(spark, sf_dir).collect()
    print(f"load1={os.getloadavg()[0]:.2f}")
    for n in names:
        best = (float("inf"), 0.0, 0.0, 0)
        for _ in range(draws):
            with query_scope():
                c0 = compilations.getCount()
                t0 = time.perf_counter()
                df = fresh(n)(spark, sf_dir)
                t1 = time.perf_counter()
                df.collect()
                t2 = time.perf_counter()
            if t2 - t0 < best[0]:
                best = (t2 - t0, t1 - t0, t2 - t1, compilations.getCount() - c0)
        print(f"{n:34s} sec={best[0]:.3f} plan={best[1]:.3f} exec={best[2]:.3f} "
              f"compiled={best[3]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
