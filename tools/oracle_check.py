#!/usr/bin/env python
"""Oracle-compare named registry queries at one or more scales.

    python tools/oracle_check.py q1,q2[,...] [sf0.001,sf0.01,sf0.1]

Exit 1 if any (query, scale) fails strict match.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    names = sys.argv[1].split(",")
    scales = (
        sys.argv[2].split(",") if len(sys.argv) > 2 else ["sf0.001", "sf0.01", "sf0.1"]
    )
    base = os.environ.get("MIS_TESTDATA", "/root/testdata")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from minimised_impala_spark.queries.registry import fresh
    from minimised_impala_spark.seams import query_scope
    from tests.oracle import compare

    oracles = entrymod.oracle_sql()
    bad: list[str] = []
    for sf in scales:
        sf_dir = os.path.join(base, sf)
        for n in names:
            t0 = time.time()
            try:
                with query_scope():
                    r = compare(n, spark, sf_dir, fresh(n), oracles[n])
                ok = r["ok"] and r["strict_match"]
                print(
                    f"{sf:8s} {n:34s} {'OK ' if ok else 'FAIL'} "
                    f"rows={r['spark_rows']}/{r['duck_rows']} {time.time() - t0:.1f}s",
                    flush=True,
                )
                if not ok:
                    bad.append(f"{sf}:{n}")
            except Exception as ex:  # noqa: BLE001
                print(f"{sf:8s} {n:34s} ERROR {ex}", flush=True)
                bad.append(f"{sf}:{n}")
    print("BAD:", bad)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
