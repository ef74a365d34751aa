#!/usr/bin/env python
"""Dry-run the driver's t2 correctness gate locally.

Runs tests/oracle.compare over the registry in driver priority order at
sf0.01 (the gate scale) with a plain SparkSession, recording what
CORRECTNESS_r{N}.json will record. The gate collects the memoized
__spark_entry__.queries() in one session with no scope, so a query may
read an earlier query's seams (tests/test_seams.py pins that path); here
each query is built fresh inside its own query_scope(). Use before
ending a round:

    python tools/driver_dryrun.py           # first 50 (the driver cap)
    python tools/driver_dryrun.py 0 999     # everything
    python tools/driver_dryrun.py 50 999    # the tail beyond the cap
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    lo = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    hi = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    sf_dir = os.environ.get("MIS_DRYRUN_SF_DIR", "/root/testdata/sf0.01")

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
    names = list(entrymod.queries())[lo:hi]
    bad: list[str] = []
    empty: list[str] = []
    for i, n in enumerate(names, start=lo + 1):
        t0 = time.time()
        try:
            with query_scope():
                r = compare(n, spark, sf_dir, fresh(n), oracles[n])
            ok = r["ok"] and r["strict_match"]
            print(
                f"{i:3d} {n:34s} {'OK ' if ok else 'FAIL'} "
                f"rows={r['spark_rows']}/{r['duck_rows']} {time.time() - t0:.1f}s",
                flush=True,
            )
            if not ok:
                bad.append(n)
            if ok and r["spark_rows"] == 0:
                empty.append(n)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            print(f"{i:3d} {n:34s} ERROR {str(ex).splitlines()[0][:120]}", flush=True)
            bad.append(n)
    print("BAD:", bad)
    if empty:
        # standing r9 audit class: a green compare over an EMPTY result
        # is vacuous (both engines agreeing on zero rows tests nothing).
        # Inspect each name — either the threshold drifted outside the
        # fixture's data range (fix it) or the emptiness is a reviewed
        # small-fixture sparsity effect (document it in NOTES.md).
        print("EMPTY-BUT-GREEN (review per the zero-row audit):", empty)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
