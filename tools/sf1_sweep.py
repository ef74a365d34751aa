#!/usr/bin/env python
"""Full-registry DuckDB-oracle sweep at sf1 (10x the driver gate scale).

The r10 round proved this axis finds real defects the sf0.01 gate
cannot see (4 found: two dsum-margin overflows, a streaming zero-input
staging bug, a GROUP BY key divergence). This tool makes the sweep a
first-class, resumable artifact instead of an ad-hoc session loop:

    python tools/sf1_sweep.py                 # sweep everything not yet done
    python tools/sf1_sweep.py name [...]      # sweep specific names

State: one name per line in $MIS_SF1_DONE (default tools/sf1_done.txt,
checked in) — a name is appended ONLY on a strict match with engine
rows > 0 (zero-row results are the vacuous-green class; see
tools/scale_smoke.py). Failures print a FAIL line and are NOT recorded,
so re-runs retry them. Per-name wall time is logged so the heavies
(near-dedup's recursive-CTE oracle and friends) are visible.

Fixture: $MIS_SF1_DIR (default /tmp/mis_sf1, built by tools/make_sf1.py).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Rows whose correct engine output is legitimately 0 rows at some scale
# may be whitelisted here. tpcds_q53_deviation: its >10% quarterly-
# deviation filter keeps 0 of 100 brand-quarters at sf0.1 (measured max
# deviation 9.16%) — more lineitems per brand-quarter smooth the
# deviations the sf0.01 gate still exercises non-vacuously — and the
# replicated sf1/sf10 fixtures scale every quarter sum by the copy
# count, so the ratio filter is exactly scale-invariant: 0 rows is the
# CORRECT output there, engine and oracle agreeing (verified r12; the
# r11 sf1_done entry predates the zero-row guard and was vacuous).
ZERO_ROW_OK: set[str] = {"tpcds_q53_deviation"}


def main() -> int:
    sf1_dir = os.environ.get("MIS_SF1_DIR", "/tmp/mis_sf1")
    done_path = os.environ.get(
        "MIS_SF1_DONE",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf1_done.txt"),
    )
    if not os.path.isdir(sf1_dir):
        print(f"missing 10x fixture {sf1_dir}: run tools/make_sf1.py first",
              file=sys.stderr)
        return 2

    done: set[str] = set()
    if os.path.exists(done_path):
        done = {ln.strip() for ln in open(done_path) if ln.strip()}

    import __spark_entry__ as entrymod

    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    if len(sys.argv) > 1:
        names = sys.argv[1:]
    else:
        # $MIS_SF1_SKIP: comma-separated names to exclude from a no-args
        # sweep — for rows with a DOCUMENTED ceiling at this fixture
        # (e.g. at sf10: dedup_embedding's designed quadratic envelope
        # raises before any work; dedup_prefix_filter's verbatim-
        # replication pair blowup can OOM the shared session and poison
        # later rows). Explicit name args still run them.
        skip = {s for s in os.environ.get("MIS_SF1_SKIP", "").split(",") if s}
        names = [n for n in qs if n not in done and n not in skip]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown names: {unknown}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('MIS_SF1_CPUS', '16')}]")
        .config("spark.sql.shuffle.partitions", os.environ.get("MIS_SF1_CPUS", "16"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "10g"))
        # the COMPARE harness collects both result sets; LSH-pair rows
        # at the 100x fixture legitimately exceed the 1g default
        # (dedup_minhash_lsh: ~100M pairs) — a harness capacity, not an
        # engine-semantics, setting
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from minimised_impala_spark.queries.registry import fresh
    from minimised_impala_spark.seams import query_scope
    from tests.oracle import compare

    # Optional per-row wall clamp: $MIS_SF1_ROW_TIMEOUT seconds. DuckDB's
    # python binding checks for pending interrupts periodically, so a
    # SIGALRM-raised exception aborts a runaway oracle (the r10 sweep
    # stalled for a session on near-dedup's recursive-CTE oracle at 10x
    # docs). A timed-out row prints ERR and is retried on the next
    # resume — typically standalone with a bigger budget.
    row_timeout = int(os.environ.get("MIS_SF1_ROW_TIMEOUT", "0"))
    if row_timeout:
        import signal

        def _alarm(_sig, _frm):
            raise TimeoutError(f"row exceeded {row_timeout}s")

        signal.signal(signal.SIGALRM, _alarm)

    n_ok = n_fail = 0
    for i, name in enumerate(names):
        if name in done and len(sys.argv) <= 1:
            continue
        t0 = time.perf_counter()
        try:
            if row_timeout:
                import signal

                signal.alarm(row_timeout)
            with query_scope():
                r = compare(name, spark, sf1_dir, fresh(name), osql[name])
        except Exception as ex:  # noqa: BLE001 — sweep must survive one row
            print(f"{i:3d} {name:40s} ERR {type(ex).__name__}: {ex}",
                  flush=True)
            n_fail += 1
            continue
        finally:
            if row_timeout:
                import signal

                signal.alarm(0)
        dt = time.perf_counter() - t0
        strict = r.get("strict_match")
        vacuous = r["spark_rows"] == 0 and name not in ZERO_ROW_OK
        if r["ok"] and strict and not vacuous:
            print(f"{i:3d} {name:40s} OK rows={r['spark_rows']}/{r['duck_rows']} "
                  f"{dt:.1f}s", flush=True)
            if name not in done:
                with open(done_path, "a") as f:
                    f.write(name + "\n")
                done.add(name)
            n_ok += 1
        else:
            why = ("ZERO ROWS (vacuous)" if vacuous
                   else "loose-only match" if r["ok"] else
                   f"only_spark={r.get('only_spark')} only_duck={r.get('only_duck')} "
                   f"type_diffs={r.get('type_diffs')}")
            print(f"{i:3d} {name:40s} FAIL rows={r['spark_rows']}/{r['duck_rows']} "
                  f"{dt:.1f}s {why}", flush=True)
            n_fail += 1
    print(f"sf1_sweep: {n_ok} OK, {n_fail} FAIL; done-list now "
          f"{len({ln.strip() for ln in open(done_path)}) if os.path.exists(done_path) else 0} names",
          flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
