#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].
$SPARK_GRAFT_CPUS defaults to the cores this process may run on. ``--sf1``
runs the same suite at the 10x fixture ($SPARK_GRAFT_SF1_DIR, built by
tools/make_sf1.py when missing).

Prints two JSON lines: the full record, then a compact metric line
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ..., "cpus": N}
last, so a bounded tail capture of the log always holds it.

The headline set covers the plan shapes that dominate 100 TB workloads:
wide-agg scan (q1), selective scan (q6), multi-join star (q3/q5/q9/q18),
window analytics, sessionization, and the scale-path dedup/similarity
operators (LSH, not the quadratic baselines).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

HEADLINE = [
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q9",
    "tpch_q13",
    "tpch_q18",
    "window_topk_per_group",
    "events_sessionize",
    "dedup_minhash_lsh",
    "sim_lsh_ann",
]

# Timed and reported alongside, but not in the suite wall, so the wall
# stays comparable with earlier artifacts as queries are added.
EXTRA = [
    "dedup_embedding",
    "dedup_embedding_lsh",
    "sim_pq_ann",
    "text_bm25_topk",
    "text_chunk_overlap",
    "sim_filtered_ann",
    "text_domain_cap",
    "text_tfidf_keywords",
    "events_triangle_count",
    "agg_kll_accuracy_report",
    "dedup_threshold_sweep",
    "agg_weighted_percentile",
    "text_kneser_ney_lm",
    "pipeline_source_overlap_matrix",
    "pipeline_dedup_impact_report",
    "tpch_q2",
    "tpch_q11",
    "nested_tpch_q20",
    "nested_tpch_order_topn",
    "nested_tpch_q21",
]


def _prior_round_bound(sf1_mode: bool, cpus: int, root: str = HERE) -> float:
    """1.8x the total of the newest committed bench artifact taken at this
    scale on ``cpus`` cores: the sanity bound on an attempt's total, derived
    so it tracks the suite as it grows and speeds up. No bound (inf) when no
    artifact was taken at ``cpus`` cores: wall time depends on the core
    count. Reads the driver's wrapper ({"cpus": N, "parsed": {"value": ...}})
    and the compact metric line ({"cpus": N, "value": ...})."""
    best_round, total = -1, None
    for path in glob.glob(os.path.join(root, "BENCH_sf1_r*.json" if sf1_mode else "BENCH_r*.json")):
        m = re.search(r"_r(\d+)", os.path.basename(path))
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        val = (doc.get("parsed") or {}).get("value") or doc.get("value")
        if m and doc.get("cpus") == cpus and isinstance(val, (int, float)) and val > 0 \
                and int(m.group(1)) > best_round:
            best_round, total = int(m.group(1)), float(val)
    return round(1.8 * total, 3) if total is not None else float("inf")


def main() -> None:
    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import run
    from minimised_impala_spark.session import graft_cpus, local_test_session
    from minimised_impala_spark.tables import ALL_TABLES, load_table

    sf1_mode = "--sf1" in sys.argv
    if sf1_mode:
        sf_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/mis_sf1")
        if not os.path.isdir(sf_dir):
            subprocess.run([sys.executable, os.path.join(HERE, "tools", "make_sf1.py"), sf_dir], check=True)
    else:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = graft_cpus()
    # fewer draws at sf1: each is ~4x longer, and the best-of guard matters
    # less when a draw takes tens of seconds
    n_draws = int(os.environ.get("SPARK_GRAFT_DRAWS", "3" if sf1_mode else "5"))

    load_all()
    spark = local_test_session("mis-bench", cpus)

    # Warm the JVM and parquet footers once, not counted. q6 warms the
    # selective-scan shape and q1 the wide-agg codegen shape: q1 runs first
    # in the suite, so unwarmed its draws would all pay the cold window.
    for t in ALL_TABLES:
        load_table(spark, sf_dir, t)
    run(spark, "tpch_q6", sf_dir)
    run(spark, "tpch_q1", sf_dir)

    # Best of n_draws per query: the first draw pays JIT and codegen
    # compilation, later draws measure the steady state a long-running
    # engine serves in. Each draw builds a fresh DataFrame: re-collecting a
    # cached plan reuses materialized shuffle outputs and measures
    # incremental recomputation. plan_build_s (driver-side Python) and
    # exec_s (collect) are split because ambient load inflates both
    # uniformly while an engine regression moves exec_s of specific queries.
    # The shared host's load is spiky, so when the host looked busy as a
    # query's draws started, the draws run once more and the best is kept.
    load_retry_threshold = float(os.environ.get("SPARK_GRAFT_LOAD_RETRY", "16"))

    def best_of(name: str) -> dict:
        load1 = os.getloadavg()[0]
        n = n_draws * (2 if load1 > load_retry_threshold else 1)
        best = min((run(spark, name, sf_dir) for _ in range(n)), key=lambda r: r.build_s + r.exec_s)
        return {
            "sec": round(best.build_s + best.exec_s, 3),
            "plan_build_s": round(best.build_s, 3),
            "exec_s": round(best.exec_s, 3),
            "load1": round(load1, 2),
        }

    # Ambient gate. Load that starts or lands mid-suite inflates every
    # number, plan_build_s included. So each attempt (a) waits for load1
    # to fall strictly below the quiet target (load1 has a 1-minute time
    # constant, so a quiet window usually comes within minutes); attempts
    # (b) repeat until two start quiet and stay under the sanity bound, as
    # one contaminated attempt is likely but two rarely are; and the run
    # (c) publishes one coherent attempt, the quiet clean one with the
    # lowest total, so ambient_load1 is the start load of the run the
    # numbers came from, and (d) records every attempt's total and load.
    quiet_target = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "1.5"))
    max_attempts = int(os.environ.get("SPARK_GRAFT_QUIET_RETRIES", "4"))
    wait_budget_s = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "150"))
    want_quiet = int(os.environ.get("SPARK_GRAFT_QUIET_ATTEMPTS", "2"))
    custom_dir = not sf1_mode and sf_dir != "/root/testdata/sf0.1"
    sane = os.environ.get("SPARK_GRAFT_SANE_TOTAL")
    sane_total = float(sane) if sane else float("inf") if custom_dir else _prior_round_bound(sf1_mode, cpus)

    def _wait_for_quiet() -> None:
        deadline = time.time() + wait_budget_s
        while os.getloadavg()[0] >= quiet_target and time.time() < deadline:
            time.sleep(5)

    attempt_history: list[dict] = []
    attempts: list[tuple[float, dict, dict, float, bool]] = []
    for _ in range(max_attempts):
        _wait_for_quiet()
        start_load = os.getloadavg()[0]
        d = {name: best_of(name) for name in HEADLINE}
        e = {name: best_of(name) for name in EXTRA}
        tot = round(sum(v["sec"] for v in d.values()), 3)
        suspect = tot > sane_total
        attempt_history.append(
            {
                "total_sec": tot,
                "start_load1": round(start_load, 2),
                "end_load1": round(os.getloadavg()[0], 2),
                "suspect": suspect,
            }
        )
        attempts.append((tot, d, e, start_load, suspect))
        clean = [a for a in attempts if a[3] < quiet_target and not a[4]]
        if len(clean) >= want_quiet:
            break

    quiet_attempts = [a for a in attempts if a[3] < quiet_target]
    pool = clean or quiet_attempts or attempts
    total, detail, extra_detail, accepted_load, accepted_suspect = min(pool, key=lambda a: a[0])
    # the median of the published pool shows the spread the min came from
    pool_totals = sorted(a[0] for a in pool)
    mid = len(pool_totals) // 2
    median_total = round(
        pool_totals[mid] if len(pool_totals) % 2 else (pool_totals[mid - 1] + pool_totals[mid]) / 2, 3
    )
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    print(
        json.dumps(
            {
                "metric": "headline_suite_detail",
                "value": total,
                "unit": "sec",
                "query_detail": detail,
                "extra_query_detail": extra_detail,
                # start load1 of the published attempt; quiet_ambient false:
                # no attempt started below the quiet target
                "ambient_load1": round(accepted_load, 2),
                "quiet_ambient": accepted_load < quiet_target,
                # true only if every candidate exceeded the sanity bound
                "suspect": accepted_suspect,
                "sane_total_bound": None if sane_total == float("inf") else sane_total,
                "median_total_sec": median_total,
                "attempt_history": attempt_history,
                "sf": sf_val,
                "cpus": cpus,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_sec_sf1" if sf1_mode else "headline_suite_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": {name: d["sec"] for name, d in detail.items()},
                "extra_queries": {name: d["sec"] for name, d in extra_detail.items()},
                "sf": sf_val,
                "cpus": cpus,
            }
        )
    )


if __name__ == "__main__":
    main()
