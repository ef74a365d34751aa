#!/usr/bin/env python
"""Static plan audit over the whole registry: build each query's
non-adaptive physical plan (no execution) and flag structural hazards —

  - rescan:    more parquet scans of one fixture table than distinct
               consumers need (a shared seam being recomputed)
  - pyrow:     BatchEvalPython (row-at-a-time Python) anywhere
  - cartesian: CartesianProduct nodes
  - globalwin: a Window with an empty partition spec (single-task sort)
               reading something bigger than a bounded aggregate
  - pysort:    a Python evaluation node in the stage that feeds a
               range-partitioning Exchange — the range partitioner
               samples its input by running that stage, so the Python
               stage runs twice (fix: shipping.order_after_python)

The first four rules skip builders that execute bounded jobs by spec
(streaming_, ddl_, source_, udf/udtf, trained-model rows, iterative graph
rows): their build cost/plans are execution artifacts, pinned elsewhere.
pysort checks every builder.

    python tools/plan_audit.py [name_prefix_filter]

The session is the engine's own (session.build_session) at local[nproc],
so the audit sees the plans the engine runs: CBO, join reorder and
runtime filters included.
"""
from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP_PREFIXES = ("streaming_", "ddl_", "source_", "udf_", "uda_", "udtf_",
                 "dialect_", "shell_", "hs2_")
SKIP_EXACT = {
    # run jobs at build (training collects / iterative algorithms /
    # physical state round trips)
    "sim_kmeans_cluster", "sim_pq_ann", "sim_ivfpq_ann", "sim_ivf_ann",
    "sim_diverse_sample", "sim_centroid_classify", "sim_knn_classify",
    "sim_mmr_rerank", "pipeline_incremental_stats", "events_pagerank",
    "pipeline_near_dedup", "dedup_cluster", "events_connected_components",
    "text_bpe_train", "pipeline_merge_upsert",
}
# ArrowEvalPython(UDTF), BatchEvalPython(UDTF), ArrowWindowPython and
# ArrowAggregatePython (AggregateInPandas/WindowInPandas before Spark 4).
PYTHON_NODE = re.compile(
    r"(Arrow|Batch)\w*Python\w*|MapInPandas|FlatMap\w*InPandas|\w*InArrow"
    r"|AggregateInPandas|WindowInPandas"
)


def physical_plan(df):
    """The non-adaptive physical plan (JVM SparkPlan). With AQE on, the
    executed plan is one AdaptiveSparkPlan leaf; the stage structure a
    rule walks is the plan AQE starts from, which is this one."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(key, old)


def _children(node) -> list:
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def python_nodes(plan) -> list[str]:
    """Names of every Python evaluation node in ``plan``."""
    found = [plan.nodeName()] if PYTHON_NODE.fullmatch(plan.nodeName()) else []
    for c in _children(plan):
        found += python_nodes(c)
    return found


def pysort(plan) -> list[str]:
    """Python nodes in a stage that feeds a range-partitioning Exchange.
    The walk down from each such Exchange stops at the stage boundary:
    another Exchange or an InMemoryTableScan."""
    hits: list[str] = []

    def stage(node) -> None:
        for c in _children(node):
            name = c.nodeName()
            if "Exchange" in name or name == "InMemoryTableScan":
                continue
            if PYTHON_NODE.fullmatch(name):
                hits.append(name)
            stage(c)

    def walk(node) -> None:
        if node.nodeName() == "Exchange" and (
            node.outputPartitioning().getClass().getSimpleName() == "RangePartitioning"
        ):
            stage(node)
        for c in _children(node):
            walk(c)

    walk(plan)
    return hits


def static_flags(plan: str) -> list[str]:
    """The rescan / pyrow / cartesian / globalwin rules over the plan text."""
    flags = []
    # per-table scan counts. A persisted subtree's plan is PRINTED
    # once per consuming InMemoryTableScan, so raw line counts
    # over-count cached scans — but those prints carry the SAME
    # expression ids, while genuinely separate scans get fresh ids.
    # Dedupe on (output-attribute signature, table).
    seen = set()
    scans: dict[str, int] = {}
    for m in re.finditer(
        r"FileScan parquet (\[[^\]]*\])[^\n]*file:[^\]\n]*/(\w+)\.parquet",
        plan,
    ):
        key = (m.group(1), m.group(2))
        if key in seen:
            continue
        seen.add(key)
        scans[m.group(2)] = scans.get(m.group(2), 0) + 1
    for tbl, cnt in scans.items():
        if cnt > 2:
            flags.append(f"rescan:{tbl}x{cnt}")
    if "BatchEvalPython" in plan:
        flags.append("pyrow")
    if "CartesianProduct" in plan:
        flags.append("cartesian")
    if re.search(r"windowspecdefinition\(spec", plan):
        flags.append("globalwin")
    return flags


def main() -> int:
    flt = sys.argv[1] if len(sys.argv) > 1 else ""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

    from minimised_impala_spark.session import build_session

    cpus = len(os.sched_getaffinity(0))
    spark = build_session(
        app_name="plan-audit",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from minimised_impala_spark.queries import load_all
    from minimised_impala_spark.queries.registry import QUERIES, fresh
    from minimised_impala_spark.seams import query_scope

    load_all()
    flagged: dict[str, list[str]] = {}
    n_checked = 0
    for name in QUERIES:
        if flt and flt not in name:
            continue
        static = not (name.startswith(SKIP_PREFIXES) or name in SKIP_EXACT)
        try:
            with query_scope():
                plan = physical_plan(fresh(name)(spark, sf_dir))
        except Exception as ex:  # noqa: BLE001
            flagged.setdefault(name, []).append(f"ERROR {type(ex).__name__}")
            continue
        n_checked += 1
        flags = static_flags(plan.toString()) if static else []
        if pysort(plan):
            flags.append("pysort")
        if flags:
            flagged[name] = flags
    print(f"checked {n_checked} plans")
    for name, flags in sorted(flagged.items()):
        print(f"{name:40s} {' '.join(flags)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
