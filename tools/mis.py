#!/usr/bin/env python
"""One command line for the registry tools.

    python tools/mis.py time tpch_q1 tpch_q6 --sf DIR [--draws 5]
    python tools/mis.py oracle tpch_q6 --sf DIR           # named queries
    python tools/mis.py oracle --driver 0:50 --sf DIR     # driver-order slice
    python tools/mis.py oracle --done tools/sf1_done.txt --sf DIR  # resumable
    python tools/mis.py invariance --driver 0:50 --sf DIR
    python tools/mis.py scale q [q ...] --sf SMALL --big LARGE
    python tools/mis.py profile --sf DIR > PROFILES.md
    python tools/mis.py audit [filter] --sf DIR           # plan-shape rows
    python tools/mis.py audit --sf perfbench/fixtures/sf0.001 > PLANSHAPES.tsv
    python tools/mis.py explain q [q ...] --sf DIR

Every query runs through ``registry.run``: built fresh, collected and its
seams released inside its own query scope, so no query reads an earlier
one's seams. ``audit`` and ``explain`` only build, each inside a scope.
``audit`` prints one tab-separated row of operator counts per query, the
table tests/test_plans.py diffs against the committed PLANSHAPES.tsv.
``oracle`` and ``invariance`` run on the plain session the driver grades
with (no engine preset); the others on ``session.local_test_session``.
Every session is local[--cpus], which defaults to the cores this process
may run on.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from minimised_impala_spark.engine import render_profile  # noqa: E402
from minimised_impala_spark.queries.registry import ORACLES, QUERIES, run  # noqa: E402
from minimised_impala_spark.seams import query_scope  # noqa: E402
from minimised_impala_spark.session import local_test_session  # noqa: E402
from minimised_impala_spark.tables import ALL_TABLES, load_table  # noqa: E402
from tests.oracle import canon_rows_strict, compare_rows  # noqa: E402

# Queries whose correct output is empty at some fixture scale, engine and
# oracle agreeing. tpcds_q53_deviation: its >10% quarterly-deviation filter
# keeps 0 of 100 brand-quarters at sf0.1 (max deviation 9.16%), and the
# replicated sf1/sf10 fixtures scale every quarter sum by the copy count, so
# the ratio filter is scale-invariant; sf0.01 still exercises it non-empty.
ZERO_ROW_OK = {"tpcds_q53_deviation"}


def vacuous(name: str, row_counts: list[int]) -> bool:
    """A result with 0 rows at any probed scale tests nothing: two engines
    agreeing on no rows, or a timing over empty input (a streaming query
    that staged no input files at sf1 once timed as a pass)."""
    return 0 in row_counts and name not in ZERO_ROW_OK


def plain_session(cpus: int, conf: dict[str, str] | None = None) -> SparkSession:
    """The driver's plain session, plus ``conf``."""
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        # the harness collects both result sets; LSH pair rows at the 100x
        # fixture exceed the 1g default
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _selected(args) -> list[str]:
    """Named queries, else the ``--driver LO:HI`` slice of the driver's
    order (all of it by default), less the ``--done`` list."""
    names = args.names or list(entry.queries())[
        slice(*(int(x) if x else None for x in args.driver.split(":")))
    ]
    done = _done(args)
    return [n for n in names if n not in done]


def _done(args) -> set[str]:
    if not getattr(args, "done", None) or not os.path.exists(args.done):
        return set()
    with open(args.done) as f:
        return {ln.strip() for ln in f if ln.strip()}


def time_(spark, args) -> int:
    """Best-of-N draws. ``compiled`` counts the classes Janino compiled
    during the best draw: above 0 on a warm draw, the plan generates code
    the codegen cache does not hold. ``py4j`` counts the round trips of
    the best draw's build, GC releases excluded (``registry.py4j_sent``)."""
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for t in ALL_TABLES:
        load_table(spark, args.sf, t)
    run(spark, "tpch_q6", args.sf)
    print(f"load1={os.getloadavg()[0]:.2f}")
    for n in args.names:
        draws = []
        for _ in range(args.draws):
            c0 = compilations.getCount()
            r = run(spark, n, args.sf)
            draws.append((r.build_s + r.exec_s, r.build_s, r.exec_s,
                          compilations.getCount() - c0, r.build_py4j))
        sec, build, exe, compiled, py4j = min(draws)
        print(f"{n:34s} sec={sec:.3f} plan={build:.3f} exec={exe:.3f} compiled={compiled} py4j={py4j}")
    return 0


def oracle(spark, args) -> int:
    """Strict DuckDB-oracle match; with ``--done``, each strict, non-empty
    match is appended to the list so a rerun resumes after it."""
    bad: list[str] = []
    for i, n in enumerate(_selected(args), 1):
        try:
            r = run(spark, n, args.sf)
            res = compare_rows(n, r.df, r.rows, args.sf, ORACLES[n])
        except Exception as ex:  # noqa: BLE001 - report it, keep sweeping
            print(f"{i:3d} {n:34s} ERROR {type(ex).__name__}: {str(ex).splitlines()[0][:120]}", flush=True)
            bad.append(n)
            continue
        strict = res["ok"] and res["strict_match"]
        status = "FAIL" if not strict else "EMPTY" if vacuous(n, [len(r.rows)]) else "OK"
        why = ("" if strict else " loose-only match" if res["ok"] else
               f" only_spark={res['only_spark']} only_duck={res['only_duck']} type_diffs={res['type_diffs']}")
        print(f"{i:3d} {n:34s} {status:5s} rows={res['spark_rows']}/{res['duck_rows']} "
              f"{r.build_s + r.exec_s:.1f}s{why}", flush=True)
        if status != "OK":
            bad.append(n)
        elif args.done:
            with open(args.done, "a") as f:
                f.write(n + "\n")
    print("BAD:", bad)
    return 1 if bad else 0


# Each alternate changes the floating-point add order against pass A (the
# driver's session): B the partial-aggregate tree and the input splits, C the
# join strategies and so their build sides. The driver's value hash is
# full-precision, so a query is robustly green only if its rows are
# bit-identical under every plan Spark may pick.
ALTERNATES = {
    "B": {
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.files.maxPartitionBytes": "262144",
        "spark.sql.adaptive.enabled": "false",
    },
    "C": {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    },
}


def _canon_pass(names: list[str], args, conf: dict[str, str]) -> dict[str, object]:
    """Strict canon rows (or an error) per name, on a session of its own."""
    spark = plain_session(args.cpus, conf)
    for k, v in conf.items():  # a setting that did not apply makes the pass vacuous
        if spark.conf.get(k) != v:
            raise RuntimeError(f"config {k} did not apply: {spark.conf.get(k)!r} != {v!r}")
    out: dict[str, object] = {}
    for n in names:
        try:
            r = run(spark, n, args.sf)
            out[n] = canon_rows_strict(r.columns, [tuple(x) for x in r.rows])
        except Exception as ex:  # noqa: BLE001 - report it, keep sweeping
            out[n] = ("ERROR", str(ex).splitlines()[0][:160])
    spark.stop()
    return out


def invariance(args) -> int:
    """Pass A against each alternate; restarts the session per pass."""
    names = _selected(args)
    # pass A first: the first session's settings become the JVM's defaults,
    # which every later session starts from
    base = _canon_pass(names, args, {})
    bad: list[str] = []
    for tag, conf in ALTERNATES.items():
        alt = _canon_pass(names, args, conf)
        for n in names:
            a, b = base[n], alt[n]
            if a != b:
                bad.append(f"{tag}:{n}")
                diffs = a if isinstance(a, tuple) else b if isinstance(b, tuple) else [
                    (x, y) for x, y in zip(a, b) if x != y][:3]
                print(f"DIVERGES {tag} {n}: {diffs}", flush=True)
    print(f"{len(names)} queries, passes A/{'/'.join(ALTERNATES)}; DIVERGENT:", bad)
    return 1 if bad else 0


def scale(spark, args) -> int:
    """Best-of-2 collect time at ``--sf`` and at the ``--big`` fixture. A
    ratio well above 2-3x at 10x data means a stage grows super-linearly,
    or the replicated fixture really multiplied the query's work: check the
    row counts before concluding."""
    failed = False
    for n in args.names:
        best, rows = [], []
        for sf in (args.sf, args.big):
            runs = [run(spark, n, sf) for _ in range(2)]
            best.append(min(r.exec_s for r in runs))
            rows.append([len(r.rows) for r in runs])
        zero = vacuous(n, rows[0] + rows[1])
        failed = failed or zero
        print(json.dumps({
            "q": n, "small_s": round(best[0], 2), "big_s": round(best[1], 2),
            "x": round(best[1] / best[0], 1) if best[0] > 0 else None,
            "rows_small": rows[0], "rows_big": rows[1],
            **({"FAIL": "zero rows (vacuous timing)"} if zero else {}),
        }), flush=True)
    return 1 if failed else 0


# One bench query per operator family.
FAMILIES = {
    "tpch_q1": "scan+agg",
    "tpch_q5": "join-heavy",
    "window_topk_per_group": "window",
    "events_sessionize": "events",
    "dedup_minhash_lsh": "dedup",
    "sim_lsh_ann": "ann",
    "dedup_embedding": "blocked-allpairs",
    "events_rollup_hierarchy": "rollup-cascade",
    "dedup_prefix_filter": "prefix-filter",
    "dedup_embedding_lsh": "lsh-semantic-dedup",
    "text_bm25_topk": "retrieval",
    "dedup_span_ngram": "span-dedup",
    "text_dsir_importance": "importance-weighting",
    "sim_matryoshka_topk": "matryoshka-rescore",
    "sim_filtered_ann": "filtered-ann",
    "text_domain_cap": "domain-cap",
    "events_triangle_count": "graph-triangles",
    "agg_kll_accuracy_report": "sketch-audit",
    "agg_weighted_percentile": "weighted-percentile",
    "text_kneser_ney_lm": "lm-scoring",
    "text_quality_calibration": "prefix-scan-rank",
    "pipeline_source_overlap_matrix": "posting-matrix",
    "tpch_q2": "derived-dim-min-cost",
    "nested_tpch_q21": "collection-hof-existence",
}


def profile(spark, args) -> int:
    """PROFILES.md: each query's final adaptive plan with every operator's
    SQL metrics, timings included (the reference's post-query profile,
    be/src/util/runtime-profile.cc)."""
    print("# PROFILES: per-operator runtime metrics of one bench query per family\n\n"
          f"Regenerated by `python tools/mis.py profile` at {args.sf} on local[{args.cpus}]\n"
          "and rendered by `minimised_impala_spark.engine.render_profile`. Diff it\n"
          "across changes for plan shape (an extra exchange, a lost broadcast or\n"
          "codegen span, new spill); the times are one run's and vary run to run.\n")
    for n in args.names or FAMILIES:
        print(f"## {FAMILIES.get(n, n)}: {n}\n\n```\n{render_profile(run(spark, n, args.sf).df)}\n```\n")
    return 0


# audit's flags, derived from a row's counts: rescan, more scans of one
# fixture table than two consumers need (a shared seam recomputed); pyrow,
# row-at-a-time Python (any BatchEvalPython* node, UDTFs included);
# cartesian; globalwin, a Window with an empty partition spec (a
# single-task sort). A flag's operator matches every label it prefixes.
# They skip builders that run jobs at build time by design (training
# collects, iterative algorithms, physical state round trips): their plans
# are execution artifacts.
FLAGS = (("pyrow", "python", "BatchEvalPython"), ("cartesian", "join", "CartesianProduct"),
         ("globalwin", "window", "Window[global]"))
SKIP_PREFIXES = ("streaming_", "ddl_", "source_", "udf_", "uda_",
                 "dialect_", "shell_", "hs2_")
SKIP_EXACT = {
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
# The column each counted operator goes to; scans, exchanges and Python
# nodes are matched apart, every other operator is not counted.
FAMILY = {
    "BroadcastHashJoin": "join", "SortMergeJoin": "join", "ShuffledHashJoin": "join",
    "BroadcastNestedLoopJoin": "join", "CartesianProduct": "join",
    "HashAggregate": "agg", "ObjectHashAggregate": "agg", "SortAggregate": "agg",
    "Window": "window", "WindowGroupLimit": "window",
    "TakeOrderedAndProject": "ops", "Expand": "ops", "Generate": "ops", "Range": "ops",
    "InMemoryTableScan": "reuse", "ReusedExchange": "reuse", "ReusedSubquery": "reuse",
}
COLUMNS = ("query", "scan", "exchange", "join", "agg", "window", "ops", "python",
           "reuse", "pysort", "flags")


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


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _nodes(plan, jvm):
    """Every operator ``plan`` runs: children, subquery plans, each
    AdaptiveSparkPlan's initial plan, and each distinct cached plan once
    (however many InMemoryTableScans read it)."""
    seen, todo = set(), [plan]
    while todo:
        node = todo.pop()
        yield node
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.initialPlan())
        elif name == "InMemoryTableScan":
            cache = node.relation().cacheBuilder()
            key = jvm.System.identityHashCode(cache)
            if key not in seen:
                seen.add(key)
                todo.append(cache.cachedPlan())
        todo += _seq(node.children()) + _seq(node.subqueries())


def _scan(node) -> str:
    """A fixture table's name, else the source's format."""
    cls = node.getClass().getSimpleName()
    if cls == "FileSourceScanExec":
        relation = node.relation()
        roots = _seq(relation.location().rootPaths())
        table = roots[0].getName().removesuffix(".parquet") if len(roots) == 1 else ""
        return table if table in ALL_TABLES else relation.fileFormat().toString().lower()
    return {"RDDScanExec": "rdd", "LocalTableScanExec": "local"}.get(cls, cls)


def _exchange(node) -> str:
    """Partitioning kind; a hint's exchange (repartition, rebalance) apart."""
    if node.nodeName() == "BroadcastExchange":
        return "broadcast"
    kind = node.outputPartitioning().getClass().getSimpleName().rstrip("$")
    kind = kind.replace("Partitioning", "").replace("Partition", "").lower()
    origin = node.shuffleOrigin().toString()
    return kind if origin == "ENSURE_REQUIREMENTS" else f"{kind}/{origin.split('_')[0].lower()}"


def pysort(plan) -> int:
    """Python nodes in a stage that feeds a range-partitioning Exchange:
    the range partitioner samples its input by running that stage, so the
    Python stage runs twice (fix: shipping.order_after_python). The walk
    down from each such Exchange stops at the stage boundary: another
    Exchange or an InMemoryTableScan."""
    hits = 0
    todo = _seq(plan.children())
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if "Exchange" in name or name == "InMemoryTableScan":
            continue
        hits += bool(PYTHON_NODE.fullmatch(name))
        todo += _seq(node.children())
    return hits


def shape(name: str, plan, jvm) -> str:
    """One PLANSHAPES.tsv row: per column, the sorted ``label:count`` pairs
    of the operators ``plan`` runs, then the pysort count and the flags."""
    cols = {c: {} for c in COLUMNS[1:-2]}
    hits = 0
    for node in _nodes(plan, jvm):
        op = node.nodeName()
        if op.startswith("Scan ") or op in ("LocalTableScan", "BatchScan"):
            col, label = "scan", _scan(node)
        elif op in ("Exchange", "BroadcastExchange"):
            col, label = "exchange", _exchange(node)
            if label.split("/")[0] == "range":  # a sort's or repartitionByRange's
                hits += pysort(node)
        elif PYTHON_NODE.fullmatch(op):
            col, label = "python", op
        elif op == "Window" and node.partitionSpec().isEmpty():
            col, label = "window", "Window[global]"
        elif op in FAMILY:
            col, label = FAMILY[op], op
        else:
            continue
        cols[col][label] = cols[col].get(label, 0) + 1
    flags = [] if name.startswith(SKIP_PREFIXES) or name in SKIP_EXACT else [
        *(f"rescan:{t}x{n}" for t, n in sorted(cols["scan"].items()) if t in ALL_TABLES and n > 2),
        *(flag for flag, col, op in FLAGS if any(label.startswith(op) for label in cols[col])),
    ]
    cells = [" ".join(f"{k}:{v}" for k, v in sorted(c.items())) or "-" for c in cols.values()]
    return "\t".join([name, *cells, str(hits), " ".join(flags) or "-"])


def shapes(spark, sf: str, names):
    """(name, row, build seconds) per query, each built in its own scope;
    a query whose build fails gets an ERROR row."""
    for name in names:
        t0 = time.perf_counter()
        try:
            with query_scope():
                df = QUERIES[name](spark, sf)
                build_s = time.perf_counter() - t0
                row = shape(name, physical_plan(df), spark._jvm)
        except Exception as ex:  # noqa: BLE001 - report it, keep auditing
            build_s = time.perf_counter() - t0
            row = "\t".join([name, *["-"] * (len(COLUMNS) - 2), f"ERROR {type(ex).__name__}"])
        yield name, row, build_s


def committed_shapes() -> tuple[str, list[str]]:
    """The fixture PLANSHAPES.tsv was built at (its first line's command
    names it, relative to the repository root), and the table's lines."""
    with open(os.path.join(ROOT, "PLANSHAPES.tsv")) as f:
        lines = f.read().splitlines()
    return os.path.join(ROOT, lines[0].split(" --sf ")[1].split()[0]), lines


def audit(spark, args) -> int:
    """PLANSHAPES.tsv on stdout: one row of operator counts per query whose
    name contains ``filter``, built, not run."""
    print(f"# python tools/mis.py audit{' ' + args.filter if args.filter else ''} --sf {args.sf}")
    print("\t".join(COLUMNS))
    for _, row, _ in shapes(spark, args.sf, [n for n in QUERIES if args.filter in n]):
        print(row, flush=True)
    return 0


def explain(spark, args) -> int:
    """Formatted physical plan of each query, as the engine would run it."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for n in args.names:
        with query_scope():
            plan = QUERIES[n](spark, args.sf)._jdf.queryExecution().explainString(mode)
        print(f"== {n}\n{plan}")
    return 0


def parser() -> argparse.ArgumentParser:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--sf", required=True, help="fixture directory")
    common.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                        help="local[N] cores (default: this process's cores)")
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = p.add_subparsers(dest="cmd", required=True)

    def cmd(name: str, fn, names: str | None, help: str) -> argparse.ArgumentParser:
        s = sub.add_parser(name, parents=[common], help=help)
        s.set_defaults(fn=fn)
        if names:
            s.add_argument("names", nargs=names, metavar="query")
        return s

    cmd("time", time_, "+", "best-of-N build and collect times").add_argument(
        "--draws", type=int, default=5)
    oracle_p = cmd("oracle", oracle, "*", "strict DuckDB oracle match")
    invariance_p = cmd("invariance", invariance, "*", "rows under alternate physical plans")
    for s in (oracle_p, invariance_p):
        s.add_argument("--driver", default=":", metavar="LO:HI",
                       help="slice of the driver's query order (default: all)")
    oracle_p.add_argument("--done", help="done-list file: skip its names, append new strict matches")
    cmd("scale", scale, "+", "collect time at --sf against --big").add_argument(
        "--big", required=True, help="the larger fixture directory")
    cmd("profile", profile, "*", "PROFILES.md on stdout (default: one query per family)")
    cmd("audit", audit, None, "plan-shape rows (PLANSHAPES.tsv), no execution").add_argument(
        "filter", nargs="?", default="", help="audit only names containing this")
    cmd("explain", explain, "+", "formatted physical plans on stdout")
    return p


def main(argv: list[str] | None = None) -> int:
    args = parser().parse_args(argv)
    if args.fn is invariance:
        return invariance(args)
    if args.fn is oracle:
        spark = plain_session(args.cpus)
    else:
        spark = local_test_session(f"mis-{args.cmd}", args.cpus)
        spark.sparkContext.setLogLevel("ERROR")
    return args.fn(spark, args)


if __name__ == "__main__":
    raise SystemExit(main())
