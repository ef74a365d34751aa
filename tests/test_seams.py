"""Query-scoped seams: a query's materialized intermediates live exactly as
long as its ``query_scope()``, no later query reads them, and every
materialization in the package goes through ``seams.seam``."""

from __future__ import annotations

import gc
import os
import random
import re
import sys
import threading
import time
import weakref
from pathlib import Path
from types import SimpleNamespace

import __spark_entry__ as entry
import minimised_impala_spark
from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import ORACLES, QUERIES, fresh
from minimised_impala_spark.seams import query_scope, seam

from tests.oracle import compare, compare_rows
from tools.mis import PYTHON_NODE

load_all()


def _persistent_ids(spark) -> set[int]:
    # ids, not a count: Spark's ContextCleaner may unpersist another test's
    # unreferenced RDD while a query runs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _strict(name: str, spark, sf_dir: str, builder) -> None:
    res = compare(name, spark, sf_dir, builder, ORACLES[name])
    assert res["ok"] and res["strict_match"], res


def test_only_seams_materializes():
    pkg = Path(minimised_impala_spark.__file__).parent
    call = re.compile(r"\.(persist|localCheckpoint|checkpoint)\(|\.cache\(\)")
    hits = [
        f"{path.relative_to(pkg)}:{i}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "seams.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert not hits, "materialize through seams.seam:\n" + "\n".join(hits)


def test_query_does_not_read_previous_querys_seams(spark, sf_dir):
    """dedup_containment and dedup_minhash_accuracy_report seam the same
    shingle relation. After the first query's scope closes, the second
    must compute both of its own seams rather than read the first's."""
    with query_scope():
        fresh("dedup_containment")(spark, sf_dir).collect()
    before = _persistent_ids(spark)
    with query_scope():
        fresh("dedup_minhash_accuracy_report")(spark, sf_dir).collect()
        made = _persistent_ids(spark) - before
    assert len(made) == 2
    assert not _persistent_ids(spark) - before


def test_repeated_runs_leave_nothing(spark, sf_dir):
    """sim_ann_recall_report's seams used to be lazy checkpoints, which
    clearCache() cannot drop: each run left two more persistent RDDs."""
    before = _persistent_ids(spark)
    for _ in range(3):
        with query_scope():
            _strict("sim_ann_recall_report", spark, sf_dir, fresh("sim_ann_recall_report"))
        assert not _persistent_ids(spark) - before


def test_unscoped_registry_shares_no_seams(spark, sf_dir):
    """``__spark_entry__.queries()`` hands out the builders, run with no
    scope, where a seam is a lazy checkpoint that no other plan matches:
    sim_lsh_buckets computes its own LSH signature rather than scan the one
    sim_ann_recall_report built. Both stay oracle-strict."""
    builders = entry.queries()
    _strict("sim_ann_recall_report", spark, sf_dir, builders["sim_ann_recall_report"])
    buckets = builders["sim_lsh_buckets"](spark, sf_dir)
    _strict("sim_lsh_buckets", spark, sf_dir, lambda *_: buckets)
    executed = buckets._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in executed, executed
    assert PYTHON_NODE.search(executed), executed


def test_nested_builder_across_scopes(spark, sf_dir):
    """dedup_cluster_size_histogram builds dedup_cluster_cc inside itself;
    the CC query's eager seams (connected-components rounds) belong to
    whichever scope builds them. A DataFrame built outside every scope
    keeps its checkpoints: a scope that runs it, or a new plan over it,
    releases none of them."""
    with query_scope():
        _strict("dedup_cluster_cc", spark, sf_dir, fresh("dedup_cluster_cc"))
    with query_scope():
        _strict(
            "dedup_cluster_size_histogram", spark, sf_dir,
            fresh("dedup_cluster_size_histogram"),
        )
    cc = QUERIES["dedup_cluster_cc"](spark, sf_dir)
    with query_scope():
        _strict("dedup_cluster_cc", spark, sf_dir, lambda *_: cc)
    with query_scope():
        _strict("dedup_cluster_cc", spark, sf_dir, lambda *_: cc.select("*"))


def test_driver_path_shares_nothing(spark, sf_dir):
    """The driver's path: every registry query once through
    ``__spark_entry__.queries()``, in a seeded random order, with no scope.
    No plan reads a cached seam and nothing is left in the CacheManager, so
    run order cannot change a plan. Nothing in the package keeps a query's
    DataFrame, and once it is dropped Spark frees every checkpoint it made."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    builders = entry.queries()
    names = sorted(builders)
    random.Random(20261019).shuffle(names)
    bad, made, dfs = [], set(), []
    for name in names:
        before = _persistent_ids(spark)
        df = builders[name](spark, sf_dir)
        rows = df.collect()
        made |= _persistent_ids(spark) - before  # this query's checkpoints
        dfs.append(weakref.ref(df))
        if "InMemoryTableScan" in df._jdf.queryExecution().executedPlan().toString():
            bad.append((name, "reads a cached seam"))
        if not cache.isEmpty():
            bad.append((name, "left a CacheManager entry"))
        if name in ORACLES:
            res = compare_rows(name, df, rows, sf_dir, ORACLES[name])
            if not (res["ok"] and res["strict_match"]):
                bad.append((name, res))
    assert not bad, bad
    assert made, "no query made a checkpoint: the release check below is vacuous"
    del df, rows
    gc.collect()
    assert not [ref for ref in dfs if ref() is not None]
    # The JVM side is Spark's: its ContextCleaner unpersists a checkpoint
    # once a JVM GC finds the RDD unreachable. A reference can cross the
    # VMs: py4j holds a foreachBatch function for the JVM until a JVM GC
    # drops the proxy, and what the function closes over goes only with a
    # Python collection after that (streaming_dedup_lsh's two seams once
    # outlived five minutes of JVM GCs alone; its function now reads them
    # through a holder it empties, see
    # test_streaming_dedup_lsh_drops_its_index). An RDD the last job ran
    # has also been seen to stay reachable until another job runs. So each
    # round collects Python garbage, runs a job on every slot and a
    # System.gc(), then gives the cleaner's thread up to 5 s.
    sc = spark.sparkContext
    slots = 4 * sc.defaultParallelism
    for _ in range(60):
        gc.collect()
        sc.parallelize(range(slots), slots).count()
        spark._jvm.System.gc()
        for _ in range(50):
            if not made & _persistent_ids(spark):
                return
            time.sleep(0.1)
    assert not made & _persistent_ids(spark)


def test_streaming_dedup_lsh_drops_its_index(spark, sf_dir, monkeypatch):
    """py4j keeps streaming_dedup_lsh's foreachBatch function for the JVM
    long after the query stops. The two index seams it probes must not
    live that long: once the build returns they are garbage, so their
    checkpoints can be freed."""
    from minimised_impala_spark.streaming import windows

    made = []

    def tracked(df, **kw):
        made.append(seam(df, **kw))
        return made[-1]

    monkeypatch.setattr(windows, "seam", tracked)
    QUERIES["streaming_dedup_lsh"](spark, sf_dir)
    index = [weakref.ref(df) for df in made[:2]]
    del made[:]
    gc.collect()
    assert len(index) == 2 and not [ref for ref in index if ref() is not None]


def test_concurrent_scopes_share_cache_entries(spark, sf_dir):
    """Two threads build the same query at once, so their seams have
    identical plans and share CacheManager entries. The first scope to
    close must not drop an entry the other query was planned against:
    executing that plan would rebuild the cache outside the CacheManager,
    where no scope releases it."""
    name = "events_triangle_count"
    before = _persistent_ids(spark)
    built = threading.Barrier(2)
    released = threading.Event()
    errors: list[BaseException] = []

    def run(i: int) -> None:
        try:
            with query_scope():
                df = fresh(name)(spark, sf_dir)
                df._jdf.queryExecution().executedPlan()
                built.wait(timeout=120)
                if i == 1:
                    assert released.wait(timeout=300)
                _strict(name, spark, sf_dir, lambda *_: df)
            if i == 0:
                released.set()
        except Exception as ex:  # noqa: BLE001 — surface in the main thread
            errors.append(ex)
            released.set()

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert not _persistent_ids(spark) - before


class _SharedPlan:
    """Stands in for DataFrames whose plans all match one CacheManager
    entry; ``persist`` and ``unpersist`` flip that entry."""

    def __init__(self) -> None:
        self.cached = False
        self.persists = self.unpersists = 0
        execution = SimpleNamespace(
            analyzed=lambda: SimpleNamespace(semanticHash=lambda: -1)
        )
        self._jdf = SimpleNamespace(queryExecution=lambda: execution)
        entry = SimpleNamespace(isDefined=lambda: self.cached)
        cache = SimpleNamespace(lookupCachedData=lambda _jdf: entry)
        shared = SimpleNamespace(cacheManager=lambda: cache)
        self.sparkSession = SimpleNamespace(
            _jsparkSession=SimpleNamespace(sharedState=lambda: shared)
        )

    def persist(self):
        assert not self.cached, "persisted an entry that was already cached"
        self.cached, self.persists = True, self.persists + 1
        return self

    def unpersist(self, blocking: bool = False):
        assert self.cached, "unpersisted an entry that was not cached"
        self.cached, self.unpersists = False, self.unpersists + 1
        return self


def test_shared_entry_refcount_under_thread_contention():
    """More threads than cores open scopes over one shared entry: while a
    scope holds its seam the entry stays cached, and the last release
    drops it exactly once."""
    df = _SharedPlan()
    errors: list[BaseException] = []

    def run() -> None:
        try:
            for _ in range(300):
                with query_scope():
                    seam(df)
                    assert df.cached, "entry dropped while a scope held it"
        except Exception as ex:  # noqa: BLE001 — surface in the main thread
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        n = 2 * len(os.sched_getaffinity(0))  # more threads than cores
        threads = [threading.Thread(target=run) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert not df.cached and df.persists == df.unpersists > 0
