"""Query-scoped seams: the one way a query shares an intermediate.

A seam is an intermediate that several consumers of one query read; left
alone, each consumer re-runs its whole lineage (scan, explode, Python UDF).
It lives as long as the query that built it, and no other query reads it.

- Inside ``query_scope()``, ``seam(df)`` persists lazily: the first job
  that reads it computes it, later readers scan the cached blocks, and the
  scope releases them when it exits. A persist, because its
  ``InMemoryTableScan`` keeps the child's partitioning: after
  ``repartition("k")`` a ``groupBy("k")`` over it adds no ``Exchange``,
  where one over a checkpoint's ``Scan ExistingRDD`` does.
- Outside every scope, ``seam(df)`` is a lazy ``localCheckpoint``. Nothing
  would release a persist there, and the CacheManager would hand its
  blocks to any later plan with the same sub-plan. A checkpoint's
  ``LogicalRDD`` matches no other plan, and its blocks are freed once the
  DataFrame is garbage-collected and a later job has run (an RDD the last
  job ran can stay reachable until then). A seam that a function handed to
  the JVM closes over (``foreachBatch``) lives until a JVM GC drops py4j's
  proxy and Python then collects the function. Under AQE its
  ``execute()`` runs the seam's shuffle stages while the query is being
  built. Medians of 4 warm draws at local[4], build time persisted →
  checkpointed: ``sim_lsh_ann`` (1 seam) at sf0.01 0.12 → 0.15 s;
  ``pipeline_quality_scorecard`` (5 seams) at sf0.001 2.0 → 2.3 s, while
  its collect fell 2.8 → 1.8 s.
- ``seam(df, now=True)`` is an eager ``localCheckpoint``: the rows exist
  when it returns and the lineage is cut. Only an iterative loop whose plan
  would grow every round, or a result read from a scratch directory the
  builder deletes before it returns, needs that.

A scoped seam's lost blocks are recomputed from lineage, so a seam's
lineage must be deterministic. A checkpoint has no lineage to fall back on:
if its blocks are lost, the query fails (``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).
Memory pressure does not lose them, since they spill to disk, but losing an
executor does, so an unscoped seam survives fewer faults than a scoped one.

Build no plan outside every scope while another thread's scope holds a seam
it reads: that plan keeps the scope's cache entry, and once the scope
releases it, the next run rebuilds the blocks outside the CacheManager,
where nothing releases them.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager
from functools import partial

from pyspark.sql import DataFrame

_local = threading.local()
_lock = threading.Lock()
# The CacheManager matches persisted plans by result, so open scopes (one
# per thread) that persist the same plan share one entry: count the scopes
# holding each plan and drop the entry when the last one exits. An entry
# cached by anything else (``CACHE TABLE``) is its owner's and is left alone.
_refs: dict[int, int] = {}  # persisted plan's semantic hash -> scopes holding it


def _stack() -> list:
    return _local.__dict__.setdefault("stack", [])


def seam(df: DataFrame, now: bool = False) -> DataFrame:
    """Materialize ``df`` for reuse within the current query (module doc)."""
    stack = _stack()
    scope = stack[-1] if stack else None
    if now:
        df = df.localCheckpoint(eager=True)
        if scope is not None:
            rdd = df._jdf.queryExecution().analyzed().rdd()
            scope.append(partial(rdd.unpersist, False))
        return df
    if scope is None:
        return df.localCheckpoint(eager=False)
    key = df._jdf.queryExecution().analyzed().semanticHash()
    cache = df.sparkSession._jsparkSession.sharedState().cacheManager()
    with _lock:
        held = _refs.get(key, 0)
        if not held:
            if cache.lookupCachedData(df._jdf).isDefined():
                return df
            df.persist()
        _refs[key] = held + 1
    scope.append(partial(_drop, key, df))
    return df


def _drop(key: int, df: DataFrame) -> None:
    with _lock:
        _refs[key] -= 1
        if not _refs[key]:
            del _refs[key]
            df.unpersist(blocking=False)


@contextmanager
def query_scope() -> Iterator[None]:
    """Release every seam this thread builds while the block runs."""
    releases: list = []
    _stack().append(releases)
    try:
        yield
    finally:
        _stack().pop()
        for release in reversed(releases):  # a seam built on another goes first
            release()
