"""Query-scoped seams: the one way a query shares an intermediate.

A seam is an intermediate that several consumers of one query read; left
alone, each consumer re-runs its whole lineage (scan, explode, Python UDF).

- ``seam(df)`` persists lazily: the first job that reads it computes it,
  later readers scan the cached blocks. A lazy ``localCheckpoint`` gives
  the same reuse but costs 0.1-0.5 s of driver work per site while the
  query is still being built. Evicted blocks are recomputed from lineage,
  so a seam's lineage must be deterministic.
- ``seam(df, now=True)`` is an eager ``localCheckpoint``: the rows exist
  when it returns and the lineage is cut. Only an iterative loop whose plan
  would grow every round, or a result read from a scratch directory the
  builder deletes before it returns, needs that.

Seams built inside ``query_scope()`` are released when it exits, so no
later query reads them; outside a scope nothing releases them. Build no
plan outside every scope while a scope holds a seam it reads: that plan
keeps the scope's cache entry, and once the scope releases it, the next
run rebuilds the blocks outside the CacheManager, where nothing releases
them (results stay right; a seam's lineage is deterministic).
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import AbstractContextManager, contextmanager
from functools import partial

from pyspark.sql import DataFrame

_local = threading.local()
_lock = threading.Lock()
# The CacheManager matches persisted plans by result, so open scopes (one
# per thread) that persist the same plan share one entry: count the scopes
# holding each plan and drop the entry when the last one exits. An entry
# cached outside any scope is its owner's and is left alone.
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
        return df.persist()
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
def _pushed(scope: list | None) -> Iterator[None]:
    _stack().append(scope)
    try:
        yield
    finally:
        _stack().pop()


@contextmanager
def query_scope() -> Iterator[None]:
    """Release every seam this thread builds while the block runs."""
    releases: list = []
    try:
        with _pushed(releases):
            yield
    finally:
        for release in reversed(releases):  # a seam built on another goes first
            release()


def unscoped() -> AbstractContextManager[None]:
    """Build outside every open scope, for DataFrames kept past the query
    such as the registry's plan cache: their seams are never released."""
    return _pushed(None)
