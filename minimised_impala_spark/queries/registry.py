"""Query + oracle registry.

``QUERIES[name]`` is a callable ``(spark, sf_dir) -> DataFrame``;
``ORACLES[name]`` the equivalent DuckDB SQL (omitted for ops whose
semantics aren't SQL-expressible — the driver then records a weaker
rows-only check).

Registered callables memoize the *logical plan* per (session, sf_dir):
re-issuing the same query returns the already-analyzed DataFrame, so a
repeat run pays execution only. Building + analyzing a large DataFrame
graph (py4j expression construction, Catalyst analysis) costs up to ~1 s
for the wide ANN/dedup pipelines — measured sim_lsh_ann at sf0.1:
~1.2 s/call rebuilt vs 0.09 s re-executing the cached plan. This is plan
caching for a fixed query library (the reference daemon likewise reuses
compiled fragments/metadata across identical queries,
be/src/runtime/query-exec-mgr.h) — results are still computed per
collect(). A memoized DataFrame outlives the query scope of its first
caller, so it is built outside every scope and its seams are never released.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession

from minimised_impala_spark.seams import query_scope, unscoped
from minimised_impala_spark.session import session_key

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_PLAN_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def fresh(name: str) -> QueryFn:
    """The undecorated builder — constructs a NEW DataFrame per call.

    Benchmarks must use this: re-collecting a cached DataFrame lets Spark
    reuse materialized shuffle outputs (skipped stages), which measures
    incremental recomputation, not query execution (observed 10× at
    sf0.1). The plan cache is for single-issue contexts (driver
    correctness runs, interactive reuse) where it only avoids redundant
    plan construction."""
    return QUERIES[name].__wrapped__


class Run(NamedTuple):
    """One collected run of a registry query."""

    df: DataFrame  # executed: its plan carries the run's operator metrics
    columns: list[str]
    rows: list[Row]
    build_s: float  # driver-side DataFrame construction
    exec_s: float  # collect()


def run(spark: SparkSession, name: str, sf_dir: str) -> Run:
    """Build ``name`` fresh and collect it inside its own query scope, so
    its seams are released before it returns and it reads none of an
    earlier query's. Bench draws and every tool run go through here."""
    with query_scope():
        t0 = time.perf_counter()
        df = fresh(name)(spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    return Run(df, df.columns, rows, t1 - t0, t2 - t1)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query, optionally with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            key = (session_key(spark), sf_dir, name)
            df = _PLAN_CACHE.get(key)
            if df is None:
                with unscoped():
                    df = fn(spark, sf_dir)
                _PLAN_CACHE[key] = df
            return df

        cached.__name__ = fn.__name__
        cached.__doc__ = fn.__doc__
        cached.__wrapped__ = fn
        QUERIES[name] = cached
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco
