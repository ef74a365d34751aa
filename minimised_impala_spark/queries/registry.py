"""Query + oracle registry.

``QUERIES[name]`` is a callable ``(spark, sf_dir) -> DataFrame``;
``ORACLES[name]`` the equivalent DuckDB SQL (omitted for ops whose
semantics aren't SQL-expressible — the driver then records a weaker
rows-only check).

Each call builds a new DataFrame, so two calls share no executed state
(materialized shuffle outputs, seams) and a query's plan does not depend on
what ran before it. Inside ``query_scope()`` a query's seams are persisted
until the scope exits; outside every scope, the driver contract's path,
they are lazy checkpoints freed with the DataFrame (``seams``).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Row, SparkSession

from minimised_impala_spark.seams import query_scope

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def fresh(name: str) -> QueryFn:
    """``QUERIES[name]``, under the name perfbench's draws and the tests
    look builders up by."""
    return QUERIES[name]


class Run(NamedTuple):
    """One collected run of a registry query."""

    df: DataFrame  # executed: its plan carries the run's operator metrics
    columns: list[str]
    rows: list[Row]
    build_s: float  # driver-side DataFrame construction
    exec_s: float  # collect()


def run(spark: SparkSession, name: str, sf_dir: str) -> Run:
    """Build ``name`` and collect it inside its own query scope, so
    its seams are released before it returns and it reads none of an
    earlier query's. Bench draws and every tool run go through here."""
    with query_scope():
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    return Run(df, df.columns, rows, t1 - t0, t2 - t1)


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query, optionally with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco
