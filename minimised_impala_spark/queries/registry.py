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

import threading
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
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
    build_py4j: int  # py4j round trips of the build (py4j_sent)


# Per thread, the command lists of its open py4j_sent blocks.
_SENDING: dict[int, list[list[str]]] = {}
_WRAPPING = threading.Lock()


@contextmanager
def py4j_sent(spark: SparkSession) -> Iterator[list[str]]:
    """The py4j commands this thread sends to the JVM while the block
    runs, one round trip each. GC releases (``m\\nd\\n``) are left out:
    Python sends them whenever it collects a proxy, not for the block's
    work. The gateway client's ``send_command`` is wrapped once, for good,
    so blocks on other threads, or nested ones, count independently."""
    client = spark.sparkContext._gateway._gateway_client
    with _WRAPPING:
        if not hasattr(client, "_uncounted_send"):
            send = client._uncounted_send = client.send_command

            def counted(command: str, *args, **kwargs):
                if not command.startswith("m\nd\n"):
                    for sent in _SENDING.get(threading.get_ident(), ()):
                        sent.append(command)
                return send(command, *args, **kwargs)

            client.send_command = counted
    me = threading.get_ident()
    blocks = _SENDING.setdefault(me, [])
    blocks.append([])
    try:
        yield blocks[-1]
    finally:
        blocks.pop()
        if not blocks:
            del _SENDING[me]


def run(spark: SparkSession, name: str, sf_dir: str) -> Run:
    """Build ``name`` and collect it inside its own query scope, so
    its seams are released before it returns and it reads none of an
    earlier query's. Bench draws and every tool run go through here."""
    with query_scope():
        with py4j_sent(spark) as sent:
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
    return Run(df, df.columns, rows, t1 - t0, t2 - t1, len(sent))


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query, optionally with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco
