"""Helpers for the JVM↔Python crossing: closure shipping, worker import
hygiene, and the exchange that keeps a global sort from re-running a
Python stage.

cloudpickle serializes module-level functions by *reference* — the worker
re-imports the defining module. But executors don't necessarily have this
package importable: the driver harness imports ``__spark_entry__`` via a
sys.path insertion that Python workers never see. Registering a module for
by-value pickling ships the function bodies (and any referenced module
globals, e.g. precomputed numpy constants) inside the task closure itself,
so the only executor-side requirements are site-packages (pyspark, numpy,
pandas — present on any Spark+Arrow worker image). This module registers
itself alongside every module it ships, so kernels may call
``drop_zip_finders`` on executors.
"""

from __future__ import annotations

import sys
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

_REGISTERED: set[str] = set()


def ship_module_by_value(module_name: str) -> None:
    """Idempotently register ``module_name`` (and this module, whose
    helpers shipped kernels call) for cloudpickle by-value serialization."""
    if module_name in _REGISTERED:
        return
    from pyspark import cloudpickle

    for name in (__name__, module_name):
        if name not in _REGISTERED:
            cloudpickle.register_pickle_by_value(sys.modules[name])
            _REGISTERED.add(name)


def drop_zip_finders() -> None:
    """Forget the cached ``zipimporter`` finders of this Python worker.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task, and CPython 3.11's ``zipimporter.invalidate_caches`` eagerly
    re-reads its archive's central directory. A worker holds one
    zipimporter per package directory inside ``pyspark.zip`` (14–16 of
    them), so a reused worker re-read that zip 14–16 times per task,
    0.07–0.15 s per task on a 4-vCPU host. With the finders gone the next
    invalidation has nothing to re-read; a later import rebuilds its
    finder from ``zipimport._zip_directory_cache`` without touching the
    file. Directory finders stay, so ``.py`` files added through
    SparkFiles are still picked up."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def order_after_python(df: DataFrame, *keys: str) -> DataFrame:
    """``df.orderBy(*keys)`` with a hash exchange on the leading key in
    between. A global sort range-partitions its input, and the range
    partitioner samples that input by executing it — so a Python stage
    feeding the sort directly runs twice, once for the sample and once
    for the shuffle map. Below the hash exchange the sample reads shuffle
    output instead and the Python stage runs once."""
    # A rebalance, not repartition(): EnsureRequirements drops a
    # repartition whose child is already hash-partitioned on the key (a
    # grouped pandas aggregate is), which would put the Python stage
    # back under the sort.
    return df.hint("rebalance", keys[0]).orderBy(*keys)
