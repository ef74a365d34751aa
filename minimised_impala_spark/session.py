"""Engine session factory.

The reference runs three daemons (impalad/catalogd/statestored — SURVEY §1.4);
in this engine all of that collapses into one SparkSession whose config preset
enables every Catalyst feature the reference implemented by hand:

- AQE (runtime re-plan = the reference's cost-based DistributedPlanner,
  fe/src/main/java/com/cloudera/impala/planner/DistributedPlanner.java:303)
- runtime bloom-filter join pruning (be/src/runtime/runtime-filter.h:31)
- CBO + join reorder (fe/.../planner/SingleNodePlanner.java:329
  createCheapestJoinPlan)
- constraint propagation (fe/.../analysis/Analyzer.java:261 equivalence
  classes)

Scale notes (100 TB target): these presets are cluster-safe — shuffle
partition count is only pinned when the caller asks for a local test
session; on a real cluster AQE coalescing sizes post-shuffle partitions
from data volume, and maxPartitionBytes controls scan split sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# ANSI mode stays OFF: the reference returns NULL on bad casts / div-by-zero
# rather than erroring (be/src/exprs/cast-functions.cc, expr-test.cc corners).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.constraintPropagation.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Files: 128 MiB splits — at 100 TB that's ~800k tasks, a sane default.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Generated-code class cache (a static conf, read when the JVM first
    # compiles). Spark's default of 100 classes is far below this engine's
    # working set: at the default a warm pass evicts, and recompiles with
    # Janino, classes it has just used. Measured at local[2] on a 4-vCPU
    # host, one sweep of all 333 registry queries at sf0.001 compiles 4,331
    # distinct classes with an unbounded cache and 6,636 at 100; a second
    # sweep compiles 1,592 (code that differs from run to run) against
    # 6,614. The bigger cache costs +32 MB Metaspace (227 -> 259 MB) and
    # +22 MB JIT code heap. 8192 holds the whole working set, and the LRU
    # still bounds memory under ad-hoc queries.
    "spark.sql.codegen.cache.maxEntries": "8192",
}


def session_key(spark: SparkSession) -> str:
    """Identity of one SparkSession, for per-session caches.

    The JVM session's UUID, not the application id: sibling sessions from
    ``newSession()`` share the application but each has its own catalog,
    temp views and temp functions."""
    try:
        return spark._jsparkSession.sessionUUID()
    except AttributeError:  # Spark Connect has no JVM session handle
        return str(id(spark))


def build_session(
    app_name: str = "minimised_impala_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine SparkSession.

    For local testing pass ``master='local[N]'`` and a small
    ``shuffle_partitions``; on a cluster leave both unset and let the
    deployment + AQE decide.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_test_session(app_name: str = "mis-test") -> SparkSession:
    """Session preset for local[N] correctness/bench runs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return build_session(
        app_name=app_name,
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "spark.ui.enabled": "false",
        },
    )
