"""Table registration over the driver's parquet fixtures.

The reference's catalog machinery (catalogd + statestored propagation,
fe/src/main/java/com/cloudera/impala/catalog/HdfsTable.java) is replaced by
``spark.catalog`` temp views over parquet — schema comes from the parquet
footers (schema-on-read, same as the reference's HDFS tables).

At 100 TB these would be partitioned external tables (directory-keyed
partitions, exactly the reference's HdfsPartition model); the loader here
reads single parquet files because that is what the driver fixture provides.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from minimised_impala_spark.session import session_key

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXTRA_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXTRA_TABLES

# Dimension tables small enough to broadcast at ANY scale factor (region=5,
# nation=25 rows always; TPC-H dims scale slower than fact tables).
BROADCASTABLE = {"region", "nation"}


@functools.cache
def _staging_root() -> str:
    root = tempfile.mkdtemp(prefix=f"mis_{os.getpid()}_")
    atexit.register(shutil.rmtree, root, True)
    return root


def staging_dir(kind: str, sf_dir: str, table: str) -> str:
    """Scratch directory for a query that stages ``table`` of ``sf_dir``
    (a format round trip, a stream's input links, a sink). It lives under
    one directory per process, removed when the process exits, since
    another process staging the same source would overwrite or delete the
    files mid-scan."""
    src = os.path.realpath(f"{sf_dir}/{table}.parquet")
    return os.path.join(_staging_root(), f"{kind}_{hashlib.md5(src.encode()).hexdigest()[:10]}")


def scratch_dir(kind: str) -> str:
    """A fresh directory, under the same per-process root, for one build's
    scratch files; the build removes it before it returns."""
    return tempfile.mkdtemp(prefix=f"{kind}_", dir=_staging_root())


def ensure_engine_semantics(spark: SparkSession) -> None:
    """Pin the session semantics the engine is specified against, even when
    running on a caller-provided session: the reference returns NULL on
    malformed casts / div-by-zero (be/src/exprs/cast-functions.cc,
    expr-test.cc), i.e. ANSI mode off (Spark 4 defaults it on)."""
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# DataFrame (logical-plan) cache: repeated load_table calls across the
# query suite re-list files and re-read parquet footers otherwise. Keyed
# by session (session_key) so a DataFrame goes back only to the session it
# is bound to, never to a newSession() sibling — this mirrors
# the reference's catalogd metadata cache (SURVEY §1.4) at nano-scale.
_DF_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (session_key(spark), sf_dir, name)
    cached = _DF_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    _DF_CACHE[key] = df
    return df


def fix_events_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column across fixture encodings.

    Driver fixtures have stored ``events.ts`` both as parquet
    TIMESTAMP(NANOS) (which, under ``nanosAsLong``, loads as int64 nanos)
    and as plain ``timestamp[us]``. Dispatch on the *loaded* dtype: only the
    legacy long case needs the rebuild (integer division — a double division
    would lose precision above 2^53 ns); a real timestamp passes through.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dtype = df.schema["ts"].dataType
    if isinstance(dtype, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dtype, T.TimestampNTZType):
        # Session tz is pinned UTC (ensure_engine_semantics), so NTZ → LTZ is
        # value-preserving; downstream code (epoch casts, watermarks) and the
        # DuckDB oracles are specified against plain TIMESTAMP.
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_engine_semantics(spark)
    if name == "events":
        # nanosAsLong makes a TIMESTAMP(NANOS) column readable (as int64)
        # and is a no-op for micro/milli timestamp columns, so it is safe to
        # set unconditionally; fix_events_ts then dispatches on what loaded.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return fix_events_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = ALL_TABLES
) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
