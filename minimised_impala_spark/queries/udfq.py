"""UDF / UDA / DDL round-trip queries with DuckDB oracles — the driver
signal for SURVEY §2.10/§2.11 rows that were previously pytest-only.

The reference executes user code through the FunctionContext ABI
(be/src/udf/udf.h:47-293, scalar-fn-call.cc) and UDAs through
Init/Update/Merge/Finalize (be/src/exprs/agg-fn-evaluator.h:62); the
Spark-native equivalents are Arrow-batched pandas UDFs (scalar and
GROUPED_AGG). Here each runs inside a declared query whose result the
DuckDB oracle recomputes in pure SQL — proving the Python execution path
produces exactly the values the relational definition demands.

CTAS (fe/.../analysis/CreateTableAsSelectStmt.java) round-trips through a
real warehouse table: the query CREATEs the table from a grouped SELECT,
reads it back, and the oracle states the SELECT directly.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.queries.tpch import isum
from minimised_impala_spark.serde import pickle_module_by_value
from minimised_impala_spark.session import thread_class_loader_kept
from minimised_impala_spark.shipping import order_after_python
from minimised_impala_spark.tables import load_table

pickle_module_by_value(__name__)

_PUNCT = "[.,!?;:]"


# DataType objects, not DDL strings: string return types are parsed through
# the active SparkContext, which doesn't exist yet at import time.
@pandas_udf(T.StringType())
def _norm_text(s: pd.Series) -> pd.Series:
    """Scalar pandas UDF: lowercase + strip sentence punctuation — the
    Arrow-batched path a real tokenizer-normalizer UDF takes."""
    return s.str.lower().str.replace(_PUNCT, "", regex=True)


@query(
    "udf_pandas_scalar",
    oracle=f"""
SELECT doc_id,
       lower(regexp_replace(text, '{_PUNCT}', '', 'g')) AS norm_text,
       length(lower(regexp_replace(text, '{_PUNCT}', '', 'g'))) AS n_chars
FROM documents
WHERE doc_id < 200
ORDER BY doc_id
""",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return order_after_python(
        docs.filter(F.col("doc_id") < 200)
        .select("doc_id", _norm_text("text").alias("norm_text"))
        .withColumn("n_chars", F.length("norm_text").cast("bigint")),
        "doc_id",
    )


@pandas_udf(T.LongType())
def _wavg_cents(v: pd.Series, w: pd.Series) -> int:
    """GROUPED_AGG pandas UDA: weighted mean in integer cents.

    Scaled-int output for the same reason as agg_corr_covar: the driver
    hash is full-precision on doubles and numpy's accumulation order
    differs from DuckDB's sequential fold — a BIGINT of cents is exact
    unless the true value sits within ~1e-7 cents of a .5 boundary
    (verified clear at both test SFs)."""
    x = float((v * w).sum() / w.sum())
    return int(x * 100 + 0.5)  # positive half-up, matches oracle round()


@pandas_udf(T.LongType())
def _count_rows(v: pd.Series) -> int:
    """Count as a pandas UDA: Spark refuses to mix GROUPED_AGG pandas
    UDFs with built-in aggregates in one agg(), so the companion count
    goes through the same Arrow path."""
    return len(v)


@query(
    "uda_grouped_pandas",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(round(sum(o_totalprice * o_custkey) / sum(o_custkey) * 100)
            AS BIGINT)          AS wavg_cents
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def uda_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return order_after_python(
        orders.groupBy("o_orderstatus").agg(
            _count_rows("o_orderkey").alias("n"),
            _wavg_cents("o_totalprice", "o_custkey").alias("wavg_cents"),
        ),
        "o_orderstatus",
    )


@query(
    "ddl_ctas_roundtrip",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT)                  AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS DOUBLE)
         / 100                                   AS revenue
FROM orders
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
""",
)
def ddl_ctas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE AS SELECT into the warehouse, then read the TABLE back
    (not the source) — the result the driver hashes has physically passed
    through the CTAS parquet sink and catalog."""
    import hashlib
    import shutil

    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("ctas_src_orders")
    tbl = f"mis_ctas_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # DROP IF EXISTS is a no-op in a FRESH session whose in-memory catalog
    # never saw the table, but the managed location in spark-warehouse
    # survives from prior sessions and CREATE then fails with
    # LOCATION_ALREADY_EXISTS — clear the stale directory explicitly.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        f"{warehouse.removeprefix('file:')}/{tbl}", ignore_errors=True
    )
    spark.sql(
        f"""
        CREATE TABLE {tbl} USING PARQUET AS
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                    AS DOUBLE) / 100 AS revenue
        FROM ctas_src_orders
        GROUP BY o_orderstatus, o_orderpriority
        """
    )
    return spark.table(tbl).orderBy("o_orderstatus", "o_orderpriority")


# --------------------------------------------------------------------------
# INSERT INTO / INSERT OVERWRITE with static + dynamic PARTITION specs —
# driver-verified write path for §2 row 6 (HdfsTableSink,
# be/src/exec/hdfs-table-sink.h:122 dynamic-partition semantics: an
# OVERWRITE with dynamic keys replaces exactly the partitions that
# receive data; untouched partitions survive). Sequence under test:
#   1. seed partition (status='XX', prio='SEED')      — must SURVIVE
#   2. garbage row into (status='O', prio='1-URGENT') — must be REPLACED
#   3. INSERT OVERWRITE PARTITION (status='O', prio)  — static+dynamic mix
#   4. INSERT INTO      PARTITION (status, prio)      — fully dynamic append
# The returned aggregate is computed from the physically-landed TABLE, so
# a green hash proves partition routing, per-partition overwrite, and
# append semantics all at once. partitionOverwriteMode=dynamic is the
# Spark switch that matches the reference's overwrite behavior.
@query(
    "ddl_insert_partitions",
    oracle="""
SELECT status, prio, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(price * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100
         AS revenue
FROM (
  SELECT o_orderstatus AS status, o_orderpriority AS prio,
         o_totalprice AS price
  FROM orders WHERE o_orderstatus IN ('O', 'F')
  UNION ALL
  SELECT 'XX', 'SEED', 0.0
) t
GROUP BY status, prio
ORDER BY status, prio
""",
)
def ddl_insert_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("ins_src_orders")
    tbl = f"mis_insparts_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{warehouse.removeprefix('file:')}/{tbl}", ignore_errors=True)
    spark.sql(
        f"""
        CREATE TABLE {tbl}
        (okey BIGINT, price DOUBLE, status STRING, prio STRING)
        USING PARQUET PARTITIONED BY (status, prio)
        """
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # 1. static-partition seed: must survive every later statement
        spark.sql(
            f"INSERT INTO {tbl} PARTITION (status='XX', prio='SEED') "
            "VALUES (CAST(-1 AS BIGINT), 0.0)"
        )
        # 2. garbage into a partition the overwrite WILL rewrite
        spark.sql(
            f"INSERT INTO {tbl} PARTITION (status='O', prio='1-URGENT') "
            "VALUES (CAST(-99 AS BIGINT), 12345.0)"
        )
        # 3. mixed static+dynamic OVERWRITE: replaces every prio under
        #    status='O' that receives data (incl. the garbage partition)
        spark.sql(
            f"""
            INSERT OVERWRITE {tbl} PARTITION (status='O', prio)
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM ins_src_orders WHERE o_orderstatus = 'O'
            """
        )
        # 4. fully-dynamic append of a disjoint status
        spark.sql(
            f"""
            INSERT INTO {tbl} PARTITION (status, prio)
            SELECT o_orderkey, o_totalprice, o_orderstatus, o_orderpriority
            FROM ins_src_orders WHERE o_orderstatus = 'F'
            """
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return (
        spark.table(tbl)
        .groupBy("status", "prio")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # isum: the (status, prio) groups grow with SF, and the
            # double-sum noise crossed the 1e-2 round margin at the
            # 100x fixture (r12 sf10 sweep)
            isum(F.col("price"), 2).alias("revenue"),
        )
        .orderBy("status", "prio")
    )


# --------------------------------------------------------------------------
# Python UDTF (user-defined TABLE function) — the table-valued extension
# of the reference's UDF surface (§2.10 covers scalar UDF/UDA/Hive jars;
# the vendored grammar has no UDTF — later engines added them and
# PySpark exposes them via @udtf + LATERAL-style invocation). Sentence
# splitting with positions is the canonical shape: one input row → N
# (pos, sentence, n_tokens) rows. The oracle reproduces the expansion
# relationally (string_split + unnest with ordinality), so the UDTF path
# gets a full value hash, not a rows-only check. At 100 TB the UDTF runs
# per input partition (Arrow-batched rows in, iterator of tuples out) —
# same narrow-map economics as explode.
from pyspark.sql.functions import udtf


@udtf(returnType="pos int, sentence string, n_tokens int", useArrow=True)
class _SentenceSplit:
    def eval(self, doc_id: int, text: str):
        if text is None:
            return
        for i, raw in enumerate(text.split(". ")):
            # strip(' ') not strip(): the DuckDB oracle's trim() removes
            # spaces only, while Python's bare strip() also eats tab/
            # newline — divergent on non-space whitespace (ADVICE r4).
            sent = raw.strip(" ")
            if sent:
                yield i, sent, len(sent.split(" "))


@query(
    "udtf_sentence_split",
    oracle="""
WITH s AS (
  SELECT doc_id,
         unnest(string_split(text, '. ')) AS raw,
         generate_subscripts(string_split(text, '. '), 1) - 1 AS pos
  FROM documents
  WHERE doc_id < 120
)
SELECT doc_id, CAST(pos AS INT) AS pos, trim(raw) AS sentence,
       CAST(len(string_split(trim(raw), ' ')) AS INT) AS n_tokens
FROM s
WHERE trim(raw) <> ''
ORDER BY doc_id, pos
""",
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spark.udtf.register("mis_sentence_split", _SentenceSplit)
    docs.filter(F.col("doc_id") < 120).createOrReplaceTempView("udtf_docs")
    split = spark.sql(
        """
        SELECT d.doc_id, s.pos, s.sentence, s.n_tokens
        FROM udtf_docs d, LATERAL mis_sentence_split(d.doc_id, d.text) s
        """
    )
    return order_after_python(split, "doc_id", "pos")


# --------------------------------------------------------------------------
# PARTITION-AWARE UDTF: custom sequential per-group logic (longest
# same-event streak per user) written as a plain Python state machine —
# the escape hatch for logic that is awkward as window algebra. The
# engine hash-partitions by user and ORDER BYs within each partition
# before feeding eval(); terminate() flushes one row per group. The
# oracle re-derives the same answer relationally (gaps-and-islands:
# row_number difference → island id → max run, first-reaching wins) —
# proving the procedural and relational formulations agree. Scale: one
# shuffle on the partition key, Python sees Arrow-batched rows.
@udtf(returnType="user_id bigint, longest_streak int, streak_type string", useArrow=True)
class _LongestStreak:
    def __init__(self):
        self.user = None
        self.cur_type = None
        self.cur_len = 0
        self.best = 0
        self.best_type = None

    def eval(self, row):
        self.user = row["user_id"]
        t = row["event_type"]
        if t == self.cur_type:
            self.cur_len += 1
        else:
            self.cur_type = t
            self.cur_len = 1
        if self.cur_len > self.best:  # strictly greater: first streak wins ties
            self.best = self.cur_len
            self.best_type = t

    def terminate(self):
        if self.user is not None:
            yield self.user, self.best, self.best_type


@query(
    "udtf_longest_streak",
    oracle="""
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS island
  FROM events WHERE user_id < 50
),
runs AS (
  SELECT user_id, event_type, island,
         CAST(count(*) AS INT) AS run_len, min(ts) AS run_start,
         min(event_id) AS run_start_id
  FROM e GROUP BY user_id, event_type, island
),
best AS (
  SELECT user_id, run_len, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY run_len DESC, run_start, run_start_id)
           AS rk
  FROM runs
)
SELECT user_id, run_len AS longest_streak, event_type AS streak_type
FROM best WHERE rk = 1
ORDER BY user_id
""",
)
def udtf_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    spark.udtf.register("mis_longest_streak", _LongestStreak)
    ev.createOrReplaceTempView("udtf_events")
    streaks = spark.sql(
        """
        SELECT * FROM mis_longest_streak(
          TABLE(SELECT user_id, ts, event_id, event_type FROM udtf_events)
          PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )
    return order_after_python(streaks, "user_id")


# --------------------------------------------------------------------------
# Java UDF through the jar path (§2.10 row "Hive/Java UDF via JAR",
# be/src/exprs/hive-udf-call.cc:335): the reference executes user jars
# in-process; here the jar compiles from source with the in-container
# JDK (cached by content hash), lands in the session via ADD JAR, and
# registers through registerJavaFunction — the non-Hive-catalog jar
# entry point that works on a plain SparkSession (the CREATE FUNCTION
# ... USING JAR Hive-catalog variant is covered by tests/test_hive_udf.py
# in a dedicated hive-enabled subprocess). The oracle replicates the
# UDF's arithmetic in SQL, so the driver hash proves executor-side jar
# execution end to end.
_JAVA_UDF_SRC = """
public class MisScaleUdf implements org.apache.spark.sql.api.java.UDF2<Long, Long, Long> {
  public Long call(Long x, Long k) {
    if (x == null || k == null) return null;
    return x * k + 7L;
  }
}
"""


def _compiled_java_udf_jar() -> str:
    import hashlib
    import os
    import subprocess
    import tempfile

    import pyspark

    h = hashlib.md5(_JAVA_UDF_SRC.encode()).hexdigest()[:10]
    # a pre-built jar for the current source ships in resources/ so the
    # query works even where no JDK is on PATH; the compile path below
    # regenerates it whenever the source (and so the hash) changes.
    packaged = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources",
        f"mis_java_udf_{h}.jar",
    )
    if os.path.exists(packaged):
        return packaged
    jar = f"{tempfile.gettempdir()}/mis_java_udf_{h}.jar"
    if os.path.exists(jar):
        return jar
    jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "MisScaleUdf.java")
        with open(src, "w") as f:
            f.write(_JAVA_UDF_SRC)
        subprocess.run(
            ["javac", "-cp", f"{jars_dir}/*", "MisScaleUdf.java"],
            check=True,
            cwd=td,
        )
        staged = os.path.join(td, "mis_java_udf.jar")
        subprocess.run(
            ["jar", "cf", staged, "MisScaleUdf.class"], check=True, cwd=td
        )
        os.replace(staged, jar)  # atomic into the cache path
    return jar


@query(
    "udf_java_jar",
    oracle="""
SELECT o_orderkey, o_orderkey * 3 + 7 AS scaled
FROM orders WHERE o_orderkey < 200
ORDER BY o_orderkey
""",
)
def udf_java_jar(spark: SparkSession, sf_dir: str) -> DataFrame:
    jar = _compiled_java_udf_jar()
    with thread_class_loader_kept(spark):
        spark.sql(f"ADD JAR '{jar}'")
        spark.udf.registerJavaFunction("mis_java_scale", "MisScaleUdf", T.LongType())
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") < 200)
        .select(
            "o_orderkey",
            F.expr("mis_java_scale(o_orderkey, CAST(3 AS BIGINT))").alias("scaled"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Views + CTEs through the catalog (§2.11 ALTER/views/CTE row): a TEMP
# VIEW created over a filtered relation, consumed by a WITH query whose
# CTE is referenced twice (forcing a real named-subquery resolution, not
# inline substitution semantics differences). The oracle runs the same
# logic as plain SQL over the base table.
@query(
    "ddl_view_cte",
    oracle="""
WITH big AS (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 100000
),
per_cust AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
         round(sum(o_totalprice) * 100) / 100 AS spend
  FROM big GROUP BY o_custkey
)
SELECT a.o_custkey, a.n, a.spend
FROM per_cust a
JOIN (SELECT CAST(avg(n) AS DOUBLE) AS avg_n FROM per_cust) s
  ON a.n > s.avg_n
ORDER BY a.o_custkey
""",
)
def ddl_view_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.filter(F.col("o_totalprice") > 100000).select(
        "o_custkey", "o_totalprice"
    ).createOrReplaceTempView("mis_big_orders_v")
    return spark.sql(
        """
        WITH per_cust AS (
          SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
                 round(sum(o_totalprice) * 100) / 100 AS spend
          FROM mis_big_orders_v GROUP BY o_custkey
        )
        SELECT a.o_custkey, a.n, a.spend
        FROM per_cust a
        JOIN (SELECT CAST(avg(n) AS DOUBLE) AS avg_n FROM per_cust) s
          ON a.n > s.avg_n
        ORDER BY a.o_custkey
        """
    )


# --------------------------------------------------------------------------
# SQL-bodied function DDL (§2.10 CREATE/DROP/SHOW FUNCTION row,
# fe/.../analysis/CreateFunctionStmt.java — the reference registers
# functions in its catalog; Spark 4's SQL scalar functions are the
# catalog-native equivalent without a jar): the query CREATEs a
# TEMPORARY FUNCTION with a SQL body, applies it executor-side, and the
# oracle restates the body inline — a green hash proves the catalog
# round trip (create → resolve → codegen'd evaluation).
@query(
    "ddl_sql_function",
    oracle="""
SELECT o_orderkey,
       CAST(floor(o_totalprice / 1000) * 1000 AS DOUBLE) AS price_band,
       CASE WHEN o_totalprice >= 250000 THEN 'high'
            WHEN o_totalprice >= 100000 THEN 'mid'
            ELSE 'low' END AS tier
FROM orders WHERE o_orderkey < 400
ORDER BY o_orderkey
""",
)
def ddl_sql_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("sqlfn_src_orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION mis_price_band(p DOUBLE) "
        "RETURNS DOUBLE RETURN CAST(floor(p / 1000) * 1000 AS DOUBLE)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION mis_tier(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p >= 250000 THEN 'high' "
        "WHEN p >= 100000 THEN 'mid' ELSE 'low' END"
    )
    return spark.sql(
        """
        SELECT o_orderkey,
               mis_price_band(o_totalprice) AS price_band,
               mis_tier(o_totalprice) AS tier
        FROM sqlfn_src_orders WHERE o_orderkey < 400
        ORDER BY o_orderkey
        """
    )


# --------------------------------------------------------------------------
# Dialect plan hints through the Engine entry point (§2 row "Plan hints +
# STRAIGHT_JOIN", fe/.../analysis/SelectList.java hint parsing): the
# reference's [broadcast] / [shuffle] hint syntax goes through
# dialect.translate into Spark hints; running the hinted statement via
# Engine.sql in a driver-oracled query proves the dialect path executes
# end to end, not just that translation unit tests pass. The hint
# changes the physical strategy, never the result — the oracle is the
# plain join.
@query(
    "dialect_broadcast_hint",
    oracle="""
SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
       round(sum(c_acctbal) * 100) / 100 AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
)
def dialect_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.engine import Engine
    from minimised_impala_spark.tables import register_tables

    register_tables(spark, sf_dir, ("customer", "nation"))
    eng = Engine(spark)
    return eng.sql(
        """
        SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
               round(sum(c_acctbal) * 100) / 100 AS total_bal
        FROM customer JOIN [broadcast] nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY n_name
        """
    )


# --------------------------------------------------------------------------
# LOAD DATA INPATH through the dialect + engine path (§2 row 78,
# fe/.../analysis/LoadDataStmt.java): stage a parquet file of high-value
# orders in a scratch dir, CREATE a managed table, LOAD DATA INPATH it
# via Engine.sql (dialect-parsed, re-expressed as read + insertInto with
# schema validation), then aggregate from the LANDED table — the driver
# hash covers parse → ingest → catalog → read-back end to end.
@query(
    "ddl_load_data",
    oracle="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))) AS DOUBLE)
         / 100 AS revenue
FROM orders
WHERE o_totalprice > 200000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def ddl_load_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil
    import tempfile
    import uuid

    from minimised_impala_spark.engine import Engine

    o = load_table(spark, sf_dir, "orders")
    staged = f"{tempfile.gettempdir()}/mis_loaddata_{uuid.uuid4().hex[:12]}"
    (
        o.filter(F.col("o_totalprice") > 200000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.parquet(staged)
    )
    tbl = f"mis_loaded_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{warehouse.removeprefix('file:')}/{tbl}", ignore_errors=True)
    spark.sql(
        f"CREATE TABLE {tbl} "
        "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) "
        "USING PARQUET"
    )
    eng = Engine(spark)
    eng.sql(f"LOAD DATA INPATH '{staged}' INTO TABLE {tbl}")
    shutil.rmtree(staged, ignore_errors=True)
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            # isum: per-status groups grow with SF (same r12 sf10
            # sweep margin class as ddl_insert_partitions)
            isum(F.col("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# ALTER TABLE + TRUNCATE observable semantics (§2 row "ALTER TABLE/VIEW,
# TRUNCATE", fe/.../analysis/AlterTableStmt.java / TruncateStmt.java):
# CREATE a managed table, append a first batch, ALTER TABLE ADD COLUMNS
# (old rows read NULL for the new column — schema evolution), TRUNCATE
# (all rows gone, schema kept), land the final batch, and aggregate the
# read-back. The oracle states only the post-TRUNCATE world; a stale row
# surviving TRUNCATE or a mis-defaulted ALTER column flips the hash.
@query(
    "ddl_alter_truncate",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(batch_tag) AS BIGINT) AS n_tagged,
       round(sum(o_totalprice) * 100) / 100 AS revenue
FROM (
  SELECT o_orderstatus, o_totalprice, 'final' AS batch_tag
  FROM orders WHERE o_orderkey % 3 = 0
) t
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def ddl_alter_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("alter_src_orders")
    tbl = f"mis_alter_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{warehouse.removeprefix('file:')}/{tbl}", ignore_errors=True)
    spark.sql(
        f"CREATE TABLE {tbl} (o_orderstatus STRING, o_totalprice DOUBLE) "
        "USING PARQUET"
    )
    # first batch under the original schema
    spark.sql(
        f"INSERT INTO {tbl} SELECT o_orderstatus, o_totalprice "
        "FROM alter_src_orders WHERE o_orderkey % 3 = 1"
    )
    # schema evolution: old rows must read NULL for the new column
    spark.sql(f"ALTER TABLE {tbl} ADD COLUMNS (batch_tag STRING)")
    # wipe data, keep schema
    spark.sql(f"TRUNCATE TABLE {tbl}")
    spark.sql(
        f"INSERT INTO {tbl} SELECT o_orderstatus, o_totalprice, 'final' "
        "FROM alter_src_orders WHERE o_orderkey % 3 = 0"
    )
    return (
        spark.table(tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count("batch_tag").cast("bigint").alias("n_tagged"),
            (F.round(F.sum("o_totalprice") * 100) / 100).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# QUALIFY clause through the dialect + Engine path — post-window
# filtering (Teradata/DuckDB/Snowflake surface; the declarative form of
# the reference-era "top-N per group via inline-view rank filter"
# idiom). dialect.translate rewrites the block into an ANSI subquery
# with the predicate's select-aliases inlined (Catalyst de-duplicates
# the repeated window spec, so the plan carries ONE Window operator);
# DuckDB runs the identical QUALIFY text natively, so the oracle
# exercises the real syntax while Spark proves the rewrite. Scale: one
# hash-partition shuffle on o_custkey + in-partition sort — same shape
# as window_topk_per_group.
_QUALIFY_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
FROM orders
WHERE o_custkey < 500
QUALIFY rn <= 2
ORDER BY o_custkey, rn
"""


@query("dialect_qualify", oracle=_QUALIFY_SQL)
def dialect_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.engine import Engine
    from minimised_impala_spark.tables import register_tables

    register_tables(spark, sf_dir, ("orders",))
    return Engine(spark).sql(_QUALIFY_SQL)


# --------------------------------------------------------------------------
# Bucketed-table co-located join — the shuffle-elimination feature a
# 100 TB deployment leans on hardest (the reference's analogue is
# partitioned/clustered HDFS layout + the planner's partitioned-join
# path, fe/.../planner/DistributedPlanner.java). Both sides are written
# with bucketBy(8, join key) + sortBy into the warehouse; reading them
# back, the join keys' hash-distribution is already aligned, so the
# join needs NO Exchange on either side (pinned in
# tests/test_plans.py::test_bucketed_join_no_shuffle). The driver row
# hashes the joined aggregate read back THROUGH the bucketed tables, so
# the whole write→catalog→bucketed-scan→join path is correctness-gated.
@query(
    "ddl_bucketed_join",
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_li,
       CAST(sum(l_quantity) AS BIGINT) AS qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))) AS DOUBLE)
         / 100 AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_totalprice > 150000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def ddl_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    # Key the cached bucketed copies on a content fingerprint of the
    # source parquet (path + file names/sizes/mtimes), not just the path:
    # regenerated fixture data gets a fresh suffix and a rebuild instead
    # of silently joining stale buckets.
    def _fingerprint(tname: str) -> str:
        h = hashlib.md5(sf_dir.encode())
        target = os.path.join(sf_dir, f"{tname}.parquet")
        paths = [target]
        if os.path.isdir(target):
            paths = sorted(
                os.path.join(target, p) for p in os.listdir(target)
            )
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}|{st.st_size}|{st.st_mtime_ns}".encode())
        return h.hexdigest()[:10]

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    names = {}
    for tname, keys in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tbl = f"mis_bkt_{tname}_{_fingerprint(tname)}"
        names[tname] = tbl
        if not spark.catalog.tableExists(tbl):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            shutil.rmtree(
                f"{warehouse.removeprefix('file:')}/{tbl}", ignore_errors=True
            )
            (
                load_table(spark, sf_dir, tname)
                .write.bucketBy(8, keys)
                .sortBy(keys)
                .format("parquet")
                .saveAsTable(tbl)
            )
    o = spark.table(names["orders"]).filter(F.col("o_totalprice") > 150000)
    li = spark.table(names["lineitem"])
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            F.sum("l_quantity").cast("bigint").alias("qty"),
            # isum: per-priority revenue over the joined fact grows with
            # SF (r12 sf10 sweep margin class); qty stays a plain sum —
            # integer-valued doubles are exact to 2^53
            isum(F.col("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# COMPUTE STATS round trip — the stats VERB path end-to-end (§2 row 77,
# fe/.../analysis/ComputeStatsStmt.java): the reference's COMPUTE STATS
# runs a count(*) child query plus a per-column NDV/nulls query and
# writes the results into the catalog, observable via SHOW TABLE STATS /
# SHOW COLUMN STATS (ShowStatsStmt.java). Here the whole loop runs
# through the dialect + Engine path: CTAS a filtered copy of orders →
# Engine.sql("COMPUTE STATS t") (→ ANALYZE TABLE ... FOR ALL COLUMNS) →
# read num_rows back from SHOW TABLE STATS and the exact per-column
# null count from SHOW COLUMN STATS. The oracle recomputes both numbers
# from the data, so a stats verb that silently no-ops (num_rows -1, the
# reference's pre-stats display) flips the hash. Row counts and null
# counts are exact in both engines; NDV is approximate and deliberately
# NOT compared (same reason the reference's own stats tests pin counts,
# not NDVs).
@query(
    "ddl_compute_stats_roundtrip",
    oracle="""
SELECT CAST(count(*) AS BIGINT) AS num_rows,
       CAST(count(*) - count(o_orderpriority) AS BIGINT) AS nulls_priority,
       TRUE AS stats_known
FROM orders WHERE o_totalprice > 150000
""",
)
def ddl_compute_stats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil

    from minimised_impala_spark.engine import Engine

    o = load_table(spark, sf_dir, "orders")
    tbl = f"mis_stats_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(f"{warehouse.removeprefix('file:')}/{tbl}", ignore_errors=True)
    (
        o.filter(F.col("o_totalprice") > 150000)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.format("parquet")
        .saveAsTable(tbl)
    )
    eng = Engine(spark)
    eng.sql(f"COMPUTE STATS {tbl}")
    tstats = eng.sql(f"SHOW TABLE STATS {tbl}").select(
        "num_rows", (F.col("size_bytes") > 0).alias("stats_known")
    )
    cstats = (
        eng.sql(f"SHOW COLUMN STATS {tbl}")
        .filter(F.col("column") == "o_orderpriority")
        .select(F.col("num_nulls").cast("bigint").alias("nulls_priority"))
    )
    return tstats.crossJoin(cstats).select(
        "num_rows", "nulls_priority", "stats_known"
    )
