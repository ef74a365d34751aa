"""What one session pays once: dialect-function registration, a table
cache bound to the session that built it, generated code that a warm
pass reuses instead of recompiling, and the kernel UDFs a plan build
would otherwise pickle again; and what a build pays in py4j round trips."""

from __future__ import annotations

from unittest.mock import Mock

from pyspark.errors.utils import is_debugging_enabled

from minimised_impala_spark.engine import Engine
from minimised_impala_spark.functions.parity import register_sql_functions
from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import fresh, py4j_sent
from minimised_impala_spark.seams import query_scope
from minimised_impala_spark.session import session_key
from minimised_impala_spark.tables import load_table

load_all()

# Queries whose plans do not vary between runs; together they generate
# well over Spark's default of 100 cached classes. nested_tpch_q20 is left
# out: its AQE plan can differ from one run to the next.
WARM_SET = (
    "tpch_q1", "tpch_q5", "tpch_q6", "tpch_q11", "tpch_q18",
    "window_topk_per_group", "events_sessionize", "dedup_minhash_lsh",
)


def _bound_to(df, spark) -> bool:
    return (
        df.sparkSession is spark
        and df._jdf.sparkSession().sessionUUID() == spark._jsparkSession.sessionUUID()
    )


def test_table_cache_is_per_session(spark, sf_dir):
    s2 = spark.newSession()
    assert session_key(s2) != session_key(spark)
    for owner in (spark, s2):
        assert _bound_to(load_table(owner, sf_dir, "orders"), owner)
    assert load_table(s2, sf_dir, "orders") is not load_table(spark, sf_dir, "orders")


def test_sql_function_registration_is_once_per_session(spark, monkeypatch):
    Engine(spark)
    counted = Mock(wraps=spark.sql)
    monkeypatch.setattr(spark, "sql", counted)
    Engine(spark)
    assert counted.call_count == 0
    monkeypatch.undo()
    assert spark.sql("SELECT fnv_hash('a') AS h").collect()[0]["h"] is not None

    # A sibling session has its own temp-function registry.
    s2 = spark.newSession()
    assert not s2.catalog.functionExists("fnv_hash")
    counted = Mock(wraps=s2.sql)
    monkeypatch.setattr(s2, "sql", counted)
    register_sql_functions(s2)
    assert counted.call_count > 0
    monkeypatch.undo()
    assert s2.catalog.functionExists("fnv_hash")
    assert (
        s2.sql("SELECT fnv_hash('a') AS h").collect()
        == spark.sql("SELECT fnv_hash('a') AS h").collect()
    )


def _classes_compiled(spark) -> int:
    # Janino compilations in this JVM: one per class that missed the
    # whole-stage-codegen cache.
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _drop_generated_classes(spark) -> None:
    # Empty the (private) class cache, so the first pass below compiles
    # the set's whole working set whatever ran earlier in this JVM.
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def _run_pass(spark, sf_dir) -> int:
    before = _classes_compiled(spark)
    for name in WARM_SET:
        fresh(name)(spark, sf_dir).collect()
    return _classes_compiled(spark) - before


def test_add_jar_keeps_caller_class_loader(spark, sf_dir):
    """udf_java_jar's ADD JAR leaves the calling thread's context class
    loader as it was. Spark keys generated classes by loader too, and the
    driver's pool threads inherit the loader of the thread that starts
    them: a second loader makes a warm pass recompile (the test below)."""
    thread = spark._jvm.java.lang.Thread.currentThread()
    before = thread.getContextClassLoader()
    fresh("udf_java_jar")(spark, sf_dir).collect()
    after = thread.getContextClassLoader()
    assert after.equals(before)
    assert not after.equals(spark._jsparkSession.sharedState().jarClassLoader())


def test_warm_pass_compiles_no_class(spark, sf_dir):
    """The codegen cache (session.ENGINE_CONF) holds the set's working set:
    a second pass over fresh plans reuses every generated class, in the
    suite's session, warm from every query the tests before it ran."""
    _drop_generated_classes(spark)
    first = _run_pass(spark, sf_dir)
    assert first > 100, f"the set compiled only {first} classes; it no longer tests eviction"
    assert _run_pass(spark, sf_dir) == 0


# py4j round trips of a steady-state build, GC releases excluded. With
# PySpark's DataFrame call-site capture on, each took over 1000 (1027,
# 1032, 1028 at sf0.001), about nine more per Column call.
BUILD_ROUND_TRIPS = {"tpch_q1": 300, "nested_tpch_q20": 450, "dedup_embedding_lsh": 520}


def test_build_round_trips(spark, sf_dir):
    """A build costs its Column calls, not the call-site capture around
    each (session.ENGINE_CONF), and a repeat build of the LSH dedup
    reuses the session's kernel UDF (vector_kernels.per_session): it
    creates no JVM SimplePythonFunction."""
    assert not is_debugging_enabled(), (
        "DataFrame call-site capture is on: session.ENGINE_CONF does not "
        "turn it off, or this process's first active session was not built "
        "by build_session"
    )
    for name, ceiling in BUILD_ROUND_TRIPS.items():
        with query_scope():
            fresh(name)(spark, sf_dir)
        with query_scope(), py4j_sent(spark) as sent:
            fresh(name)(spark, sf_dir)
        assert len(sent) <= ceiling, f"{name}: {len(sent)} round trips, ceiling {ceiling}"
        assert not [c for c in sent if "SimplePythonFunction" in c], name
