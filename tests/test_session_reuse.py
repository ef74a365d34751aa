"""What one session pays once: dialect-function registration, table and
plan caches bound to the session that built them, and generated code that
a warm pass reuses instead of recompiling."""

from __future__ import annotations

from unittest.mock import Mock

from minimised_impala_spark.engine import Engine
from minimised_impala_spark.functions.parity import register_sql_functions
from minimised_impala_spark.queries import load_all
from minimised_impala_spark.queries.registry import QUERIES, fresh
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


def test_table_and_plan_caches_are_per_session(spark, sf_dir):
    s2 = spark.newSession()
    assert session_key(s2) != session_key(spark)
    for owner in (spark, s2):
        assert _bound_to(load_table(owner, sf_dir, "orders"), owner)
        assert _bound_to(QUERIES["tpch_q6"](owner, sf_dir), owner)
    assert load_table(s2, sf_dir, "orders") is not load_table(spark, sf_dir, "orders")
    assert QUERIES["tpch_q6"](s2, sf_dir) is not QUERIES["tpch_q6"](spark, sf_dir)


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
        spark.catalog.clearCache()
        fresh(name)(spark, sf_dir).collect()
    spark.catalog.clearCache()
    return _classes_compiled(spark) - before


def test_warm_pass_compiles_no_class(spark, sf_dir):
    """The codegen cache (session.ENGINE_CONF) holds the set's working set:
    a second pass over fresh plans reuses every generated class."""
    _drop_generated_classes(spark)
    first = _run_pass(spark, sf_dir)
    assert first > 100, f"the set compiled only {first} classes; it no longer tests eviction"
    assert _run_pass(spark, sf_dir) == 0
