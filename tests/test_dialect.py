"""Dialect-translation unit tests + end-to-end Engine.sql checks
(reference parser surface: fe/src/main/cup/sql-parser.cup:1996-2000 plan
hints; fe/src/test/.../analysis/ParserTest.java is the model)."""

from __future__ import annotations

from minimised_impala_spark import dialect
from minimised_impala_spark.engine import Engine
from minimised_impala_spark.tables import register_tables


def test_broadcast_hint_rewrite():
    out = dialect.translate(
        "SELECT n_name, count(*) FROM orders JOIN [broadcast] nation n "
        "ON n_nationkey = o_custkey GROUP BY n_name"
    )
    assert "/*+ BROADCAST(n) */" in out
    assert "[broadcast]" not in out.lower()


def test_shuffle_hint_rewrite():
    out = dialect.translate("SELECT * FROM a JOIN [shuffle] big_table ON a.k = big_table.k")
    assert "/*+ SHUFFLE_HASH(big_table) */" in out


def test_hint_inside_string_untouched():
    sql = "SELECT '[broadcast] join [shuffle]' AS s FROM t"
    assert dialect.translate(sql) == sql


def test_straight_join_stripped():
    sql = "SELECT STRAIGHT_JOIN a.x FROM a JOIN b ON a.k = b.k"
    out = dialect.translate(sql)
    assert "STRAIGHT_JOIN" not in out.upper()
    assert dialect.has_straight_join(sql)
    assert not dialect.has_straight_join(out)


def test_catalog_verb_mapping():
    assert dialect.translate("COMPUTE STATS lineitem") == (
        "ANALYZE TABLE lineitem COMPUTE STATISTICS FOR ALL COLUMNS"
    )
    assert dialect.translate("COMPUTE INCREMENTAL STATS db.t") == (
        "ANALYZE TABLE db.t COMPUTE STATISTICS FOR ALL COLUMNS"
    )
    assert dialect.translate("INVALIDATE METADATA lineitem") == "REFRESH TABLE lineitem"
    assert dialect.translate("REFRESH lineitem") == "REFRESH TABLE lineitem"


def test_plain_sql_passthrough():
    sql = "SELECT l_orderkey FROM lineitem WHERE l_quantity > 5 ORDER BY 1"
    assert dialect.translate(sql) == sql


def test_engine_sql_end_to_end(spark, sf_dir):
    engine = Engine(spark)
    register_tables(spark, sf_dir, ("orders", "nation", "customer"))
    df = engine.sql(
        "SELECT count(*) AS n FROM orders JOIN [broadcast] customer c "
        "ON c.c_custkey = o_custkey"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert df.collect()[0]["n"] > 0


def test_engine_dialect_functions_available(spark):
    engine = Engine(spark)
    row = engine.sql("SELECT strleft('hello', 2) a, fnv_hash('x') b").collect()[0]
    assert row["a"] == "he"
    assert isinstance(row["b"], int)


def test_engine_straight_join_runs(spark, sf_dir):
    engine = Engine(spark)
    register_tables(spark, sf_dir, ("orders", "customer"))
    df = engine.sql(
        "SELECT STRAIGHT_JOIN count(*) AS n FROM orders "
        "JOIN customer ON c_custkey = o_custkey"
    )
    assert df.collect()[0]["n"] > 0
    # config restored afterwards
    assert spark.conf.get("spark.sql.cbo.joinReorder.enabled") == "true"


def test_engine_compute_stats(spark, sf_dir):
    engine = Engine(spark)
    # ANALYZE needs a catalog table, not a temp view.
    spark.sql("DROP TABLE IF EXISTS _stats_probe")
    engine.sql(f"CREATE TABLE _stats_probe USING parquet AS SELECT * FROM parquet.`{sf_dir}/region.parquet`")
    try:
        engine.sql("COMPUTE STATS _stats_probe")
        engine.sql("INVALIDATE METADATA _stats_probe")
        stats = spark.sql("DESCRIBE EXTENDED _stats_probe").collect()
        assert any("Statistics" in str(r) for r in stats)
    finally:
        spark.sql("DROP TABLE IF EXISTS _stats_probe")


def test_hint_after_subquery_lands_on_outer_select():
    # A subquery's SELECT sits textually between the outer SELECT and the
    # hinted join; the hint must attach to the OUTER block (ADVICE r1).
    out = dialect.translate(
        "SELECT x.a, s.b FROM (SELECT a FROM t1) x "
        "JOIN [broadcast] small s ON x.a = s.a"
    )
    assert out.startswith("SELECT /*+ BROADCAST(s) */")
    assert "(SELECT /*+" not in out


def test_hint_inside_subquery_lands_on_inner_select():
    out = dialect.translate(
        "SELECT * FROM (SELECT t.a FROM t JOIN [shuffle] u ON t.k = u.k) v"
    )
    assert "(SELECT /*+ SHUFFLE_HASH(u) */" in out
    assert not out.startswith("SELECT /*+")


def test_hints_in_both_blocks():
    out = dialect.translate(
        "SELECT * FROM (SELECT t.a FROM t JOIN [broadcast] d ON t.k = d.k) v "
        "JOIN [shuffle] w ON v.a = w.a"
    )
    assert out.startswith("SELECT /*+ SHUFFLE_HASH(w) */")
    assert "(SELECT /*+ BROADCAST(d) */" in out


def test_aggregate_name_renames():
    from minimised_impala_spark.dialect import translate

    out = translate(
        "SELECT ndv(a), distinctpc(b), distinctpcsa(c), appx_median(d), "
        "variance_pop(e), variance_samp(f) FROM t"
    )
    assert out == (
        "SELECT approx_count_distinct(a), approx_count_distinct(b), "
        "approx_count_distinct(c), median(d), var_pop(e), var_samp(f) FROM t"
    )
    # names inside string literals are never rewritten
    assert translate("SELECT 'ndv(x)' s FROM t") == "SELECT 'ndv(x)' s FROM t"
    # bare identifiers (no call parens) are not function calls
    assert translate("SELECT ndv FROM t") == "SELECT ndv FROM t"


def test_engine_ndv_appx_median_run(spark, sf_dir):
    from minimised_impala_spark.engine import Engine

    eng = Engine(spark)
    spark.read.parquet(f"{sf_dir}/orders.parquet").createOrReplaceTempView(
        "dialect_orders"
    )
    row = eng.sql(
        "SELECT ndv(o_custkey) nd, appx_median(o_totalprice) med, "
        "       variance_pop(o_totalprice) vp "
        "FROM dialect_orders"
    ).collect()[0]
    assert row["nd"] > 0 and row["med"] is not None and row["vp"] > 0


def test_qualify_rewrites_to_subquery():
    out = dialect.translate(
        "SELECT a, row_number() OVER (ORDER BY b) AS rn FROM t QUALIFY rn <= 2"
    )
    import re

    assert not re.search(r"\bQUALIFY\b", out, re.IGNORECASE)  # _ is \w: the
    # __qualify__/__mis_qualify identifiers don't match with boundaries
    assert "__qualify__" in out
    # alias inlined into the predicate (no lateral-column-alias reliance)
    assert out.count("row_number() OVER (ORDER BY b)") == 2
    assert out.strip().startswith("SELECT a, rn FROM (")


def test_qualify_tail_clauses_move_outside():
    out = dialect.translate(
        "SELECT a, max(b) OVER (PARTITION BY a) AS mb FROM t "
        "QUALIFY mb > 5 ORDER BY a LIMIT 3"
    )
    assert out.endswith("ORDER BY a LIMIT 3")
    assert "WHERE __qualify__" in out


def test_qualify_inside_string_untouched():
    sql = "SELECT 'no QUALIFY here' AS s FROM t"
    assert dialect.translate(sql) == sql


def test_qualify_raw_window_predicate():
    out = dialect.translate(
        "SELECT a FROM t QUALIFY row_number() OVER (ORDER BY a) = 1"
    )
    assert "(row_number() OVER (ORDER BY a) = 1) AS __qualify__" in out


def test_qualify_order_by_inside_over_not_tail():
    # the ORDER BY inside OVER(...) must not be mistaken for the statement
    # tail when it follows QUALIFY textually
    out = dialect.translate(
        "SELECT a FROM t QUALIFY rank() OVER (ORDER BY a) <= 3"
    )
    assert out.endswith("WHERE __qualify__")


def test_qualify_alias_inside_string_literal_not_inlined():
    # ADVICE r5: alias tokens inside string literals must not be rewritten
    out = dialect.translate(
        "SELECT a, row_number() OVER (ORDER BY b) AS rn FROM t "
        "QUALIFY rn <= 2 AND a <> 'rn'"
    )
    assert "'rn'" in out  # the literal survives verbatim
    assert "'(row_number()" not in out


def test_qualify_qualified_ref_column_part_not_inlined():
    # t.rn refers to a base column of t, not the select alias
    out = dialect.translate(
        "SELECT t.a, row_number() OVER (ORDER BY t.b) AS rn FROM t "
        "QUALIFY rn <= 2 AND t.rn > 0"
    )
    assert "t.rn > 0" in out
    assert "t.(row_number()" not in out


def test_qualify_function_name_collision_not_inlined():
    # a function spelled like an alias must stay a function call
    out = dialect.translate(
        "SELECT a, max(b) OVER (PARTITION BY a) AS abs FROM t "
        "QUALIFY abs > abs(-1)"
    )
    assert "abs(-1)" in out
    assert "(max(b) OVER (PARTITION BY a))(-1)" not in out
    # while the bare alias use IS inlined
    assert "(max(b) OVER (PARTITION BY a)) > abs(-1)" in out


def test_qualify_select_item_literal_with_parens_and_commas():
    # parens/commas inside a string-literal select item must not derail
    # top-level item splitting (ADVICE r5: _split_top_commas on the mask)
    out = dialect.translate(
        "SELECT '(' AS p, 'a,b' AS q, row_number() OVER (ORDER BY b) AS rn "
        "FROM t QUALIFY rn = 1"
    )
    assert out.strip().startswith("SELECT p, q, rn FROM (")
    assert "'('" in out and "'a,b'" in out


def test_qualify_rejects_window_clause_after_predicate():
    """DuckDB's grammar puts the named-WINDOW clause BEFORE QUALIFY; a
    clause after the predicate used to be silently absorbed into the
    rewritten filter expression, emitting unparseable SQL. The rewriter
    must reject it loudly instead."""
    import pytest

    from minimised_impala_spark.dialect import translate

    # golden: the exact text is user-facing in the shell — keep stable
    with pytest.raises(ValueError) as exc:
        translate(
            "SELECT o_orderkey, row_number() OVER w AS rn FROM orders "
            "QUALIFY rn <= 2 "
            "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)"
        )
    assert str(exc.value) == "QUALIFY rewrite: WINDOW clause must precede QUALIFY"
    # canonical order passes through the rewrite
    out = translate(
        "SELECT o_orderkey, row_number() OVER w AS rn FROM orders "
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey) "
        "QUALIFY rn <= 2"
    )
    assert "__qualify__" in out and "WINDOW w AS" in out


def test_boolean_operator_spellings():
    """The reference lexer maps '&&' -> AND and '||' -> OR unconditionally
    (fe/src/main/jflex/sql-scanner.flex:52,155); '||' is NEVER concat in
    this dialect. Spark would reject '&&' and silently CONCAT on '||', so
    both must rewrite — but never inside string literals or comments."""
    from minimised_impala_spark.dialect import translate

    assert translate("SELECT 1 WHERE a > 1 && b < 2") == (
        "SELECT 1 WHERE a > 1 AND b < 2"
    )
    assert translate("SELECT 1 WHERE a > 1 || b < 2") == (
        "SELECT 1 WHERE a > 1 OR b < 2"
    )
    assert translate("SELECT x&&y, a||b FROM t") == (
        "SELECT x AND y, a OR b FROM t"
    )
    # literals and comments survive untouched
    assert translate("SELECT '&&' || c FROM t -- a||b") == (
        "SELECT '&&' OR c FROM t -- a||b"
    )


def test_boolean_operators_execute(spark):
    """hive-benchmark WEB_Q4 shape: '&&' between range predicates."""
    from minimised_impala_spark.engine import Engine

    eng = Engine(spark)
    rows = eng.sql(
        "SELECT count(*) AS n FROM (SELECT 12 AS pagerank) r "
        "WHERE pagerank > 10 && pagerank < 25"
    ).collect()
    assert rows[0]["n"] == 1
    rows = eng.sql(
        "SELECT count(*) AS n FROM (SELECT 5 AS pagerank) r "
        "WHERE pagerank > 10 || pagerank < 25"
    ).collect()
    assert rows[0]["n"] == 1


def test_iregexp_rewrite(spark):
    """IREGEXP (LikePredicate.java:36) = case-INsensitive regex match
    (like-predicate.cc RegexPrepareInternal(..., false)). Literal
    patterns get the inline (?i) flag; non-literal ones wrap in concat."""
    from minimised_impala_spark.dialect import translate
    from minimised_impala_spark.engine import Engine

    assert translate("SELECT 'AbC' IREGEXP 'a.c' AS b") == (
        "SELECT 'AbC' RLIKE '(?i)a.c' AS b"
    )
    assert translate("SELECT x IREGEXP p FROM t") == (
        "SELECT x RLIKE concat('(?i)', p) FROM t"
    )
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT ('AbC' IREGEXP 'a.c') AS lit, "
        "(s IREGEXP p) AS col, "
        "('AbC' REGEXP 'a.c') AS sensitive "
        "FROM (SELECT 'HeLLo' AS s, 'hel+o' AS p)"
    ).collect()
    assert (rows[0]["lit"], rows[0]["col"], rows[0]["sensitive"]) == (
        True, True, False
    )


def test_backquoted_identifiers_never_rewritten():
    """The rewrite mask must cover backquoted identifiers too — an
    operator spelling or aggregate name INSIDE `...` is part of a name,
    not a token (same identifier rules as the reference's lexer)."""
    from minimised_impala_spark.dialect import translate

    assert translate("SELECT `a||b` FROM t WHERE x > 1 && y < 2") == (
        "SELECT `a||b` FROM t WHERE x > 1 AND y < 2"
    )
    assert translate("SELECT `ndv(x)` FROM t") == "SELECT `ndv(x)` FROM t"


def test_iregexp_abutting_comment_literal_translates():
    from minimised_impala_spark.dialect import translate

    # comment and literal abut — under single-placeholder masking they
    # formed one \x00 run classified wholesale as comment, and translate
    # raised ValueError on valid SQL
    assert (
        translate("SELECT x IREGEXP/*c*/'a.c' FROM t")
        == "SELECT x RLIKE '(?i)a.c' FROM t"
    )
    # literal-then-comment abutting on the tail side: the comment sits
    # OUTSIDE the operand and is preserved verbatim
    assert (
        translate("SELECT x IREGEXP 'a.c'/*c*/ FROM t")
        == "SELECT x RLIKE '(?i)a.c'/*c*/ FROM t"
    )
