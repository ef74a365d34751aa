"""Scalar expression & function coverage — the reference's expression
library (be/src/exprs/: operators.cc, string-functions.cc 795 LoC,
math-functions.cc 623 LoC, timestamp-functions.cc 1028 LoC,
conditional-functions.cc, cast-functions.cc; registry
common/function-registry/impala_functions.py:56-691).

Each query evaluates a batch of expressions over a deterministic slice of a
fixture table, with the DuckDB oracle using the dialect-equivalent spelling.
Cross-dialect gotchas handled here (verified empirically):

- Spark ``concat`` propagates NULL, DuckDB's ignores it → oracle uses ``||``
  (the reference's concat is NULL-propagating, matching Spark).
- Spark ``dayofweek`` is 1=Sunday; DuckDB's is 0=Sunday → compare
  ``weekday()+1`` against ``isodow`` (1=Monday in both).
- DuckDB ``log`` is log10, Spark's is ln → only explicit ln/log10/log2.
- DuckDB ``date_trunc('month')`` yields DATE → cast to TIMESTAMP.
- Spark double→int cast truncates, DuckDB rounds → oracle casts trunc().
- Spark non-ANSI bad cast yields NULL → oracle uses TRY_CAST.
- round() at exactly-representable halves (x.25, x.5) differs by rounding
  mode → rounding here only touches values that cannot be exact halves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.tables import load_table, staging_dir


# --------------------------------------------------------------------------
@query(
    "scalar_string",
    oracle="""
SELECT p_partkey,
       upper(p_name)                    AS up,
       lower(p_brand)                   AS lo,
       length(p_name)                   AS len,
       substring(p_name, 1, 4)          AS sub4,
       strpos(p_name, 'e')              AS pos_e,
       split_part(p_name, ' ', 2)       AS word2,
       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
       rpad(p_brand, 12, '.')           AS padded_brand,
       reverse(p_type)                  AS rev_type,
       translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
       repeat(substring(p_brand, 1, 2), 2) AS rep2,
       p_type || '-' || p_brand         AS joined,
       trim('  ' || p_type || '  ')     AS trimmed,
       ltrim('xx' || p_name, 'x')       AS ltrimmed,
       ascii(p_name)                    AS first_code,
       chr(65 + p_size % 26)            AS size_chr,
       (p_name LIKE '%red%')            AS has_red,
       (p_name LIKE 'b%')               AS starts_b,
       regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       instr(p_name, 'ring')            AS ring_at
FROM part
WHERE p_partkey < 300
ORDER BY p_partkey
""",
)
def scalar_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") < 300)
        .select(
            "p_partkey",
            F.upper("p_name").alias("up"),
            F.lower("p_brand").alias("lo"),
            F.length("p_name").alias("len").cast("bigint"),
            F.substring("p_name", 1, 4).alias("sub4"),
            F.instr("p_name", "e").cast("bigint").alias("pos_e"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("word2"),
            F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
            F.rpad("p_brand", 12, ".").alias("padded_brand"),
            F.reverse("p_type").alias("rev_type"),
            F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
            F.repeat(F.substring("p_brand", 1, 2), 2).alias("rep2"),
            F.concat_ws("-", "p_type", "p_brand").alias("joined"),
            F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit("  "))).alias("trimmed"),
            F.ltrim(F.concat(F.lit("xx"), F.col("p_name")), F.lit("x")).alias("ltrimmed"),
            F.ascii("p_name").cast("bigint").alias("first_code"),
            F.chr(F.lit(65) + F.col("p_size") % 26).alias("size_chr"),
            F.col("p_name").like("%red%").alias("has_red"),
            F.col("p_name").like("b%").alias("starts_b"),
            F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
            F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
            F.instr("p_name", "ring").cast("bigint").alias("ring_at"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
@query(
    "scalar_math",
    oracle="""
SELECT l_orderkey, l_linenumber,
       abs(l_discount - 0.05)                   AS abs_d,
       CAST(ceil(l_extendedprice) AS BIGINT)    AS ceil_p,
       CAST(floor(l_extendedprice) AS BIGINT)   AS floor_p,
       CAST(trunc(l_extendedprice / 7.0) AS BIGINT) AS div7_trunc,
       round(sqrt(l_quantity), 9)               AS sqrt_q,
       round(ln(l_extendedprice), 9)            AS ln_p,
       round(log10(l_extendedprice), 9)         AS log10_p,
       round(log2(l_quantity + 1), 9)           AS log2_q,
       round(pow(l_discount, 2), 9)             AS disc_sq,
       CAST(sign(l_discount - 0.05) AS DOUBLE)  AS sgn,
       l_orderkey % 97                          AS mod97,
       CAST(l_orderkey & 255 AS BIGINT)         AS band,
       CAST(l_orderkey | 4096 AS BIGINT)        AS bor,
       CAST(xor(l_orderkey, l_partkey) AS BIGINT) AS bxor,
       CAST(l_linenumber << 3 AS BIGINT)        AS shl,
       CAST(l_orderkey >> 2 AS BIGINT)          AS shr,
       greatest(l_quantity, 25.0)               AS gq,
       least(l_discount, l_tax)                 AS lt,
       round(sin(l_quantity), 9)                AS sin_q,
       round(cos(l_quantity), 9)                AS cos_q,
       round(atan2(l_quantity, 10.0), 9)        AS at2,
       round(degrees(atan(l_discount)), 9)      AS deg_at,
       CAST(factorial(CAST(l_linenumber AS INT)) AS BIGINT) AS fact_ln
FROM lineitem
WHERE l_orderkey < 500
ORDER BY l_orderkey, l_linenumber
""",
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < 500)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_discount") - 0.05).alias("abs_d"),
            F.ceil("l_extendedprice").alias("ceil_p"),
            F.floor("l_extendedprice").alias("floor_p"),
            (F.col("l_extendedprice") / 7.0).cast("bigint").alias("div7_trunc"),
            F.round(F.sqrt("l_quantity"), 9).alias("sqrt_q"),
            F.round(F.log("l_extendedprice"), 9).alias("ln_p"),
            F.round(F.log10("l_extendedprice"), 9).alias("log10_p"),
            F.round(F.log2(F.col("l_quantity") + 1), 9).alias("log2_q"),
            F.round(F.pow("l_discount", F.lit(2)), 9).alias("disc_sq"),
            F.signum(F.col("l_discount") - 0.05).alias("sgn"),
            (F.col("l_orderkey") % 97).alias("mod97"),
            F.col("l_orderkey").bitwiseAND(255).alias("band"),
            F.col("l_orderkey").bitwiseOR(4096).alias("bor"),
            F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")).alias("bxor"),
            F.shiftleft(F.col("l_linenumber"), 3).cast("bigint").alias("shl"),
            F.shiftright(F.col("l_orderkey"), 2).alias("shr"),
            F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("gq"),
            F.least(F.col("l_discount"), F.col("l_tax")).alias("lt"),
            F.round(F.sin("l_quantity"), 9).alias("sin_q"),
            F.round(F.cos("l_quantity"), 9).alias("cos_q"),
            F.round(F.atan2(F.col("l_quantity"), F.lit(10.0)), 9).alias("at2"),
            F.round(F.degrees(F.atan("l_discount")), 9).alias("deg_at"),
            F.factorial(F.col("l_linenumber").cast("int")).alias("fact_ln"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
@query(
    "scalar_datetime",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT)      AS y,
       CAST(month(o_orderdate) AS INT)     AS mo,
       CAST(day(o_orderdate) AS INT)       AS d,
       CAST(quarter(o_orderdate) AS INT)   AS q,
       CAST(isodow(o_orderdate) AS INT)    AS iso_dow,
       CAST(dayofyear(o_orderdate) AS INT) AS doy,
       CAST(weekofyear(o_orderdate) AS INT) AS woy,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
       CAST(date_trunc('year', o_orderdate) AS TIMESTAMP)  AS year_start,
       CAST(epoch(o_orderdate) AS BIGINT)  AS epoch_s,
       o_orderdate + INTERVAL 30 DAY       AS plus30,
       o_orderdate - INTERVAL 2 MONTH      AS minus2mo,
       date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
       strftime(o_orderdate, '%Y-%m-%d')   AS fmt
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
""",
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("mo"),
            F.dayofmonth("o_orderdate").alias("d"),
            F.quarter("o_orderdate").alias("q"),
            (F.weekday("o_orderdate") + 1).alias("iso_dow"),
            F.dayofyear("o_orderdate").alias("doy"),
            F.weekofyear("o_orderdate").alias("woy"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
            F.date_trunc("year", F.col("o_orderdate")).alias("year_start"),
            F.unix_timestamp("o_orderdate").alias("epoch_s"),
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("plus30"),
            (F.col("o_orderdate") - F.expr("INTERVAL 2 MONTH")).alias("minus2mo"),
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
            .cast("bigint")
            .alias("days_since"),
            F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("fmt"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Conditionals (be/src/exprs/conditional-functions.h:31-123): if/ifnull/
# nullif/coalesce/zeroifnull/nullifzero/case/decode — plus NULL predicates.
@query(
    "scalar_conditional",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'mid'
            ELSE 'rich' END                        AS bal_class,
       CASE c_mktsegment WHEN 'BUILDING' THEN 1
                         WHEN 'MACHINERY' THEN 2
                         ELSE 0 END                AS seg_code,
       coalesce(nullif(c_mktsegment, 'BUILDING'), '<none>') AS seg_or_none,
       (CASE WHEN c_acctbal = 0 THEN NULL ELSE c_acctbal END) AS nullifzero_bal,
       coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0)
                                                   AS pos_or_zero,
       (c_acctbal IS NULL)                         AS is_null_bal,
       (nullif(c_nationkey, 5) IS NOT NULL)        AS not_null_nk,
       if(c_acctbal > 0, 'pos', 'nonpos')          AS sign_label,
       CAST(nullif(c_nationkey, 5) AS INT)         AS nk_or_null
FROM customer
WHERE c_custkey < 300
ORDER BY c_custkey
""",
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.filter(F.col("c_custkey") < 300)
        .select(
            "c_custkey",
            F.when(F.col("c_acctbal") < 0, "debt")
            .when(F.col("c_acctbal") < 5000, "mid")
            .otherwise("rich")
            .alias("bal_class"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1)
            .when(F.col("c_mktsegment") == "MACHINERY", 2)
            .otherwise(0)
            .alias("seg_code"),
            F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("<none>"))
            .alias("seg_or_none"),
            F.nullif(F.col("c_acctbal"), F.lit(0.0)).alias("nullifzero_bal"),
            F.coalesce(
                F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")),
                F.lit(0.0),
            ).alias("pos_or_zero"),
            F.col("c_acctbal").isNull().alias("is_null_bal"),
            F.nullif(F.col("c_nationkey"), F.lit(5)).isNotNull().alias("not_null_nk"),
            F.when(F.col("c_acctbal") > 0, "pos").otherwise("nonpos").alias("sign_label"),
            F.nullif(F.col("c_nationkey"), F.lit(5)).cast("int").alias("nk_or_null"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# Casts (be/src/exprs/cast-functions.cc): the reference returns NULL on
# malformed string→numeric casts rather than erroring; Spark matches with
# ANSI off, DuckDB via TRY_CAST.
@query(
    "scalar_cast",
    oracle="""
SELECT p_partkey,
       CAST(p_partkey AS VARCHAR)           AS key_str,
       CAST(trunc(p_retailprice) AS BIGINT) AS price_int,
       CAST(p_size AS DOUBLE)               AS size_d,
       TRY_CAST(p_brand AS INT)             AS brand_bad_cast,
       TRY_CAST(split_part(p_brand, '#', 2) AS INT) AS brand_num,
       CAST(p_retailprice AS VARCHAR)       AS price_str,
       (p_size > 25)                        AS big_flag,
       CAST((p_size > 25) AS INT)           AS big_int,
       TRY_CAST('  42' AS INT)              AS pad_int,
       TRY_CAST('4.5e2' AS DOUBLE)          AS sci_d
FROM part
WHERE p_partkey < 300
ORDER BY p_partkey
""",
)
def scalar_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_partkey") < 300)
        .select(
            "p_partkey",
            F.col("p_partkey").cast("string").alias("key_str"),
            F.col("p_retailprice").cast("bigint").alias("price_int"),
            F.col("p_size").cast("double").alias("size_d"),
            F.col("p_brand").cast("int").alias("brand_bad_cast"),
            F.split_part(F.col("p_brand"), F.lit("#"), F.lit(2)).cast("int").alias("brand_num"),
            F.col("p_retailprice").cast("string").alias("price_str"),
            (F.col("p_size") > 25).alias("big_flag"),
            (F.col("p_size") > 25).cast("int").alias("big_int"),
            F.lit("  42").cast("int").alias("pad_int"),
            F.lit("4.5e2").cast("double").alias("sci_d"),
        )
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# Constant VALUES select — the reference's UnionNode also materializes
# constant rows for VALUES / SELECT <literals> (be/src/exec/union-node.h,
# fe/.../analysis/ValuesStmt via UnionStmt); here it is a LocalRelation.
_VALUES_ORACLE = """
SELECT k, name, CAST(weight AS DOUBLE) AS weight
FROM (VALUES (1, 'one', 1.5), (2, 'two', 2.5), (3, NULL, NULL))
  AS t(k, name, weight)
ORDER BY k
"""


@query("select_values", oracle=_VALUES_ORACLE)
def select_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "SELECT k, name, weight FROM "
        "VALUES (1, 'one', 1.5D), (2, 'two', 2.5D), (3, CAST(NULL AS STRING), "
        "CAST(NULL AS DOUBLE)) AS t(k, name, weight) ORDER BY k"
    )


# --------------------------------------------------------------------------
# DECIMAL arithmetic parity — the SURVEY §7 risk register flags precision/
# scale inference as a dialect corner (fe/.../catalog/ScalarType.java:121,
# be/src/exprs/decimal-operators.cc vs Spark's decimalOperations). The
# fixture has no DECIMAL columns, so decimals are constructed by casting;
# every arithmetic result is cast to an explicit DECIMAL type so both
# engines' inference differences are pinned at the boundary — Impala's
# approach of a fully-determined result type.
_DECIMAL_ORACLE = """
SELECT o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)                 AS d,
       CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) + CAST(0.05 AS DECIMAL(4,2))
            AS DECIMAL(13,2)) AS DOUBLE)                                   AS d_add,
       CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.07 AS DECIMAL(4,2))
            AS DECIMAL(16,4)) AS DOUBLE)                                   AS d_mul,
       CAST(round(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) / 3 * 1000000)
            AS BIGINT)                                                     AS d_div_e6,
       CAST(CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 1) AS DECIMAL(12,1))
            AS DOUBLE)                                                     AS d_round,
       CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) % CAST(100 AS DECIMAL(5,0))
            AS DECIMAL(7,2)) AS DOUBLE)                                    AS d_mod,
       CAST(CAST(-CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(12,2)) AS DOUBLE)
                                                                           AS d_neg
FROM orders
WHERE o_orderkey < 300
ORDER BY o_orderkey
"""


@query("scalar_decimal", oracle=_DECIMAL_ORACLE)
def scalar_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All arithmetic runs in DECIMAL with pinned result types (that is the
    # semantics under test — be/src/exprs/decimal-operators.cc); every
    # decimal-typed OUTPUT column is then cast to DOUBLE at the comparison
    # boundary on both sides. r2–r4 proved the driver hash is
    # representation-sensitive: Spark yields Decimal('205941.60') where
    # DuckDB's pandas bridge yields float64 205941.6 — identical values,
    # different text, red row. These scales are exact in double
    # (scaled integers < 2^53), so the DOUBLE projection loses nothing.
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(12,2)")
    return (
        o.filter(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            d.cast("double").alias("d"),
            (d + F.lit(0.05).cast("decimal(4,2)")).cast("decimal(13,2)")
            .cast("double").alias("d_add"),
            (d * F.lit(1.07).cast("decimal(4,2)")).cast("decimal(16,4)")
            .cast("double").alias("d_mul"),
            # d_div compared as a 1e6-scaled BIGINT: round(x, 6) left a
            # DOUBLE whose low bits depend on each engine's rounding
            # algorithm (Spark rounds the exact decimal expansion via
            # BigDecimal; DuckDB computes round(x*1e6)/1e6), and the
            # driver's hash is full-precision — it mismatched in r2 AND
            # r3. x*1e6 has fractional part ∈ {0, ~1/3} (a 2-decimal
            # price over 3), never near the .5 tie, so round-to-integer
            # is identical on both engines and the BIGINT is exact.
            F.round(d.cast("double") / 3 * 1000000, 0).cast("bigint").alias("d_div_e6"),
            F.round(d, 1).cast("decimal(12,1)").cast("double").alias("d_round"),
            (d % F.lit(100).cast("decimal(5,0)")).cast("decimal(7,2)")
            .cast("double").alias("d_mod"),
            (-d).cast("decimal(12,2)").cast("double").alias("d_neg"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# External data-source scan (DataSourceScanNode,
# be/src/exec/data-source-scan-node.h:38 / ext-data-source API): the
# ext_kv Python DataSource generates rows executor-side with range
# pushdown on id; the oracle regenerates the identical relation via
# generate_series. v = id*0.5 is exact in binary FP, so sums need no
# rounding shim.
_EXT_KV_ORACLE = """
SELECT k, count(*) AS n, sum(v) AS sum_v, min(id) AS min_id, max(id) AS max_id
FROM (
  SELECT i AS id, 'k' || CAST(i % 10 AS VARCHAR) AS k, CAST(i * 0.5 AS DOUBLE) AS v
  FROM generate_series(0, 9999) t(i)
)
WHERE id >= 2500 AND id < 7500
GROUP BY k
ORDER BY k
"""


@query("source_ext_kv_scan", oracle=_EXT_KV_ORACLE)
def source_ext_kv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.sources import ext_kv

    ext_kv.register(spark)
    df = (
        spark.read.format("ext_kv")
        .option("rows", "10000")
        .option("partitions", "8")
        .load()
    )
    return (
        df.filter((F.col("id") >= 2500) & (F.col("id") < 7500))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sum_v"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Delimited-text scan (the reference's text scanner family,
# be/src/exec/hdfs-text-scanner.h:30 + writer hdfs-text-table-writer.h:40)
# as a declared query: supplier is round-tripped through gzip
# pipe-delimited text with an explicit schema (the reference's
# schema-on-read contract) and aggregated from the text scan; the oracle
# aggregates the original parquet. Lossless round trip = identical hashes.
_TEXT_SCAN_ORACLE = """
SELECT s_nationkey, count(*) AS n,
       round(sum(s_acctbal) * 100) / 100 AS sum_bal,
       min(s_name) AS first_name, max(s_name) AS last_name
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


@query("source_text_scan", oracle=_TEXT_SCAN_ORACLE)
def source_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.sources.formats import read_text, write_text

    stage = staging_dir("textscan", sf_dir, "supplier")
    write_text(
        load_table(spark, sf_dir, "supplier"), stage, sep="|", compression="gzip"
    )
    txt = read_text(
        spark,
        stage,
        schema="s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
        sep="|",
    )
    return (
        txt.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("s_acctbal") * 100, 0) / 100).alias("sum_bal"),
            F.min("s_name").alias("first_name"),
            F.max("s_name").alias("last_name"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# Avro scan (the reference's native Avro scanner,
# be/src/exec/hdfs-avro-scanner.h:81): supplier is round-tripped through
# Avro container files (deflate) and aggregated from the Avro scan; the
# oracle aggregates the original parquet. Uses spark-avro when present,
# else the spec-compliant pure-Python codec (sources/avro_py.py) — which
# tests/test_avro.py cross-validates against Apache Avro Java both ways.
_AVRO_SCAN_ORACLE = """
SELECT s_nationkey, count(*) AS n,
       round(sum(s_acctbal) * 100) / 100 AS sum_bal,
       min(s_name) AS first_name, max(s_name) AS last_name
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


@query("source_avro_scan", oracle=_AVRO_SCAN_ORACLE)
def source_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.sources.formats import read_avro, write_avro

    stage = staging_dir("avroscan", sf_dir, "supplier")
    write_avro(
        load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        ),
        stage,
    )
    av = read_avro(spark, stage)
    return (
        av.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("s_acctbal") * 100, 0) / 100).alias("sum_bal"),
            F.min("s_name").alias("first_name"),
            F.max("s_name").alias("last_name"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# SequenceFile scan (the reference's legacy-format scanner,
# be/src/exec/hdfs-sequence-scanner.h:156): supplier round-trips through a
# (key, JSON) SequenceFile via the RDD bridge (sources/formats.py) and is
# aggregated from the scan; the oracle aggregates the original parquet.
# Hive-serde SequenceFile/RCFile *tables* are covered separately in
# tests/test_legacy_formats.py (hive-enabled session required).
_SEQ_SCAN_ORACLE = """
SELECT s_nationkey, count(*) AS n,
       round(sum(s_acctbal) * 100) / 100 AS sum_bal,
       min(s_name) AS first_name, max(s_name) AS last_name
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


@query("source_sequencefile_scan", oracle=_SEQ_SCAN_ORACLE)
def source_sequencefile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from minimised_impala_spark.sources.formats import (
        read_sequencefile,
        write_sequencefile,
    )

    stage = staging_dir("seqscan", sf_dir, "supplier")
    shutil.rmtree(stage, ignore_errors=True)
    write_sequencefile(
        load_table(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
        ),
        stage,
        key_col="s_suppkey",
    )
    seq = read_sequencefile(
        spark, stage, "s_name string, s_nationkey int, s_acctbal double"
    )
    return (
        seq.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("s_acctbal") * 100, 0) / 100).alias("sum_bal"),
            F.min("s_name").alias("first_name"),
            F.max("s_name").alias("last_name"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# CHAR(n)/VARCHAR(n) semantics (be/src/runtime/types.h:54-55,
# fe/.../catalog/ScalarType.java; SURVEY §7 risk register): CAST to CHAR(n)
# truncates then blank-pads to exactly n; CAST to VARCHAR(n) silently
# truncates; CHAR comparison ignores trailing blanks. Spark's native CHAR
# cast does neither under default conf, so the engine expresses the
# contract via functions/parity.py cast_char/cast_varchar/char_eq.
_CHAR_VARCHAR_ORACLE = """
SELECT s_suppkey,
       rpad(substr(s_name, 1, 12), 12, ' ')   AS c12,
       length(rpad(substr(s_name, 1, 12), 12, ' ')) AS c12_len,
       rpad(substr(s_name, 1, 40), 40, ' ')   AS c40,
       substr(s_name, 1, 8)                   AS v8,
       substr(upper(s_name), 1, 15)           AS v15,
       (rtrim(rpad(substr(s_name, 1, 40), 40, ' ')) = rtrim(s_name)) AS pad_eq,
       (rtrim(s_name || '   ') = rtrim(s_name))                      AS trail_eq,
       (rpad(substr(s_name, 1, 40), 40, ' ') = s_name)               AS raw_eq
FROM supplier
WHERE s_suppkey <= 50
ORDER BY s_suppkey
"""


@query("scalar_char_varchar", oracle=_CHAR_VARCHAR_ORACLE)
def scalar_char_varchar(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.functions.parity import cast_char, cast_varchar, char_eq

    sup = load_table(spark, sf_dir, "supplier")
    name = F.col("s_name")
    return (
        sup.filter(F.col("s_suppkey") <= 50)
        .select(
            "s_suppkey",
            cast_char(name, 12).alias("c12"),
            F.length(cast_char(name, 12)).alias("c12_len"),
            cast_char(name, 40).alias("c40"),
            cast_varchar(name, 8).alias("v8"),
            cast_varchar(F.upper(name), 15).alias("v15"),
            char_eq(cast_char(name, 40), name).alias("pad_eq"),
            char_eq(F.concat(name, F.lit("   ")), name).alias("trail_eq"),
            (cast_char(name, 40) == name).alias("raw_eq"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# JSON-lines scan (the reference treats JSON via Hive serdes; Spark's
# native json source is the idiomatic equivalent): customer round-trips
# through gzipped JSON lines and is aggregated from the scan with an
# explicit schema (schema-on-read); the oracle aggregates the original
# parquet. Lossless round trip = identical hashes.
_JSON_SCAN_ORACLE = """
SELECT c_mktsegment, count(*) AS n,
       round(sum(c_acctbal) * 100) / 100 AS sum_bal,
       CAST(min(c_custkey) AS BIGINT) AS first_cust,
       CAST(max(c_nationkey) AS BIGINT) AS max_nation
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("source_json_scan", oracle=_JSON_SCAN_ORACLE)
def source_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.sources.formats import read_json, write_json

    stage = staging_dir("jsonscan", sf_dir, "customer")
    write_json(load_table(spark, sf_dir, "customer"), stage, compression="gzip")
    js = read_json(
        spark,
        stage,
        schema=(
            "c_custkey bigint, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string"
        ),
    )
    return (
        js.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("c_acctbal") * 100, 0) / 100).alias("sum_bal"),
            F.min("c_custkey").alias("first_cust"),
            F.max("c_nationkey").cast("bigint").alias("max_nation"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# ORC scan (the reference's ORC scanner, be/src/exec/hdfs-orc-scanner.h):
# part round-trips through ORC and is aggregated from the scan; the
# oracle aggregates the original parquet.
_ORC_SCAN_ORACLE = """
SELECT p_brand, count(*) AS n,
       round(sum(p_retailprice) * 100) / 100 AS sum_price,
       CAST(min(p_size) AS INT) AS min_size,
       CAST(max(p_size) AS INT) AS max_size
FROM part
GROUP BY p_brand
ORDER BY p_brand
"""


@query("source_orc_scan", oracle=_ORC_SCAN_ORACLE)
def source_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.sources.formats import read_orc, write_orc

    stage = staging_dir("orcscan", sf_dir, "part")
    write_orc(load_table(spark, sf_dir, "part"), stage)
    orc = read_orc(spark, stage)
    return (
        orc.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.round(F.sum("p_retailprice") * 100, 0) / 100).alias("sum_price"),
            F.min("p_size").alias("min_size"),
            F.max("p_size").alias("max_size"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# Parquet schema evolution through the scan path — the reference resolves
# schema drift per file at scan time (HdfsParquetScanner column
# resolution, be/src/exec/parquet/hdfs-parquet-scanner.cc; Avro
# resolution is its own §2 row): two batches of the same dataset are
# written with DIFFERENT schemas (v2 adds a column), read back merged
# (mergeSchema), and aggregated — v1 rows surface NULL for the added
# column. The oracle recomputes the identical aggregate from the source
# table with the v1/v2 split expressed as CASE, so the driver hash
# covers write → heterogeneous-footer scan → merge → NULL semantics.
@query(
    "source_schema_evolution",
    oracle="""
SELECT CASE WHEN doc_id < 200 THEN '<pre-evolution>' ELSE lang END AS lang_slot,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE doc_id < 400
GROUP BY lang_slot
ORDER BY lang_slot
""",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    docs = load_table(spark, sf_dir, "documents")
    base = staging_dir("evolve", sf_dir, "documents")
    shutil.rmtree(base, ignore_errors=True)
    (
        docs.filter(F.col("doc_id") < 200)
        .select("doc_id", "n_chars")
        .write.parquet(f"{base}/batch=1")
    )
    (
        docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400))
        .select("doc_id", "n_chars", "lang")
        .write.parquet(f"{base}/batch=2")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{base}/batch=1", f"{base}/batch=2"
    )
    return (
        merged.select(
            F.coalesce(F.col("lang"), F.lit("<pre-evolution>")).alias(
                "lang_slot"
            ),
            "n_chars",
        )
        .groupBy("lang_slot")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang_slot")
    )


# --------------------------------------------------------------------------
# XML scan (beyond ref — its scanner set stops at text/seq/rc/avro/
# parquet/orc; Spark 4 ships a native xml source, so the engine covers
# the one remaining text-structured interchange format): nation
# round-trips through row-tagged XML with an explicit schema
# (schema-on-read, like the JSON scan) and is aggregated from the
# scan; the oracle aggregates the original parquet. Integer/string
# columns only — XML is a text format, so float round-trips would
# hinge on repr conventions rather than scanner correctness.
_XML_SCAN_ORACLE = """
SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n,
       min(n_name) AS first_name,
       CAST(max(n_nationkey) AS BIGINT) AS max_key,
       CAST(sum(length(n_name)) AS BIGINT) AS name_chars
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@query("source_xml_scan", oracle=_XML_SCAN_ORACLE)
def source_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = staging_dir("xmlscan", sf_dir, "nation")
    (
        load_table(spark, sf_dir, "nation")
        .write.format("xml")
        .option("rowTag", "nation")
        .mode("overwrite")
        .save(stage)
    )
    xml = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .load(stage)
    )
    return (
        xml.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_name").alias("first_name"),
            F.max("n_nationkey").alias("max_key"),
            F.sum(F.length("n_name")).alias("name_chars"),
        )
        .orderBy("n_regionkey")
    )
