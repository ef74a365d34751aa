"""Aggregation operator coverage — the reference's aggregate builtins
(fe/.../catalog/BuiltinsDb.java:532-792, be/src/exprs/aggregate-functions.cc):
count/min/max/sum/avg, DISTINCT variants, group_concat, ndv (HLL),
appx_median, stddev/variance family — plus HAVING and Spark-native
ROLLUP (an extension; the reference grammar has no grouping sets).

Determinism notes: sums over fixed-point money columns use the scaled-round
trick (see tpch.py); stddev/variance outputs are rounded to 6 decimals in
both engines (inputs are integer-valued so the moment sums are near-exact).
Sketch-based ndv/appx_median have no oracle (implementation-defined values);
they are declared rows-only and exercised in tests instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.queries.tpch import dsum
from minimised_impala_spark.seams import seam
from minimised_impala_spark.tables import load_table


# --------------------------------------------------------------------------
# Multi-DISTINCT aggregation: the reference rewrites DISTINCT aggs into a
# two-phase agg tree (fe/.../analysis/AggregateInfo.java:47-57); Catalyst's
# RewriteDistinctAggregates does the equivalent expand-based plan.
@query(
    "agg_distinct_multi",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey)  AS nd_parts,
       count(DISTINCT l_suppkey)  AS nd_supps,
       round(sum(DISTINCT l_quantity)) AS sum_d_qty,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_parts"),
            F.countDistinct("l_suppkey").alias("nd_supps"),
            F.round(F.sum_distinct(F.col("l_quantity"))).alias("sum_d_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Variance family (reference: Knuth online variance,
# be/src/exprs/aggregate-functions.cc; BuiltinsDb.java:646-702).
@query(
    "agg_stats",
    oracle="""
SELECT l_linestatus,
       round(stddev_samp(l_quantity), 6) AS sd_samp,
       round(stddev_pop(l_quantity), 6)  AS sd_pop,
       round(var_samp(l_quantity), 6)    AS v_samp,
       round(var_pop(l_quantity), 6)     AS v_pop,
       min(l_quantity) AS min_q, max(l_quantity) AS max_q
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_samp"),
            F.round(F.stddev_pop("l_quantity"), 6).alias("sd_pop"),
            F.round(F.var_samp("l_quantity"), 6).alias("v_samp"),
            F.round(F.var_pop("l_quantity"), 6).alias("v_pop"),
            F.min("l_quantity").alias("min_q"),
            F.max("l_quantity").alias("max_q"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# group_concat (BuiltinsDb.java:781-792) — made order-deterministic by
# sorting the collected list (the reference's group_concat is
# order-undefined; a deterministic variant is strictly stronger).
@query(
    "agg_group_concat",
    oracle="""
SELECT n_name, string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs
FROM (SELECT DISTINCT n_name, c_mktsegment
      FROM customer JOIN nation ON c_nationkey = n_nationkey) t
GROUP BY n_name
ORDER BY n_name
""",
)
def agg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "c_mktsegment")
        .distinct()
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("c_mktsegment")), ",").alias("segs")
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# Exact median / percentiles (linear interpolation in both engines).
# The approximate reference functions (appx_median, BuiltinsDb.java:574)
# are covered rows-only by agg_ndv_sketches below.
@query(
    "agg_percentile_exact",
    oracle="""
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4)  AS median_price,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95_price"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Sketch aggregates — ndv/distinctpc (HLL, aggregate-functions.h:126) →
# approx_count_distinct; appx_median → percentile_approx. Sketch *values*
# are implementation-defined, so the oracle checks testable properties
# instead: the exact distinct counts (deterministic in both engines) plus
# booleans asserting each estimate lands within its documented error bound
# (HLL rsd=0.05 → 3σ = 15% relative error; percentile_approx accuracy=10000
# → rank error ≤ n/10000, bounded here by the exact p45..p55 envelope).
# A sketch that returned garbage flips a boolean and fails the value hash.
@query(
    "agg_ndv_sketches",
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_partkey)  AS exact_parts,
       count(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS ndv_parts_ok,
       TRUE AS ndv_orders_ok,
       TRUE AS median_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def agg_ndv_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def _within(approx, exact, tol):  # relative-error bound
        return (F.abs(approx - exact) <= tol * exact).alias
    est = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_partkey").alias("ndv_parts"),
        F.approx_count_distinct("l_orderkey").alias("ndv_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("appx_median"),
        F.percentile("l_extendedprice", F.lit(0.45)).alias("p45"),
        F.percentile("l_extendedprice", F.lit(0.55)).alias("p55"),
    )
    return est.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        _within(F.col("ndv_parts"), F.col("exact_parts"), 0.15)("ndv_parts_ok"),
        _within(F.col("ndv_orders"), F.col("exact_orders"), 0.15)("ndv_orders_ok"),
        F.col("appx_median").between(F.col("p45"), F.col("p55")).alias("median_ok"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# HAVING over aggregate (sql-parser.cup having_clause).
@query(
    "agg_having",
    oracle="""
SELECT o_custkey, count(*) AS n_orders,
       round(sum(o_totalprice) * 100) / 100 AS spend
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 15
ORDER BY o_custkey
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("spend"),
        )
        .filter(F.col("n_orders") >= 15)
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# ROLLUP (Spark-native extension; reference grammar has no grouping sets —
# SURVEY §2.4). grouping() disambiguates NULL-as-total from NULL data.
@query(
    "agg_rollup",
    oracle="""
SELECT coalesce(l_returnflag, '<all>') AS returnflag,
       coalesce(l_linestatus, '<all>') AS linestatus,
       CAST(grouping(l_returnflag) + grouping(l_linestatus) AS INT) AS lvl,
       count(*) AS n,
       round(sum(l_extendedprice) * 100) / 100 AS total_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY lvl, returnflag, linestatus
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag") + F.grouping("l_linestatus"))
            .cast("int")
            .alias("lvl"),
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_extendedprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
            "lvl",
            "n",
            "total_price",
        )
        .orderBy("lvl", "returnflag", "linestatus")
    )


# --------------------------------------------------------------------------
# min/max across types (reference supports min/max on all scalar types,
# BuiltinsDb.java:560-567) incl. strings and timestamps.
@query(
    "agg_minmax_types",
    oracle="""
SELECT o_orderstatus,
       min(o_orderdate) AS first_date, max(o_orderdate) AS last_date,
       min(o_orderpriority) AS min_prio, max(o_orderpriority) AS max_prio,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_minmax_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
            F.min("o_orderpriority").alias("min_prio"),
            F.max("o_orderpriority").alias("max_prio"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# UNION ALL / UNION DISTINCT (reference UnionNode + dedup agg, SURVEY §2.7).
@query(
    "set_union",
    oracle="""
SELECT k, count(*) AS n FROM (
  SELECT c_nationkey AS k FROM customer
  UNION ALL
  SELECT s_nationkey AS k FROM supplier
) u GROUP BY k
ORDER BY k
""",
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    u = cust.select(F.col("c_nationkey").alias("k")).unionAll(
        supp.select(F.col("s_nationkey").alias("k"))
    )
    return u.groupBy("k").agg(F.count(F.lit(1)).alias("n")).orderBy("k")


@query(
    "set_union_distinct",
    oracle="""
SELECT k FROM (
  SELECT c_nationkey AS k FROM customer
  UNION
  SELECT n_nationkey + 20 AS k FROM nation
) u
ORDER BY k
""",
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.select(F.col("c_nationkey").alias("k"))
        .union(nation.select((F.col("n_nationkey") + 20).alias("k")))
        .distinct()
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# CUBE + grouping_id — multi-dimensional rollup (beyond the reference: its
# grammar has no GROUPING SETS, fe/src/main/cup/sql-parser.cup — Spark
# provides them natively; included because any reference user migrating
# OLAP workloads expects them). grouping_id disambiguates NULL-as-subtotal
# from NULL data values.
_CUBE_ORACLE = """
SELECT coalesce(l_returnflag, '<all>')  AS rf,
       coalesce(l_linestatus, '<all>')  AS ls,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                                        AS gid,
       count(*)                         AS n,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY gid, rf, ls
"""


@query("agg_cube_grouping", oracle=_CUBE_ORACLE)
def agg_cube_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("ls"),
            "gid",
            "n",
            "sum_qty",
        )
        .orderBy("gid", "rf", "ls")
    )


# --------------------------------------------------------------------------
# INTERSECT / EXCEPT — absent from the reference's grammar (SURVEY §2.7:
# UNION only, sql-parser.cup:1633), native in Spark; included because the
# reference rewrote them manually as semi/anti joins and a migrating user
# gets them back as first-class operators. Both compile to semi/anti hash
# joins — same scale shape as §2.3.
_INTERSECT_EXCEPT_ORACLE = """
SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  INTERSECT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
) t
UNION ALL
SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
  EXCEPT
  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
) t
ORDER BY op
"""


@query("set_intersect_except", oracle=_INTERSECT_EXCEPT_ORACLE)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # persist both side sets: each feeds the INTERSECT and the EXCEPT —
    # uncached, every set op re-scanned orders (4 scans; 2 after — r12 §5)
    f = seam(orders.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
    o = seam(orders.filter(F.col("o_orderstatus") == "O").select("o_custkey"))
    inter = f.intersect(o).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect").alias("op"), "n"
    )
    exc = f.subtract(o).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except").alias("op"), "n"
    )
    return exc.unionAll(inter).orderBy("op")


# --------------------------------------------------------------------------
# PIVOT — wide-format aggregation (beyond the reference; Spark-native).
# Oracle expresses the same result as conditional aggregates, which is
# exactly Catalyst's own lowering of PIVOT.
_PIVOT_ORACLE = """
SELECT o_orderpriority,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                     FILTER (WHERE o_orderstatus = 'F'), 0) AS DOUBLE) / 100 AS f_total,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                     FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) / 100 AS o_total,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                     FILTER (WHERE o_orderstatus = 'P'), 0) AS DOUBLE) / 100 AS p_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("agg_pivot", oracle=_PIVOT_ORACLE)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # The pivot cell aggregates exact scaled cents in DECIMAL(38,0)
    # (the isum_wide accumulator — a single aggregate expression, which
    # is what pivot().agg() accepts): the (priority, status) cells grow
    # with SF and the double-sum round margin broke at the 100x fixture
    # (r12 sf10 sweep).
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("decimal(38,0)")
    pivoted = (
        orders.withColumn("cents", cents)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum("cents"))
    )
    zero = F.lit(0).cast("decimal(38,0)")
    return pivoted.select(
        "o_orderpriority",
        (F.coalesce(F.col("F"), zero).cast("double") / 100).alias("f_total"),
        (F.coalesce(F.col("O"), zero).cast("double") / 100).alias("o_total"),
        (F.coalesce(F.col("P"), zero).cast("double") / 100).alias("p_total"),
    ).orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# Datasketches suite — the modern replacement for the reference's
# distinctpc/distinctpcsa sketches (BuiltinsDb.java:605-636): mergeable
# HLL sketches (build per partition/group, union, estimate — the pattern
# that makes distinct counting composable across 100 TB partitions) plus
# approx_top_k frequent items. At the fixture's tiny cardinalities both
# sketches are EXACT, so this query carries a full SQL oracle; the error
# envelope at high cardinality is bounded in tests/test_sketches.py.
_SKETCH_ORACLE = """
WITH topk AS (
  SELECT o_orderpriority AS item, count(*) AS cnt
  FROM orders GROUP BY o_orderpriority
),
merged AS (
  SELECT CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS ndv_status
  FROM orders
)
SELECT t.item, t.cnt, m.ndv_status
FROM topk t CROSS JOIN merged m
ORDER BY t.cnt DESC, t.item
"""


@query("agg_sketch_suite", oracle=_SKETCH_ORACLE)
def agg_sketch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # frequent items: approx_top_k is exact when cardinality ≪ maxItemsTracked
    # (k=5 covers every priority — no ambiguous boundary ties at the cut)
    topk = (
        orders.agg(F.expr("approx_top_k(o_orderpriority, 5)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(F.col("e.item").alias("item"), F.col("e.count").alias("cnt"))
    )
    # mergeable HLL: per-status sketches unioned, then estimated — the
    # distributed two-level pattern (sketch per partition, union at root)
    # ndv target with tiny true cardinality (3) so the HLL estimate is
    # exact at every SF; the high-cardinality error envelope is bounded
    # separately in tests/test_sketches.py.
    per_group = orders.groupBy("o_orderpriority").agg(
        F.hll_sketch_agg("o_orderstatus").alias("sk")
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("ndv_status")
    )
    return (
        topk.crossJoin(F.broadcast(merged))
        .select("item", "cnt", "ndv_status")
        .orderBy(F.desc("cnt"), "item")
    )


# --------------------------------------------------------------------------
# The reference's sample() aggregate (reservoir sampling of 20 values per
# group, be/src/exprs/aggregate-functions.h:135-159 ReservoirSample*,
# BuiltinsDb.java:574-594). A literal reservoir is nondeterministic across
# engines, so the engine spells it as a deterministic hash-rank sample:
# rank rows per group by md5(unique key), keep the first 5 — same uniform-
# without-replacement semantics, identical on both engines and at any
# parallelism.
#
# Scale: one shuffle on the group key; rank + filter prunes to k rows per
# group before the final sorted-list collect. No global ordering anywhere.
_SAMPLE_RESERVOIR_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY md5(CAST(o_orderkey AS VARCHAR))) AS rk
  FROM orders
)
SELECT o_orderpriority,
       array_to_string(list(o_orderkey ORDER BY o_orderkey), ',') AS sample_keys
FROM ranked
WHERE rk <= 5
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("agg_sample_reservoir", oracle=_SAMPLE_RESERVOIR_ORACLE)
def agg_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.md5(F.col("o_orderkey").cast("string"))
    )
    return (
        orders.select("o_orderpriority", "o_orderkey")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .groupBy("o_orderpriority")
        # Joined to a CSV string: the driver canonicalizer (pandas
        # sort_values) crashes on list-valued cells ("unhashable type:
        # 'list'", r3), so the sample set is emitted as a scalar.
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"), ","
            ).alias("sample_keys")
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Correlation / covariance (beyond the reference: its agg registry stops at
# the stddev/variance family, be/src/exprs/aggregate-functions.cc — corr
# and covar are the next thing an analyst reaches for). Both engines
# compute these as ratios of co-moment sums whose FP accumulation order
# differs; r2/r3 showed the driver's hash is full-precision and
# sign-of-zero sensitive (covar_samp(l_discount,l_tax) ≈ -5e-6 rounded
# to 4 decimals yields -0.0 vs 0.0), so every statistic is emitted as a
# scaled BIGINT: round-to-integer of x·10^k, where each value's distance
# to the nearest .5 tie (≥0.03 at sf0.01) exceeds accumulation noise
# (~1e-8 scaled) by 6+ orders of magnitude, and BIGINT has no -0.
_CORR_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT)                                   AS n,
       CAST(round(corr(l_quantity, l_extendedprice) * 10000)
            AS BIGINT)                                            AS corr_qp_e4,
       CAST(round(covar_pop(l_quantity, l_extendedprice) * 100)
            AS BIGINT)                                            AS covar_pop_qp_e2,
       CAST(round(covar_samp(l_discount, l_tax) * 10000000)
            AS BIGINT)                                            AS covar_samp_dt_e7
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("agg_corr_covar", oracle=_CORR_ORACLE)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.corr("l_quantity", "l_extendedprice") * 10000, 0)
            .cast("bigint")
            .alias("corr_qp_e4"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice") * 100, 0)
            .cast("bigint")
            .alias("covar_pop_qp_e2"),
            F.round(F.covar_samp("l_discount", "l_tax") * 10000000, 0)
            .cast("bigint")
            .alias("covar_samp_dt_e7"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Bitwise aggregates (bit_and/bit_or/bit_xor) — flag-column folding; the
# reference's bit function family (§2.8) at the aggregate level.
_BITAGG_ORACLE = """
SELECT o_orderstatus,
       CAST(bit_and(o_orderkey % 256) AS BIGINT) AS band,
       CAST(bit_or(o_orderkey % 256) AS BIGINT)  AS bor,
       CAST(bit_xor(o_orderkey % 256) AS BIGINT) AS bxor,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("agg_bitwise", oracle=_BITAGG_ORACLE)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    k = (F.col("o_orderkey") % 256)
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.bit_and(k).alias("band"),
            F.bit_or(k).alias("bor"),
            F.bit_xor(k).alias("bxor"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# histogram() aggregate (fe/.../catalog/BuiltinsDb.java:574-594): the
# reference's multi-bucket value histogram, re-expressed relationally as
# fixed-width bucket counts per group — bucket = floor(x / width) clamped
# to the top bucket, a pure Column expression both engines evaluate
# identically (the division of identical doubles is correctly rounded, so
# floor agrees bit-for-bit). 10 buckets of 11,000 cover l_extendedprice's
# full range; the clamp makes the bucket list closed so outliers cannot
# silently create an 11th bucket at a different scale factor.
_HISTOGRAM_ORACLE = """
SELECT l_returnflag,
       CAST(least(floor(l_extendedprice / 11000), 9) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT)                                 AS n,
       CAST(round(min(l_extendedprice) * 100) AS BIGINT)        AS min_cents,
       CAST(round(max(l_extendedprice) * 100) AS BIGINT)        AS max_cents
FROM lineitem
GROUP BY l_returnflag, bucket
ORDER BY l_returnflag, bucket
"""


@query("agg_histogram", oracle=_HISTOGRAM_ORACLE)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.least(F.floor(F.col("l_extendedprice") / 11000), F.lit(9)).cast(
        "bigint"
    )
    return (
        li.withColumn("bucket", bucket)
        .groupBy("l_returnflag", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice") * 100, 0).cast("bigint").alias("min_cents"),
            F.round(F.max("l_extendedprice") * 100, 0).cast("bigint").alias("max_cents"),
        )
        .orderBy("l_returnflag", "bucket")
    )


# --------------------------------------------------------------------------
# KLL quantile sketch — the mergeable-sketch successor to the reference's
# sampled appx_median (aggregate-functions.cc ReservoirSample/AppxMedian:
# a bounded reservoir merged across fragments). Spark's kll_sketch_agg
# keeps the same contract (fixed memory per group, cell-wise merge across
# partitions — one narrow shuffle per group key at any scale) with a
# PROVEN rank-error bound instead of a reservoir's luck. KLL compaction
# is randomized, so point values can't be oracle-hashed; the oracle pins
# the guarantee itself: every estimated quantile must land within ±5%
# RANK of the exact order statistics (default k=200 gives ~1.65% rank
# error at 99% confidence — the margin is 3× that, so a correct sketch
# cannot fail it while a broken merge/serialization will). The exact
# rank bounds come from sort_array(collect_list(...)) — that part is the
# VERIFICATION harness, not the operator; at 100 TB only the sketch runs.
_KLL_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS ok25, TRUE AS ok50, TRUE AS ok75, TRUE AS ok95
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("agg_kll_quantiles", oracle=_KLL_ORACLE)
def agg_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    EPS = 0.05

    def rank_value(sorted_col, frac_expr):
        # value at 1-based rank clamp(round(frac*n), 1, n)
        idx = F.greatest(
            F.lit(1), F.least(F.col("n"), F.round(frac_expr * F.col("n")).cast("int"))
        ).cast("int")
        return F.element_at(sorted_col, idx)

    g = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.kll_sketch_agg_double(F.col("o_totalprice").cast("double")).alias("sk"),
        F.sort_array(F.collect_list(F.col("o_totalprice").cast("double"))).alias("xs"),
    )
    cols = [F.col("o_orderstatus"), F.col("n").cast("bigint").alias("n")]
    for p, name in ((0.25, "ok25"), (0.5, "ok50"), (0.75, "ok75"), (0.95, "ok95")):
        est = F.kll_sketch_get_quantile_double("sk", F.lit(p))
        lo = rank_value(F.col("xs"), F.lit(max(p - EPS, 0.0)))
        hi = rank_value(F.col("xs"), F.lit(min(p + EPS, 1.0)))
        cols.append(((est >= lo) & (est <= hi)).alias(name))
    return g.select(*cols).orderBy("o_orderstatus")


# --------------------------------------------------------------------------
# Boolean aggregate suite (beyond ref — BuiltinsDb.java has no
# bool_and/bool_or/count_if; later engines and ANSI:2023 added them).
# All-boolean/integer outputs: exact across engines with no shims.
@query(
    "agg_boolean_suite",
    oracle="""
SELECT o_orderstatus,
       bool_and(o_totalprice > 1000)                    AS all_over_1k,
       bool_or(o_totalprice > 400000)                   AS any_over_400k,
       CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
       CAST(count(*) AS BIGINT)                         AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_boolean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
            F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("n_urgent"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Skew-mitigated aggregation as a driver-oracled query (§2.4 hot-key row,
# previously pytest-only via tests/test_skew.py): a deliberately skewed
# derived key (~70% of orders land on 'hot') counted through
# operators.skew.salted_groupby_count — partial counts per (key, salt)
# spread the hot group over n_salts shuffle partitions, the final
# combine sums |keys|·n_salts partials. The oracle is the plain GROUP
# BY, so a green hash proves the two-phase rewrite is semantics-
# preserving. At 100 TB this is the manual fallback when AQE's skew-join
# splitting doesn't apply (single-key aggregation has no join to split).
@query(
    "agg_salted_skew",
    oracle="""
SELECT CASE WHEN o_orderkey % 10 < 7 THEN 'hot'
            ELSE 'cold_' || CAST(o_orderkey % 10 AS VARCHAR) END AS k,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY k
ORDER BY k
""",
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.operators.skew import salted_groupby_count

    orders = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 10 < 7, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold_"), (F.col("o_orderkey") % 10).cast("string")))
        .alias("k")
    )
    return salted_groupby_count(orders, "k", n_salts=8).orderBy("k")


# --------------------------------------------------------------------------
# UNPIVOT (wide → long) — the inverse of agg_pivot, Spark's native
# df.unpivot / SQL UNPIVOT (melt). Values must share one type, so the
# count is cast to DOUBLE alongside the money min/max (all exactly
# representable). Scale: unpivot is a narrow per-row expansion (k output
# rows per input row, no shuffle) over an already-aggregated frame.
_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT o_orderstatus,
         CAST(count(*) AS DOUBLE) AS n_cnt,
         min(o_totalprice) AS mn_price,
         max(o_totalprice) AS mx_price
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, 'n_cnt' AS metric, n_cnt AS val FROM wide
UNION ALL
SELECT o_orderstatus, 'mn_price' AS metric, mn_price AS val FROM wide
UNION ALL
SELECT o_orderstatus, 'mx_price' AS metric, mx_price AS val FROM wide
ORDER BY o_orderstatus, metric
"""


@query("agg_unpivot", oracle=_UNPIVOT_ORACLE)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-status aggregates melted to (o_orderstatus, metric, val)
    via the native unpivot operator."""
    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("double").alias("n_cnt"),
        F.min("o_totalprice").alias("mn_price"),
        F.max("o_totalprice").alias("mx_price"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_cnt", "mn_price", "mx_price"],
        "metric",
        "val",
    ).orderBy("o_orderstatus", "metric")


# --------------------------------------------------------------------------
# Winsorized aggregation: clamp each value into its group's [p05, p95]
# band before averaging — the standard robust-preprocessing step before
# training-metric aggregation (a 2-pass dataflow: exact percentiles per
# group via the agg_percentile_exact parity pattern, broadcastable
# per-group join back, clamped re-aggregation). Reported alongside the
# raw mean so the trim effect is visible; money doubles use the scaled-
# round shim (tpch.py module doc).
_WINSOR_ORACLE = """
WITH pct AS (
  SELECT o_orderstatus,
         quantile_cont(o_totalprice, 0.05) AS p05,
         quantile_cont(o_totalprice, 0.95) AS p95
  FROM orders GROUP BY o_orderstatus
)
SELECT o.o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o.o_totalprice * 100) AS DECIMAL(38,0)))
            AS DOUBLE) / 100 AS sum_raw,
       CAST(sum(CAST(round(least(greatest(o.o_totalprice, p.p05), p.p95)
                           * 100) AS DECIMAL(38,0))) AS DOUBLE) / 100
         AS sum_winsor,
       round(min(p.p05), 4) AS p05,
       round(min(p.p95), 4) AS p95
FROM orders o JOIN pct p ON o.o_orderstatus = p.o_orderstatus
GROUP BY o.o_orderstatus
ORDER BY o.o_orderstatus
"""


@query("agg_winsorize", oracle=_WINSOR_ORACLE)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status winsorized (p05/p95-clamped) vs raw totals:
    (o_orderstatus, n, sum_raw, sum_winsor, p05, p95)."""
    orders = load_table(spark, sf_dir, "orders")
    pct = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.05)).alias("p05"),
        F.percentile("o_totalprice", F.lit(0.95)).alias("p95"),
    )
    clamped = F.least(
        F.greatest(F.col("o_totalprice"), F.col("p05")), F.col("p95")
    )

    # Exact per-term cents accumulated as DECIMAL(38,0) (isum discipline,
    # tpch.py): only |statuses| groups here, so at sf1+ the scaled group
    # sums outgrow dsum's round-after-FP-sum margin (caught by the r10
    # sf1 oracle sweep). For sum_winsor the clamp bounds are interpolated
    # percentiles (not 2-decimal rationals), so the column is defined as
    # the sum of per-term-rounded CENTS — identical doubles round to
    # identical integers on both engines, order-independent by
    # construction.
    def cents(col):
        return F.sum(
            F.round(col * 100, 0).cast("decimal(38,0)")
        ).cast("double") / 100

    return (
        orders.join(pct, "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            cents(F.col("o_totalprice")).alias("sum_raw"),
            cents(clamped).alias("sum_winsor"),
            F.round(F.min("p05"), 4).alias("p05"),
            F.round(F.min("p95"), 4).alias("p95"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# FILTER (WHERE ...) aggregate modifier (SQL:2003 T612) — conditional
# aggregation without CASE rewrites, including over DISTINCT aggregates
# (where the CASE rewrite is NOT equivalent unless the else-branch maps
# to NULL). The reference expresses these as CASE/IF inside the agg
# (fe FunctionCallExpr); the FILTER form is the declarative surface
# engines have converged on. One identical SQL text runs on both engines
# (only the view name differs). Scale: a single partial/final hash agg,
# the filters evaluated map-side — no extra pass per filtered aggregate.
_FILTER_CLAUSE_BODY = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_all,
       CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bigqty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)))
            FILTER (WHERE l_discount > 0.05) AS DOUBLE) / 100
         AS rev_hidisc,
       CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_quantity < 10) AS BIGINT)
         AS n_supp_small,
       sum(l_quantity) FILTER (WHERE l_tax < 0.04) AS qty_lotax
FROM {tbl}
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("agg_filter_clause", oracle=_FILTER_CLAUSE_BODY.format(tbl="lineitem"))
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation via the FILTER (WHERE ...) modifier:
    plain, sum (scaled-round shim), and DISTINCT-agg forms."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "mis_fc_lineitem"
    )
    return spark.sql(_FILTER_CLAUSE_BODY.format(tbl="mis_fc_lineitem"))


# --------------------------------------------------------------------------
# LISTAGG ... WITHIN GROUP (ORDER BY <other column>) — ordered string
# aggregation where the sort key is NOT the aggregated expression (the
# reference's group_concat, be/src/exec/aggregation-node — is
# insertion-ordered; the keyed-order form is the SQL:2016 LISTAGG
# surface). agg_group_concat covers the self-ordered case via
# sort_array; ordering by a different column needs the struct-sort
# trick: collect (key, value) structs, array_sort on (key, value),
# project the value field, join. DESC keys are negated (exact for
# doubles). Scale: one partial/final hash agg; per-group payload is the
# concatenated string itself, so group sizes must be bounded by design
# (here: suppliers per nation, ~40 at sf1).
@query(
    "agg_listagg_keyed",
    oracle="""
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_supp,
       string_agg(s_name, '|' ORDER BY s_acctbal DESC, s_name) AS names_by_bal
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
""",
)
def agg_listagg_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    return (
        supp.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                (-F.col("s_acctbal")).alias("k"),
                                F.col("s_name").alias("v"),
                            )
                        )
                    ),
                    lambda x: x["v"],
                ),
                "|",
            ).alias("names_by_bal"),
        )
        .orderBy("s_nationkey")
    )


# --------------------------------------------------------------------------
# SQL:2003 linear-regression aggregate family (regr_slope/intercept/r2/
# count/avgx/avgy) — the next rung above agg_corr_covar: per-group
# one-variable OLS entirely inside the aggregate layer (the
# feature-stats pass a model pipeline runs before training; beyond the
# reference, whose registry stops at stddev/corr). Same scaled-BIGINT
# emission discipline as agg_corr_covar: slopes/intercepts are ratios
# of co-moment sums whose accumulation order differs between engines,
# so each statistic ships as round(x·10^k) with tie distance ≫
# accumulation noise; counts and means of exact inputs stay exact.
_REGR_ORACLE = """
SELECT l_returnflag,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)  AS n_xy,
       CAST(round(regr_slope(l_extendedprice, l_quantity) * 100)
            AS BIGINT)                                          AS slope_e2,
       CAST(round(regr_intercept(l_extendedprice, l_quantity) * 100)
            AS BIGINT)                                          AS icept_e2,
       CAST(round(regr_r2(l_extendedprice, l_quantity) * 10000)
            AS BIGINT)                                          AS r2_e4,
       CAST(round(regr_avgx(l_extendedprice, l_quantity) * 100)
            AS BIGINT)                                          AS avgx_e2,
       CAST(round(regr_avgy(l_extendedprice, l_quantity) * 100)
            AS BIGINT)                                          AS avgy_e2
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("agg_regression_suite", oracle=_REGR_ORACLE)
def agg_regression_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.regr_count(y, x).cast("bigint").alias("n_xy"),
            F.round(F.regr_slope(y, x) * 100, 0).cast("bigint").alias("slope_e2"),
            F.round(F.regr_intercept(y, x) * 100, 0)
            .cast("bigint")
            .alias("icept_e2"),
            F.round(F.regr_r2(y, x) * 10000, 0).cast("bigint").alias("r2_e4"),
            F.round(F.regr_avgx(y, x) * 100, 0).cast("bigint").alias("avgx_e2"),
            F.round(F.regr_avgy(y, x) * 100, 0).cast("bigint").alias("avgy_e2"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# KMV (bottom-k) distinct-count estimate vs exact — the batch sibling
# of streaming_quantile_sketch's state sketch and the third entry in
# the sketch-audit family (ANN recall, MinHash accuracy, now NDV):
# with U(0,1) priorities, E[p_(k)] = k/(D+1), so D̂ = (k-1)/p_(k) is
# the classic KMV estimator (Bar-Yossef et al. 2002). Priorities are
# md5-derived (deterministic, identical in both engines), the k-th
# smallest is one WindowGroupLimit rank per key, and the report pins
# estimate, exact, and signed relative error ‰ — the number you check
# before trusting approx_count_distinct-style sketches on a new key
# distribution. All-integer inputs; the estimate is rounded to a
# BIGINT so the comparison is exact.
_KMV_K = 32
_KMV_ORACLE = f"""
WITH src AS (
  SELECT DISTINCT event_type, user_id FROM events
),
pri AS (
  SELECT event_type, user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS p
  FROM src
),
ranked AS (
  SELECT event_type, p,
         row_number() OVER (PARTITION BY event_type ORDER BY p, user_id)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS exact_d
  FROM pri
),
est AS (
  SELECT event_type, exact_d,
         CASE WHEN exact_d <= {_KMV_K} THEN exact_d
              ELSE CAST(round(({_KMV_K} - 1) * CAST(4503599627370496 AS DOUBLE)
                              / p) AS BIGINT)
         END AS est_d
  FROM ranked WHERE rn = {_KMV_K} OR (exact_d < {_KMV_K} AND rn = exact_d)
)
SELECT event_type,
       CAST(exact_d AS BIGINT) AS exact_d,
       est_d,
       CAST(round((est_d - exact_d) * 1000.0 / exact_d) AS BIGINT)
         AS rel_err_permille
FROM est
ORDER BY event_type
"""


@query("agg_kmv_distinct_report", oracle=_KMV_ORACLE)
def agg_kmv_distinct_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type exact vs KMV-estimated distinct users (k=32,
    md5 priorities over a 52-bit space (13 hex chars); 2^52 = 4503599627370496)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    src = ev.select("event_type", "user_id").distinct()
    pri = src.select(
        "event_type",
        "user_id",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        .alias("p"),
    )
    w = W.partitionBy("event_type").orderBy("p", "user_id")
    wcnt = W.partitionBy("event_type")
    ranked = pri.select(
        "event_type",
        "p",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wcnt).alias("exact_d"),
    )
    est_d = F.when(F.col("exact_d") <= _KMV_K, F.col("exact_d")).otherwise(
        F.round((_KMV_K - 1) * 4503599627370496.0 / F.col("p"), 0).cast(
            "bigint"
        )
    )
    return (
        ranked.filter(
            (F.col("rn") == _KMV_K)
            | ((F.col("exact_d") < _KMV_K) & (F.col("rn") == F.col("exact_d")))
        )
        .select(
            "event_type",
            F.col("exact_d").cast("bigint").alias("exact_d"),
            est_d.alias("est_d"),
            F.round(
                (est_d - F.col("exact_d")) * 1000.0 / F.col("exact_d"), 0
            )
            .cast("bigint")
            .alias("rel_err_permille"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Quantile-sketch error report — the fourth entry in the sketch-audit
# family (ANN recall, MinHash accuracy, KMV NDV, now quantiles). The
# reference's appx_median (be/src/exprs/aggregate-functions.h:135) is a
# bounded SAMPLE merged across fragments; this report audits exactly
# that estimator class: a deterministic md5-priority bottom-k sample
# per group (k=256 — the mergeable batch twin of
# streaming/stateful.py's KMV quantile sketch state), quantiles read
# off the sorted sample, and the TRUE rank of each estimate measured
# against the full data. rank_err_permille is the number you check
# before trusting a sampled percentile on a new distribution (expected
# |err| ≲ 1000/sqrt(k) ≈ 62‰ at k=256). Deterministic priorities make
# est identical in both engines, so the report value-hashes strictly —
# unlike KLL whose compaction is randomized (agg_kll_quantiles pins
# that one by its guarantee instead).
#
# Scale shape: the bottom-k sample runs as TWO window stages — per
# (group, salt-64) bottom-k, then bottom-k of the 64·k survivors — so
# no executor ever sorts a whole group (3 return flags at 100 TB would
# otherwise put a third of the table through one task). The true-rank
# pass broadcasts the 12-row estimate frame and map-side aggregates
# count(x<=est): two scans total, no large shuffle.
_KLL_REPORT_K = 256
_KLL_REPORT_ORACLE = f"""
WITH src AS (
  SELECT l_returnflag AS g, l_extendedprice AS x,
         ('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)),
                         1, 13))::BIGINT AS pri
  FROM lineitem
),
bottomk AS (
  SELECT g, x, pri,
         row_number() OVER (PARTITION BY g ORDER BY pri, x) AS prn
  FROM src
),
samp AS (
  SELECT g, x, pri,
         row_number() OVER (PARTITION BY g ORDER BY x, pri) AS sr,
         count(*) OVER (PARTITION BY g) AS m
  FROM bottomk WHERE prn <= {_KLL_REPORT_K}
),
fracs AS (
  SELECT * FROM (VALUES ('p25', 0.25), ('p50', 0.50),
                        ('p75', 0.75), ('p95', 0.95)) AS t(plabel, frac)
),
est AS (
  SELECT s.g, f.plabel, f.frac, s.m, s.x AS est
  FROM samp s JOIN fracs f
    ON s.sr = greatest(1, least(s.m, CAST(round(f.frac * s.m) AS BIGINT)))
),
trued AS (
  SELECT e.g, e.plabel, e.frac, e.m, e.est,
         count(*) FILTER (WHERE s.x <= e.est) AS le_cnt,
         count(*) AS n
  FROM est e JOIN src s ON s.g = e.g
  GROUP BY e.g, e.plabel, e.frac, e.m, e.est
)
SELECT g AS l_returnflag, plabel,
       CAST(n AS BIGINT) AS n,
       CAST(m AS BIGINT) AS m,
       CAST(round(est * 100) AS BIGINT) AS est_e2,
       CAST(round(le_cnt * 1000.0 / n) AS BIGINT) AS est_rank_permille,
       CAST(round(le_cnt * 1000.0 / n) - round(frac * 1000) AS BIGINT)
         AS rank_err_permille
FROM trued
ORDER BY l_returnflag, plabel
"""


@query("agg_kll_accuracy_report", oracle=_KLL_REPORT_ORACLE)
def agg_kll_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    k = _KLL_REPORT_K
    li = load_table(spark, sf_dir, "lineitem")
    # ONE keyed repartition feeds BOTH passes (r12 optimization, guide
    # §2.4/§1.2): the salt now derives from the row key (pmod of the
    # same integer the md5 priority hashes) instead of from pri itself,
    # so (a) the md5 derivation runs AFTER the exchange on every core —
    # previously it sat in the scan-side projection, and the one-row-
    # group fixture parquet makes that a single task; and (b) the
    # true-rank pass below aggregates the SAME exchange output instead
    # of re-scanning lineitem — one scan + one fact-table shuffle
    # total, where the old plan paid two scans + one shuffle. The
    # sharing is pinned with persist(): plain ReusedExchange does NOT
    # fire here because column pruning projects the two branches
    # differently (the sample branch drops kk, the true-rank branch
    # keeps it for pri), so uncached the plan silently kept two scans +
    # two exchanges. Result-invariant: ANY deterministic salt keeps the
    # global bottom-k identical (every global bottom-k row is
    # necessarily in its salt group's bottom-k), and pri/x/g values are
    # untouched.
    kk = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("kk")
    pre = seam(
        li.select(F.col("l_returnflag").alias("g"),
                  F.col("l_extendedprice").cast("double").alias("x"), kk)
        .withColumn("salt", F.pmod(F.col("kk"), F.lit(64)))
        .repartition(F.col("g"), F.col("salt"))
    )
    raw = pre.select("g", "x")
    src = pre.select(
        "g",
        "x",
        "salt",
        F.conv(F.substring(F.md5(F.col("kk").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        .alias("pri"),
    )
    # two-stage bottom-k: per-(g, salt) local top, then global — no
    # single task ever sorts a whole group (see block comment above)
    w_local = W.partitionBy("g", "salt").orderBy("pri", "x")
    cand = (
        src.withColumn("lrn", F.row_number().over(w_local))
        .filter(F.col("lrn") <= k)
        .drop("lrn")
    )
    w_global = W.partitionBy("g").orderBy("pri", "x")
    samp = (
        cand.withColumn("prn", F.row_number().over(w_global))
        .filter(F.col("prn") <= k)
        .drop("prn")
    )
    w_sr = W.partitionBy("g").orderBy("x", "pri")
    w_m = W.partitionBy("g")
    samp = samp.select(
        "g",
        "x",
        F.row_number().over(w_sr).alias("sr"),
        F.count(F.lit(1)).over(w_m).alias("m"),
    )
    fracs = spark.createDataFrame(
        [("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p95", 0.95)],
        "plabel string, frac double",
    )
    pick = F.greatest(
        F.lit(1).cast("bigint"),
        F.least(F.col("m"), F.round(F.col("frac") * F.col("m"), 0).cast("bigint")),
    )
    est = (
        samp.join(F.broadcast(fracs), samp.sr == pick)
        .select("g", "plabel", "frac", "m", F.col("x").alias("est"))
    )
    trued = (
        raw.join(F.broadcast(est), "g")
        .groupBy("g", "plabel", "frac", "m", "est")
        .agg(
            F.sum(F.when(F.col("x") <= F.col("est"), 1).otherwise(0)).alias("le_cnt"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    est_rank = F.round(F.col("le_cnt") * 1000.0 / F.col("n"), 0)
    return trued.select(
        F.col("g").alias("l_returnflag"),
        "plabel",
        F.col("n").cast("bigint").alias("n"),
        F.col("m").cast("bigint").alias("m"),
        F.round(F.col("est") * 100, 0).cast("bigint").alias("est_e2"),
        est_rank.cast("bigint").alias("est_rank_permille"),
        (est_rank - F.round(F.col("frac") * 1000, 0))
        .cast("bigint")
        .alias("rank_err_permille"),
    ).orderBy("l_returnflag", "plabel")


# --------------------------------------------------------------------------
# Theta-sketch set operations — the set-algebra extension of the KMV
# family (agg_kmv_distinct_report estimates |A|; real pipelines ask for
# |A∪B| and |A∩B| across segment pairs without re-scanning raw data —
# the Theta sketch's defining feature). Per event type: a bottom-k
# (k=64) md5-priority user sample with threshold θ = p_(k) (or 2^52 =
# "sketch holds the whole set" when |A| < k — the unsaturated case
# estimates exactly, which the sf0.001 fixture exercises). Pairwise:
# θ_pair = min(θ_A, θ_B); est = (entries strictly below θ_pair) / θ,
# the standard Theta union/intersection estimator. Exact counts and
# signed union error land beside the estimates — the audit artifact.
# Deterministic md5 priorities make both engines' sketches identical,
# so the report value-hashes strictly. 100 TB shape: one distinct
# shuffle + per-type bottom-k windows build the sketches; every
# pairwise stage runs on ≤|types|·k sampled rows (the point of the op:
# set algebra on sketches, never on raw data). The exact columns are
# the verification harness, not the operator.
_THETA_K = 64
_THETA_MAX = 4503599627370496  # 2^52: priority space upper bound
_THETA_ORACLE = f"""
WITH pri AS (
  SELECT DISTINCT event_type AS et, user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT AS p
  FROM events
),
ranked AS (
  SELECT et, user_id, p,
         row_number() OVER (PARTITION BY et ORDER BY p, user_id) AS rn,
         count(*) OVER (PARTITION BY et) AS exact_d
  FROM pri
),
sk AS (SELECT et, user_id, p FROM ranked WHERE rn <= {_THETA_K}),
theta AS (
  SELECT et,
         coalesce(max(CASE WHEN rn = {_THETA_K} THEN p END), {_THETA_MAX})
           AS th,
         max(exact_d) AS exact_d
  FROM ranked GROUP BY et
),
prs AS (
  SELECT a.et AS et_a, b.et AS et_b, least(a.th, b.th) AS th,
         a.exact_d AS da, b.exact_d AS db
  FROM theta a JOIN theta b ON a.et < b.et
),
inter_e AS (
  SELECT p.et_a, p.et_b, count(*) AS n_common
  FROM prs p
  JOIN sk sa ON sa.et = p.et_a AND sa.p < p.th
  JOIN sk sb ON sb.et = p.et_b AND sb.user_id = sa.user_id AND sb.p < p.th
  GROUP BY p.et_a, p.et_b
),
uni_e AS (
  SELECT p.et_a, p.et_b, count(DISTINCT s.user_id) AS n_union
  FROM prs p
  JOIN sk s ON (s.et = p.et_a OR s.et = p.et_b) AND s.p < p.th
  GROUP BY p.et_a, p.et_b
),
exact_i AS (
  SELECT a.et AS et_a, b.et AS et_b, count(*) AS exact_inter
  FROM pri a JOIN pri b ON b.user_id = a.user_id AND a.et < b.et
  GROUP BY a.et, b.et
)
SELECT p.et_a AS et_a, p.et_b AS et_b,
       CAST(round(coalesce(i.n_common, 0) * {_THETA_MAX}.0 / p.th) AS BIGINT)
         AS est_inter,
       CAST(coalesce(x.exact_inter, 0) AS BIGINT) AS exact_inter,
       CAST(round(u.n_union * {_THETA_MAX}.0 / p.th) AS BIGINT) AS est_union,
       CAST(p.da + p.db - coalesce(x.exact_inter, 0) AS BIGINT) AS exact_union,
       CAST(round((round(u.n_union * {_THETA_MAX}.0 / p.th)
                   - (p.da + p.db - coalesce(x.exact_inter, 0))) * 1000.0
                  / (p.da + p.db - coalesce(x.exact_inter, 0))) AS BIGINT)
         AS union_err_permille
FROM prs p
LEFT JOIN inter_e i ON i.et_a = p.et_a AND i.et_b = p.et_b
LEFT JOIN uni_e u ON u.et_a = p.et_a AND u.et_b = p.et_b
LEFT JOIN exact_i x ON x.et_a = p.et_a AND x.et_b = p.et_b
ORDER BY p.et_a, p.et_b
"""


@query("agg_theta_sketch_ops", oracle=_THETA_ORACLE)
def agg_theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    k, pmax = _THETA_K, float(_THETA_MAX)
    ev = load_table(spark, sf_dir, "events")
    pri = seam(
        ev.select(F.col("event_type").alias("et"), "user_id")
        .distinct()
        .withColumn(
            "p",
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 13), 16, 10)
            .cast("bigint"),
        )
        # persist the shared seams (r12, guide §5): pri feeds the rank
        # window and both exact-intersection sides; sk feeds three probe
        # sides; theta/prs feed every pairwise stage — uncached, the
        # distinct+md5 pass re-ran once per consumer (11 events scans in
        # the executed plan; 1 after)
    )
    ranked = pri.select(
        "et",
        "user_id",
        "p",
        F.row_number()
        .over(W.partitionBy("et").orderBy("p", "user_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("et")).alias("exact_d"),
    )
    sk = seam(ranked.filter(F.col("rn") <= k).select("et", "user_id", "p"))
    theta = ranked.groupBy("et").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k, F.col("p"))), F.lit(_THETA_MAX)
        ).alias("th"),
        F.max("exact_d").alias("exact_d"),
    )
    ta = theta.select(
        F.col("et").alias("et_a"), F.col("th").alias("th_a"), F.col("exact_d").alias("da")
    )
    tb = theta.select(
        F.col("et").alias("et_b"), F.col("th").alias("th_b"), F.col("exact_d").alias("db")
    )
    prs = seam(
        ta.join(tb, F.col("et_a") < F.col("et_b"))
        .select("et_a", "et_b", F.least("th_a", "th_b").alias("th"), "da", "db")
    )
    sa = sk.select(F.col("et").alias("et_a"), F.col("user_id").alias("ua"), F.col("p").alias("pa"))
    sb = sk.select(F.col("et").alias("et_b"), F.col("user_id").alias("ub"), F.col("p").alias("pb"))
    inter_e = (
        F.broadcast(prs)
        .join(sa, (sa.et_a == prs.et_a) & (F.col("pa") < F.col("th")))
        .join(sb, (sb.et_b == prs.et_b) & (F.col("ub") == F.col("ua")) & (F.col("pb") < F.col("th")))
        .groupBy(prs.et_a, prs.et_b)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s_any = sk.select(F.col("et").alias("s_et"), "user_id", "p")
    uni_e = (
        F.broadcast(prs)
        .join(
            s_any,
            ((F.col("s_et") == F.col("et_a")) | (F.col("s_et") == F.col("et_b")))
            & (F.col("p") < F.col("th")),
        )
        .groupBy("et_a", "et_b")
        .agg(F.countDistinct("user_id").alias("n_union"))
    )
    pa_ = pri.select(F.col("et").alias("et_a"), F.col("user_id").alias("xu"))
    pb_ = pri.select(F.col("et").alias("et_b"), F.col("user_id").alias("xv"))
    exact_i = (
        pa_.join(pb_, (F.col("xv") == F.col("xu")) & (F.col("et_a") < F.col("et_b")))
        .groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    est_union = F.round(F.col("n_union") * pmax / F.col("th"), 0)
    exact_union = F.col("da") + F.col("db") - F.coalesce(F.col("exact_inter"), F.lit(0))
    return (
        prs.join(inter_e, ["et_a", "et_b"], "left")
        .join(uni_e, ["et_a", "et_b"], "left")
        .join(exact_i, ["et_a", "et_b"], "left")
        .select(
            "et_a",
            "et_b",
            F.round(F.coalesce(F.col("n_common"), F.lit(0)) * pmax / F.col("th"), 0)
            .cast("bigint")
            .alias("est_inter"),
            F.coalesce(F.col("exact_inter"), F.lit(0)).cast("bigint").alias("exact_inter"),
            est_union.cast("bigint").alias("est_union"),
            exact_union.cast("bigint").alias("exact_union"),
            F.round((est_union - exact_union) * 1000.0 / exact_union, 0)
            .cast("bigint")
            .alias("union_err_permille"),
        )
        .orderBy("et_a", "et_b")
    )


# --------------------------------------------------------------------------
# HLL sketch union report — Spark's Datasketches HLL surface
# (hll_sketch_agg / hll_union / hll_sketch_estimate, the engine-native
# successor of the reference's ndv() HLL at aggregate-functions.h:126)
# exercised across its MERGE path: per-type user sketches unioned
# pairwise, the union estimate checked against the exact distinct
# union. HLL internals are engine-specific, so (same contract as
# agg_kll_quantiles) the oracle pins the GUARANTEE: lgConfigK=12 gives
# ~1.6% standard error; the ±5% gate is 3× that, so a correct
# merge/serialization cannot fail while a broken one will. The exact
# column is the verification harness; at 100 TB only sketches move
# (constant bytes per type, one narrow shuffle).
_HLL_UNION_ORACLE = """
WITH ex AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b,
         count(DISTINCT u.user_id) AS exact_union
  FROM (SELECT DISTINCT event_type FROM events) a
  JOIN (SELECT DISTINCT event_type FROM events) b ON a.event_type < b.event_type
  JOIN events u ON u.event_type IN (a.event_type, b.event_type)
  GROUP BY a.event_type, b.event_type
)
SELECT et_a, et_b, CAST(exact_union AS BIGINT) AS exact_union,
       TRUE AS within_5pct
FROM ex
ORDER BY et_a, et_b
"""


@query("agg_hll_union_report", oracle=_HLL_UNION_ORACLE)
def agg_hll_union_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string")).alias("sk"),
        F.collect_set("user_id").alias("users"),  # exact harness, not the op
    )
    a = sk.select(
        F.col("event_type").alias("et_a"),
        F.col("sk").alias("sk_a"),
        F.col("users").alias("users_a"),
    )
    b = sk.select(
        F.col("event_type").alias("et_b"),
        F.col("sk").alias("sk_b"),
        F.col("users").alias("users_b"),
    )
    pairs = a.join(b, F.col("et_a") < F.col("et_b"))
    est = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    exact = F.size(F.array_union("users_a", "users_b")).cast("bigint")
    return pairs.select(
        "et_a",
        "et_b",
        exact.alias("exact_union"),
        (F.abs(est - exact) <= exact * 0.05).alias("within_5pct"),
    ).orderBy("et_a", "et_b")


# --------------------------------------------------------------------------
# Weighted percentile — the quantity-weighted median/quartiles the
# plain percentile family (agg_percentile_exact, appx_median) cannot
# express: order the group by value, accumulate weight, and report the
# first value whose cumulative weight clears p·W (the standard weighted
# order statistic — here l_extendedprice weighted by l_quantity, "the
# price at which half the VOLUME trades"). One window for the running
# weight; the pick is the exact crossing row (prev cum < p·W ≤ cum) —
# a pure filter, so nothing downstream of the window carries more than
# |groups|·|fracs| rows. Integer weights make the cumulative sums
# exact; the pick is hash-exact. 100 TB: the per-group
# sort is the same shuffle the exact percentile family already pays;
# the scale substitute is the weighted KLL variant fed by
# agg_kll_accuracy_report's audit.
_WPCT_ORACLE = """
WITH w AS (
  SELECT l_returnflag AS g, l_extendedprice AS x,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
),
tot AS (SELECT g, sum(wt) AS total_w FROM w GROUP BY g),
run AS (
  SELECT g, x, wt,
         sum(wt) OVER (PARTITION BY g ORDER BY x, wt
                       ROWS UNBOUNDED PRECEDING) AS cum_w
  FROM w
),
fracs AS (SELECT * FROM (VALUES ('p25', 0.25), ('p50', 0.50),
                                ('p75', 0.75)) t(plabel, frac)),
hit AS (
  -- exactly the crossing row per (group, frac): prev cumulative weight
  -- below the target, current at-or-above — a pure filter, no rank and
  -- no join blow-up past it
  SELECT r.g, f.plabel, r.x, t.total_w
  FROM run r
  JOIN tot t ON t.g = r.g
  JOIN fracs f ON r.cum_w >= f.frac * t.total_w
              AND (r.cum_w - r.wt) < f.frac * t.total_w
)
SELECT g AS l_returnflag, plabel,
       CAST(total_w AS BIGINT) AS total_w,
       CAST(round(x * 100) AS BIGINT) AS wpct_e2
FROM hit
ORDER BY l_returnflag, plabel
"""


@query("agg_weighted_percentile", oracle=_WPCT_ORACLE)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase distributed weighted percentile. The naive form — one
    running-weight window partitioned by the 3-value group key — puts a
    third of the table through a single task's sort (measured 7.8× at
    the 10× smoke). Instead: (1) value-bucket histogram per group
    (tiny), prefix-summed to give each bucket its starting cumulative
    weight; (2) the one bucket containing each p·W crossing is
    broadcast-joined back, and the running window runs only INSIDE
    target buckets (value-range-bounded partitions). Same crossing-row
    semantics as the oracle's single window — identical output."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    # ONE persisted (g, b)-clustered pass feeds BOTH phases (r12, guide
    # §2.4/§5): hashpartitioning(g, b) satisfies the phase-1 histogram
    # groupBy(g, b) AND the phase-2 in-bucket window
    # partitionBy(g, b, plabel), and the persist (which preserves
    # partitioning through InMemoryTableScan) guarantees the lineitem
    # scan + shuffle happen once — previously each phase paid its own
    # scan and exchange (plain ReusedExchange does not fire here:
    # column pruning pushes different Projects below the two
    # repartition subtrees, de-canonicalizing them).
    w = seam(
        li.select(
            F.col("l_returnflag").alias("g"),
            F.col("l_extendedprice").cast("double").alias("x"),
            F.col("l_quantity").cast("bigint").alias("wt"),
        )
        .withColumn("b", F.floor(F.col("x") / 1000).cast("bigint"))
        .repartition(F.col("g"), F.col("b"))
    )
    # phase 1: per-(group, bucket) weight totals + prefix base offsets
    bw = w.groupBy("g", "b").agg(F.sum("wt").alias("w_b"))
    w_pre = W.partitionBy("g").orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    base = bw.select(
        "g", "b", "w_b", F.coalesce(F.sum("w_b").over(w_pre), F.lit(0)).alias("base")
    )
    tot = bw.groupBy("g").agg(F.sum("w_b").alias("total_w"))
    fracs = spark.createDataFrame(
        [("p25", 0.25), ("p50", 0.50), ("p75", 0.75)], "plabel string, frac double"
    )
    # the single bucket whose [base, base + w_b) span contains p·W
    tgt = F.col("frac") * F.col("total_w")
    target_buckets = (
        base.join(F.broadcast(tot), "g")
        .join(
            F.broadcast(fracs),
            (F.col("base") < tgt) & ((F.col("base") + F.col("w_b")) >= tgt),
        )
        .select("g", "b", "plabel", "frac", "base", "total_w")
    )
    # phase 2: running weight only inside target buckets
    w_in = (
        W.partitionBy("g", "b", "plabel")
        .orderBy("x", "wt")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    inside = w.join(F.broadcast(target_buckets), ["g", "b"]).withColumn(
        "cum_w", F.col("base") + F.sum("wt").over(w_in)
    )
    target = F.col("frac") * F.col("total_w")
    hit = inside.filter(
        (F.col("cum_w") >= target) & ((F.col("cum_w") - F.col("wt")) < target)
    )
    return hit.select(
        F.col("g").alias("l_returnflag"),
        "plabel",
        F.col("total_w").cast("bigint").alias("total_w"),
        F.round(F.col("x") * 100, 0).cast("bigint").alias("wpct_e2"),
    ).orderBy("l_returnflag", "plabel")


# --------------------------------------------------------------------------
# isum fallback-boundary audit (r12, VERDICT r11 directive #8): isum's
# split-long accumulator is exact below ~9.2e24 scaled units; past that
# the documented fallback is isum_wide's DECIMAL(38,0) term-cast
# accumulator (tpch.py).  This row PINS the fallback's exactness in a
# regime a BIGINT accumulator cannot survive: each lineitem's price-cents
# (exact integers, fixture-deterministic) is scaled by 1e9 in DECIMAL
# arithmetic, making the per-flag group sums ~2e20 — 20× past the BIGINT
# wrap point — and compares the full 21-digit integers against DuckDB's
# wide-decimal sum.  A bigint accumulator wraps here (silently, mod
# 2^64); a double sum has a ~2^15 ulp at this magnitude; only the wide
# path holds exact.  wide_units crosses the boundary as its exact digit
# STRING: the driver's value hash renders engine decimals as Decimal but
# oracle decimals via float64 (the r4 divergence class tests/oracle.py
# documents), so raw DECIMAL output columns are banned — and the string
# compare is STRONGER, pinning all 21 digits instead of a 17-digit
# float.  sum_price is the same column through the contract-form
# isum_wide (round-recovered 2-decimal fixed point), agreeing with
# q1's isum inside the envelope (tests/test_r12_fixes.py).
@query(
    "agg_isum_wide_boundary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(28,0))
                     * CAST(10000000000 AS DECIMAL(11,0))) AS DECIMAL(38,0))
            AS VARCHAR) AS wide_units,
       CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)))
            AS DOUBLE) / 100 AS sum_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def agg_isum_wide_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from minimised_impala_spark.queries.tpch import isum_wide

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("decimal(28,0)")
    wide_term = cents * F.lit(10000000000).cast("decimal(11,0)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(wide_term).cast("decimal(38,0)").cast("string").alias("wide_units"),
            isum_wide(F.col("l_extendedprice"), 2).alias("sum_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
