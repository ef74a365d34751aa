"""TPC-H-ish suite adapted to the driver fixture schema.

The reference ships the full 22-query TPC-H workload as golden tests
(testdata/workloads/tpch/queries/tpch-q1.test … tpch-q22.test). The driver
fixture has no ``partsupp`` and drops several columns (FIXTURES.md §1), so:

- q2, q11 run against a ``partsupp`` DERIVED IN-QUERY (the fixture ships
  none): 4 suppliers per part via the dbgen assignment formula
  ``(partkey + i*(S/4 + (partkey-1)/S)) % S + 1`` with deterministic
  integer availqty/supplycost-in-cents — both engines construct the
  identical relation, so the comparison exercises the real q2/q11 shapes
  (correlated min-cost subquery; group-vs-global HAVING threshold);
- q4, q12 are re-expressed over available date columns;
- q9, q16, q20 substitute lineitem as the part↔supplier relation;
- q3 drops o_shippriority; q22 uses c_mktsegment instead of phone codes.

Every query is written DataFrame-first (the engine's native API); the oracle
SQL string is the ANSI equivalent DuckDB executes over the same parquet.
All ORDER BY ... LIMIT queries carry unique tie-breaker columns so the
row set is deterministic across engines.

Determinism of double outputs: the fixture's money columns are 2-decimal
fixed-point stored as DOUBLE and l_quantity is integer-valued, so products
like extendedprice*(1-discount) are exact k-decimal rationals. Floating-point
summation order differs between engines (and between Spark partial-agg
plans), so a raw sum's low bits are nondeterministic — which flips
value-hash comparisons when the value lands on a rounding boundary. Every
double aggregate here is therefore wrapped as round(sum(x)*10^k)/10^k,
which recovers the exact rational sum bit-identically in both engines
(total FP error ≪ 0.5 ulp of the scaled integer at correctness scale).
Integer-valued sums (quantities, counts) are exact in FP and stay bare.
Where the round-after-FP-sum form runs out of margin (q1's sum_charge at
k=6 already at sf0.01; its k=2/k=4 revenue sums at 100× fixture scale),
isum()/iavg() are used instead — per-term integer scaling summed EXACTLY
via radix-1e6 split-long words recombined in DECIMAL(38,0) per group
(order-independent, no wrap below ~9.2e24 scaled units, BIGINT-sum speed;
see isum's docstring for the full bound analysis).

Scale notes: nation/region are broadcast explicitly (constant-size dims);
other join strategies are left to Catalyst/AQE, which at 100 TB picks
shuffled hash / sort-merge with runtime bloom filters (enabled in
session.ENGINE_CONF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from minimised_impala_spark.queries.registry import query
from minimised_impala_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


def ts(lit: str) -> Column:
    return F.lit(lit).cast("timestamp")


def dsum(expr: Column, dec: int) -> Column:
    """Deterministic sum of a k-decimal fixed-point column (see module doc)."""
    s = float(10**dec)
    return F.round(F.sum(expr) * s, 0) / s


def isum(expr: Column, dec: int) -> Column:
    """EXACT sum of a k-decimal fixed-point column — split-long form.

    Each term is scaled to its integer numerator (round() recovers it
    exactly: the term's FP error is ≪ 0.5 at the scaled magnitude, and
    scaled terms are < 2^53 so the double arithmetic below is exact),
    split into radix-1e6 words, and each word summed as BIGINT — plain
    long adds inside whole-stage codegen, order-independent. The words
    recombine per GROUP (O(groups) rows, free) in DECIMAL(38,0), then
    one cast to DOUBLE and one division at the boundary.

    Why not a single BIGINT sum: it wraps silently past 9.2e18 scaled
    units (TPC-H SF~150 for q1's sum_charge) while DuckDB promotes to
    HUGEINT and silently diverges. Why not a DECIMAL(38,0) accumulator:
    exact to 1e38, but Spark's decimal aggregation path measured 2.3×
    a BIGINT sum and q1's four exact columns pushed the headline query
    from 0.75 s to 1.26 s (r11 A/B, PROFILES.md); the split-long form
    measured at BIGINT speed — the alternative VERDICT r10 #8 asked to
    evaluate, made safe by the radix choice. Exactness bound: the
    per-group hi/lo word sums wrap only when the group's true scaled
    sum exceeds ~9.2e24 (= 9.2e18 × radix) — ~160× the 100 TB q1
    requirement (~5.7e22 scaled units). Past that, a DECIMAL(38,0)
    term-cast accumulator is the fallback.

    Used where dsum's round-after-FP-sum has no margin left: at k=6 the
    scaled q1 sum_charge is ~3e14 at sf0.01 while the FP sum's
    add-order noise is ~1e-5 unscaled — one scaled ulp, observed
    flipping between plan shapes (tests/test_nested_tpch_parity.py);
    at sf10 (100×) the same class broke q1's k=2/k=4 dsum columns."""
    s = float(10**dec)
    radix = 1_000_000
    v = F.round(expr * s, 0)
    hi = F.floor(v / radix)
    lo = v - hi * radix
    total = (
        F.sum(hi.cast("bigint")).cast("decimal(38,0)") * radix
        + F.sum(lo.cast("bigint")).cast("decimal(38,0)")
    )
    return total.cast("double") / s


def isum_wide(expr: Column, dec: int) -> Column:
    """The documented FALLBACK past isum's split-long envelope: every
    scaled term casts to DECIMAL(38,0) BEFORE the sum, so the
    accumulator is exact to 1e38 — 13 orders past isum's ~9.2e24 word-
    wrap bound — at the measured 2.3× BIGINT-sum cost (r11 A/B,
    PROFILES.md).  Same contract as isum (round-recovered k-decimal
    fixed point, one cast + one division at the boundary); choose it
    when a single group's true scaled sum can exceed isum's envelope
    (≈1e9-executor aggregates of 1e15-unit terms).  Exactness past the
    BIGINT range is pinned by agg_isum_wide_boundary (aggregates.py),
    in-envelope agreement with isum by tests/test_r12_fixes.py."""
    s = float(10**dec)
    return (
        F.sum(F.round(expr * s, 0).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("double")
        / s
    )


def davg(expr: Column, dec: int) -> Column:
    """Deterministic avg: exact scaled sum divided by count."""
    s = float(10**dec)
    return (F.round(F.sum(expr) * s, 0) / s) / F.count(expr)


def iavg(expr: Column, dec: int) -> Column:
    """EXACT avg of a k-decimal fixed-point column: isum / count. Used
    where davg's round-after-FP-sum margin is exhausted — the r11 sf10
    smoke showed q1's avg_price (2-decimal terms summing to ~3e11)
    diverging from the oracle in the 10th significant digit at 100×
    fixture scale, the same class isum closed for sum_charge."""
    return isum(expr, dec) / F.count(expr)


def _rev() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


# Oracle-side macro equivalents (kept textual for readability of the SQL).
# dsum(x, 4)  ==  round(sum(x) * 10000) / 10000
# davg(x, 2)  ==  round(sum(x) * 100) / 100 / count(x)


# --------------------------------------------------------------------------
# Q1 — pricing summary report: scan → filter → 8-agg groupBy → sort.
# Reference golden: testdata/workloads/tpch/queries/tpch-q1.test
@query(
    "tpch_q1",
    oracle="""
SELECT l_returnflag, l_linestatus,
       sum(l_quantity)                                        AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)))
            AS DOUBLE) / 100                                  AS sum_base_price,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                      AS DECIMAL(38,0))) AS DOUBLE) / 10000   AS sum_disc_price,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                      * 1000000) AS DECIMAL(38,0))) AS DOUBLE) / 1000000
                                                              AS sum_charge,
       avg(l_quantity)                                        AS avg_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)))
            AS DOUBLE) / 100 / count(l_extendedprice)         AS avg_price,
       round(sum(l_discount) * 100) / 100 / count(l_discount) AS avg_disc,
       count(*)                                               AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            # isum (exact cents/sub-cents DECIMAL(38,0)) on every
            # revenue-magnitude sum: the r11 sf10 smoke showed dsum's
            # round-after-FP-sum margin exhausted for 2.8e11-magnitude
            # totals at 100× fixture scale (base_price off by one cent,
            # disc_price by ~5e-3) — same class r10 closed for
            # sum_charge. avg_disc/avg_qty keep dsum/plain avg: their
            # scaled sums sit ~4 orders of magnitude below the margin.
            isum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            isum(_rev(), 4).alias("sum_disc_price"),
            isum(_rev() * (1 + F.col("l_tax")), 6).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            iavg(F.col("l_extendedprice"), 2).alias("avg_price"),
            davg(F.col("l_discount"), 2).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority (adapted: fixture has no o_shippriority).
@query(
    "tpch_q3",
    oracle="""
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)) * 10000) / 10000 AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    cutoff = ts("1997-03-15 00:00:00")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < cutoff)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(_rev(), 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q4 — order priority checking (adapted: EXISTS over l_shipdate > o_orderdate;
# fixture lacks l_commitdate/l_receiptdate). Exercises LEFT SEMI join
# (reference TJoinOp LEFT_SEMI_JOIN, common/thrift/PlanNodes.thrift:219).
@query(
    "tpch_q4",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= ts("1997-01-01 00:00:00"))
        & (F.col("o_orderdate") < ts("1997-04-01 00:00:00"))
    )
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume: 6-table join with broadcast dims.
@query(
    "tpch_q5",
    oracle="""
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)) * 10000) / 10000 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li, supp, nation, region = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region"
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= ts("1996-01-01 00:00:00"))
            & (F.col("o_orderdate") < ts("1997-01-01 00:00:00"))
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(dsum(_rev(), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# Q6 — forecasting revenue change: pure scan+filter+agg (pushdown showcase).
@query(
    "tpch_q6",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount) * 10000) / 10000 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < ts("1997-01-01 00:00:00"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("revenue"))


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations (self-join of nation as n1/n2).
@query(
    "tpch_q7",
    oracle="""
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume) * 10000) / 10000 AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                       AND TIMESTAMP '1997-12-31 00:00:00'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp, li, orders, cust, nation = _t(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        supp.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(
            F.col("l_shipdate").between(
                ts("1996-01-01 00:00:00"), ts("1997-12-31 00:00:00")
            )
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .withColumn("volume", _rev())
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume"), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — national market share: conditional aggregation over an 8-table join.
# Both ratio operands are deterministic sums, so the division is too.
@query(
    "tpch_q8",
    oracle="""
SELECT o_year,
       (round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) * 10000)
          / 10000)
       / (round(sum(volume) * 10000) / 10000) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA'
    AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                        AND TIMESTAMP '1997-12-31 00:00:00'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, li, supp, orders, cust, nation, region = _t(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "customer",
        "nation", "region",
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    return (
        part.filter(F.col("p_type") == "ECONOMY")
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("o_orderdate").between(
                ts("1996-01-01 00:00:00"), ts("1997-12-31 00:00:00")
            )
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "AMERICA")),
            F.col("n1_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _rev().alias("volume"),
            "nation",
        )
        .groupBy("o_year")
        .agg(
            (
                dsum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0), 4)
                / dsum(F.col("volume"), 4)
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9 — product type profit (adapted: no partsupp, so profit omits
# ps_supplycost and is just discounted revenue).
@query(
    "tpch_q9",
    oracle="""
SELECT nation, o_year, round(sum(amount) * 10000) / 10000 AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    part, li, supp, orders, nation = _t(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "nation"
    )
    return (
        part.filter(F.col("p_name").like("%red%"))
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            _rev().alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum(F.col("amount"), 4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# Q10 — returned item reporting: top-20 customers by lost revenue.
@query(
    "tpch_q10",
    oracle="""
SELECT c_custkey, c_name,
       round(sum(l_extendedprice * (1 - l_discount)) * 10000) / 10000 AS revenue,
       c_acctbal, n_name, c_mktsegment
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders, li, nation = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(
            (F.col("o_orderdate") >= ts("1996-10-01 00:00:00"))
            & (F.col("o_orderdate") < ts("1997-01-01 00:00:00"))
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(dsum(_rev(), 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12 — shipping modes & order priority (adapted: fixture has no l_shipmode /
# l_receiptdate; classifies by ship-delay bucket instead).
@query(
    "tpch_q12",
    oracle="""
SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
            THEN 'LATE' ELSE 'ONTIME' END AS ship_bucket,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY ship_bucket
ORDER BY ship_bucket
""",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, li = _t(spark, sf_dir, "orders", "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            (F.col("l_shipdate") >= ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1998-01-01 00:00:00"))
        )
        .withColumn(
            "ship_bucket",
            F.when(
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"),
                "LATE",
            ).otherwise("ONTIME"),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution: LEFT OUTER join + double agg.
@query(
    "tpch_q13",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    return (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Q14 — promotion effect: conditional agg ratio (both operands deterministic).
@query(
    "tpch_q14",
    oracle="""
SELECT 100.00 * (round(sum(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END) * 10000) / 10000)
       / (round(sum(l_extendedprice * (1 - l_discount)) * 10000) / 10000)
         AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
""",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    return (
        li.filter(
            (F.col("l_shipdate") >= ts("1997-03-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1997-04-01 00:00:00"))
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * dsum(F.when(F.col("p_type") == "PROMO", _rev()).otherwise(0.0), 4)
                / dsum(_rev(), 4)
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------------
# Q15 — top supplier: CTE (reference WITH-clause, sql-parser.cup) + scalar
# subquery max; the equality on revenue is safe because dsum is deterministic.
@query(
    "tpch_q15",
    oracle="""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         round(sum(l_extendedprice * (1 - l_discount)) * 10000) / 10000
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, supp = _t(spark, sf_dir, "lineitem", "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1997-04-01 00:00:00"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(_rev(), 4).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mr"))
    return (
        supp.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mr"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16 — parts/supplier relationship (adapted: lineitem stands in for
# partsupp). Distinct-agg after join, exclusion predicate, IN-list.
@query(
    "tpch_q16",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    return (
        li.join(
            part.filter(
                (F.col("p_brand") != "Brand#5")
                & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue: correlated scalar agg subquery
# (reference rewrites to join — fe/.../analysis/StmtRewriter.java:196).
# The avg(l_quantity) threshold is exact (integer-valued sums), so the
# boundary comparison is deterministic.
@query(
    "tpch_q17",
    oracle="""
SELECT round(sum(l_extendedprice) * 100) / 100 / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.5 * avg(l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
""",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    part_avg = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(part.filter(F.col("p_brand") == "Brand#3"), F.col("p_partkey") == F.col("l_partkey"))
        .join(part_avg, F.col("pa_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg((dsum(F.col("l_extendedprice"), 2) / 7.0).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers: HAVING + IN-subquery semi join.
# sum(l_quantity) is integer-exact, so HAVING > 160 is deterministic.
@query(
    "tpch_q18",
    oracle="""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       sum(l_quantity) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 160
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
""",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORDER BY + LIMIT plans as TakeOrderedAndProject (per-partition top-k
    # heaps), never a global sort of the result.
    cust, orders, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .filter(F.col("tot_qty") > 160)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue: disjunctive multi-range predicates
# (adapted: no l_shipmode/l_shipinstruct in fixture).
@query(
    "tpch_q19",
    oracle="""
SELECT round(sum(l_extendedprice * (1 - l_discount)) * 10000) / 10000 AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li, part = _t(spark, sf_dir, "lineitem", "part")
    j = li.join(part, F.col("p_partkey") == F.col("l_partkey"))
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(cond).agg(dsum(_rev(), 4).alias("revenue"))


# --------------------------------------------------------------------------
# Q20 — potential part promotion (adapted: aggregated-subquery semi join over
# lineitem instead of partsupp availability). Integer-exact HAVING threshold.
@query(
    "tpch_q20",
    oracle="""
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'red%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey
  HAVING sum(l_quantity) > 100
)
ORDER BY s_name, s_acctbal
""",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp, li, part = _t(spark, sf_dir, "supplier", "lineitem", "part")
    qual = (
        li.filter(
            (F.col("l_shipdate") >= ts("1997-01-01 00:00:00"))
            & (F.col("l_shipdate") < ts("1998-01-01 00:00:00"))
        )
        .join(part.filter(F.col("p_name").like("red%")), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("tot"))
        .filter(F.col("tot") > 100)
        .select("l_suppkey")
    )
    return (
        supp.join(qual, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name", "s_acctbal")
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity (adapted: c_mktsegment stands in for phone
# country code). Scalar uncorrelated subquery + NOT EXISTS anti join
# (reference TJoinOp LEFT_ANTI_JOIN / NULL_AWARE_LEFT_ANTI_JOIN,
# common/thrift/PlanNodes.thrift:221-228). The avg threshold is made
# deterministic via the scaled-sum trick so boundary rows can't flip.
@query(
    "tpch_q22",
    oracle="""
SELECT c_mktsegment, count(*) AS numcust,
       round(sum(c_acctbal) * 100) / 100 AS totacctbal
FROM customer
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'HOUSEHOLD')
  AND c_acctbal > (SELECT round(sum(c_acctbal) * 100) / 100 / count(*)
                   FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust, orders = _t(spark, sf_dir, "customer", "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum(F.col("c_acctbal"), 2) / F.count(F.lit(1))).alias("avg_bal")
    )
    return (
        cust.filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY", "HOUSEHOLD"))
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        # r9 de-vacuousing: every fixture customer has SOME order, so the
        # spec's bare NOT EXISTS kept nothing at any scale (a green row
        # over an empty result). "No order since 2001" is the lapsed-
        # customer reading of q22's 'no orders in N years' intent and
        # keeps 17/167/1730 customers across the three scales.
        .join(
            orders.filter(
                F.col("o_orderdate") >= ts("2001-01-01 00:00:00")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"), dsum(F.col("c_acctbal"), 2).alias("totacctbal"))
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (adapted: the fixture lacks
# l_receiptdate/l_commitdate, so "late" = shipped more than 90 days after
# the order date; reference golden tpch-q21.test). Keeps Q21's defining
# shape: correlated EXISTS (another supplier contributed to the order) +
# correlated NOT EXISTS (no OTHER supplier was late) — the reference plans
# these as RIGHT SEMI / RIGHT ANTI hash joins
# (common/thrift/PlanNodes.thrift:217-228).
@query(
    "tpch_q21",
    oracle="""
WITH lo AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_name, count(*) AS numwait
FROM lo l1
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lo l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lo l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l3.o_orderdate + INTERVAL 90 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The EXISTS/NOT-EXISTS pair is algebraized into ONE per-order
    # aggregate instead of two correlated self-joins (which would execute
    # the lineitem⋈orders subtree three times): for a late row of supplier
    # s, "another supplier contributed" ⟺ ndv(suppliers) > 1, and "no
    # OTHER supplier was late" ⟺ the late-supplier set is exactly {s}
    # ⟺ ndv(late suppliers) = 1. One extra shuffle on l_orderkey replaces
    # two semi/anti hash joins — at 100 TB: 2 passes over the join, not 3.
    li, orders, supp = _t(spark, sf_dir, "lineitem", "orders", "supplier")
    lo = li.join(
        orders.filter(F.col("o_orderstatus") == "F"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    stats = lo.groupBy(F.col("l_orderkey").alias("sk")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
    )
    return (
        lo.filter(late)
        .join(stats, F.col("sk") == F.col("l_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# --------------------------------------------------------------------------
# partsupp — derived deterministically (the driver fixture ships no
# partsupp table; FIXTURES.md §1). Four suppliers per part, modeled on
# the dbgen assignment (TPC-H spec §4.2.3, as the reference's data
# loader replays it for testdata/workloads/tpch): for i ∈ 0..3 and S
# suppliers,
#   ps_suppkey = (p_partkey + (p_partkey-1)/S + i*(S/4)) % S + 1
# dbgen's exact form folds the (p_partkey-1)/S rotation into the STEP,
# which is only injective for dbgen's own large S (at the fixture's
# sf0.001, S = 10 makes the step 5 and offsets {0,5,0,5} collide); here
# the rotation moves to the per-part BASE and the step is exactly
# S div 4, so the four offsets {0, s, 2s, 3s} with s ≥ 1 and 3s < S are
# distinct mod S for ANY S ≥ 4 (pinned by
# tests/test_r9_properties.py::test_partsupp_four_distinct_suppliers_per_part
# at two scales).
# availqty and supplycost are deterministic integer functions of the key
# pair; supplycost is carried in CENTS (BIGINT) so every comparison,
# min() and sum() both engines run is exact integer math — the single
# /100.0 happens once at the output boundary (IEEE division of the same
# integer is bit-identical in both engines).
#
# Scale: partsupp is |part|×4 rows built from a projection of part plus
# a broadcast 1-row supplier count — no shuffle. SF-proportional dims
# (supplier) carry no join hint (r12); nation/region stay broadcast.
_PS_CTE = """
s_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM supplier),
ps0 AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey + (p_partkey - 1) // n + j * (n // 4)) % n + 1
           AS ps_suppkey
  FROM part CROSS JOIN s_n
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) gen
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         (ps_partkey * 7 + ps_suppkey * 11) % 9999 + 1 AS ps_availqty,
         (ps_partkey * 31 + ps_suppkey * 17) % 100000 + 100
           AS ps_supplycost_c
  FROM ps0
)
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame mirror of _PS_CTE (see block comment above)."""
    part, supplier = _t(spark, sf_dir, "part", "supplier")
    s_n = supplier.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ps0 = (
        part.select("p_partkey")
        .crossJoin(F.broadcast(s_n))
        .select(
            "p_partkey",
            "n",
            F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"),
        )
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            (
                (
                    F.col("p_partkey")
                    + F.expr("(p_partkey - 1) div n")
                    + F.col("j") * F.expr("n div 4")
                )
                % F.col("n")
                + 1
            ).alias("ps_suppkey"),
        )
    )
    return ps0.select(
        "ps_partkey",
        "ps_suppkey",
        ((F.col("ps_partkey") * 7 + F.col("ps_suppkey") * 11) % 9999 + 1).alias(
            "ps_availqty"
        ),
        (
            (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 100000 + 100
        ).alias("ps_supplycost_c"),
    )


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (adapted: p_type has no 'BRASS' suffixes and
# part/supplier drop mfgr/address/phone/comment, so the filter is
# p_type = 'STANDARD' AND p_size <= 10 and the projection keeps the
# columns the fixture has; the SHAPE — correlated min-cost-per-part
# subquery over a region-filtered partsupp, ordered TopN — is the
# reference golden's: testdata/workloads/tpch/queries/tpch-q2.test.
@query(
    "tpch_q2",
    oracle=f"""
WITH {_PS_CTE.strip()},
euro AS (
  SELECT ps_partkey, ps_supplycost_c, s_name, s_acctbal, n_name
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'
),
mincost AS (
  SELECT ps_partkey, min(ps_supplycost_c) AS min_c
  FROM euro GROUP BY ps_partkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(e.ps_supplycost_c AS DOUBLE) / 100.0 AS supplycost
FROM part
JOIN euro e    ON e.ps_partkey = p_partkey
JOIN mincost m ON m.ps_partkey = p_partkey AND e.ps_supplycost_c = m.min_c
WHERE p_size <= 10 AND p_type = 'STANDARD'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The spec's correlated scalar subquery decorrelates to min-cost per
    # part; a ps_partkey-keyed WINDOW computes it in the SAME shuffle
    # that would feed a groupBy+self-join (one exchange on the big
    # relation instead of two plus a sort-merge join; its PLANSHAPES.tsv
    # row pins zero SortMergeJoin). nation/region broadcast (constant dims);
    # the TopN is TakeOrderedAndProject.
    part, supplier, nation, region = _t(
        spark, sf_dir, "part", "supplier", "nation", "region"
    )
    ps = _partsupp(spark, sf_dir)
    euro = (
        ps.join(
            supplier, F.col("s_suppkey") == F.col("ps_suppkey")
        )
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("ps_partkey", "ps_supplycost_c", "s_name", "s_acctbal", "n_name")
    )
    from pyspark.sql import Window

    w_min = Window.partitionBy("ps_partkey")
    p = part.filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_type")
    return (
        euro.withColumn("min_c", F.min("ps_supplycost_c").over(w_min))
        .filter(F.col("ps_supplycost_c") == F.col("min_c"))
        .join(p, F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            (F.col("ps_supplycost_c").cast("double") / 100.0).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q11 — important stock identification (adapted: the spec's fraction is
# 0.0001/SF, which is fixture-scale-dependent; the scale-invariant
# equivalent used here keeps parts whose stock value exceeds the
# NATION-AVERAGE part value, i.e. value * n_parts > total — exact
# integer comparison in cents on both engines). Reference golden:
# testdata/workloads/tpch/queries/tpch-q11.test.
@query(
    "tpch_q11",
    oracle=f"""
WITH {_PS_CTE.strip()},
gs AS (
  SELECT ps_partkey, ps_supplycost_c * ps_availqty AS v_c
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
),
tot AS (
  SELECT CAST(sum(v_c) AS BIGINT) AS total_c,
         CAST(count(DISTINCT ps_partkey) AS BIGINT) AS n_parts
  FROM gs
)
SELECT ps_partkey,
       CAST(CAST(sum(v_c) AS BIGINT) AS DOUBLE) / 100.0 AS value
FROM gs CROSS JOIN tot
GROUP BY ps_partkey, total_c, n_parts
HAVING CAST(sum(v_c) AS BIGINT) * n_parts > total_c
ORDER BY value DESC, ps_partkey
""",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    # group-vs-global HAVING: the global total is a 1-row broadcast
    # crossJoin (never a shuffle); per-part sums stay integer cents so
    # the threshold comparison is exact. At 100 TB both aggregates are
    # map-side-combinable on ps_partkey / constant keys.
    supplier, nation = _t(spark, sf_dir, "supplier", "nation")
    ps = _partsupp(spark, sf_dir)
    gs = (
        ps.join(supplier, F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(
            F.broadcast(nation.filter(F.col("n_name") == "NATION_3")),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select(
            "ps_partkey",
            (F.col("ps_supplycost_c") * F.col("ps_availqty")).alias("v_c"),
        )
    )
    tot = gs.agg(
        F.sum("v_c").cast("bigint").alias("total_c"),
        F.countDistinct("ps_partkey").cast("bigint").alias("n_parts"),
    )
    return (
        gs.groupBy("ps_partkey")
        .agg(F.sum("v_c").cast("bigint").alias("value_c"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("value_c") * F.col("n_parts") > F.col("total_c"))
        .select(
            "ps_partkey",
            (F.col("value_c").cast("double") / 100.0).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )
