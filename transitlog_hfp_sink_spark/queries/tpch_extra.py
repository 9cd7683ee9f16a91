"""TPC-H tail coverage: the query *shapes* q6-q22 adapted to the driver
tables (no partsupp; simplified columns — see TESTDATA.md).

What each adaptation preserves is the semantic capability, re-expressed
Spark-first (the reference engine has no relational query surface at all,
SURVEY §2.6 — this is the engine's declarative surface over its data
model):

- scalar subqueries            -> agg + broadcast cross-join (q15, q22)
- correlated agg subqueries    -> groupBy agg + equi-join     (q17)
- IN subquery with HAVING      -> agg filter + semi-join      (q18)
- EXISTS / NOT EXISTS          -> per-group window flags      (q21)
- CASE-ratio aggregation       -> exact decimal sums          (q8, q14)
- disjunctive predicate push   -> OR of range triples         (q19)
- multi-alias dimension joins  -> nation x2 self-alias        (q7, q8)
- correlated MIN subquery      -> window MIN per group        (q2)
- HAVING vs scalar total       -> 1-row broadcast cross-join  (q11)
- null-aware NOT IN            -> left_anti join              (q16)
- nested IN subqueries         -> two semi-join stages        (q20)

q2/q11/q16/q20 need the partsupp table the driver data lacks; the
part-supplier relation is derived from lineitem instead (the shapes —
and their Spark rewrites — are unchanged).

Cross-engine determinism: every double sum goes through DECIMAL (exact,
order-independent); year() is cast to INT in the oracles (DuckDB returns
BIGINT); counts are cast to BIGINT (DuckDB sum(int) is HUGEINT).

Scale notes (100 TB): all dimension sides (part/supplier/nation/region,
and post-aggregation scalars) are broadcast; the only shuffles are the
fact-table aggregations on their natural keys. q21 uses a single window
shuffle on l_orderkey instead of agg + self-join (one shuffle, not two).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from transitlog_hfp_sink_spark.sources.files import read_table
from transitlog_hfp_sink_spark.queries.relational import (
    bigint_sum_double,
    disc_price_units,
    money_cents,
    units_sum_double,
)


def _dec(col, prec: int = 18, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


# --------------------------------------------------------------------------
# q6: forecast revenue change — single-table filter + scalar agg.
# Predicates (shipdate range, discount band, quantity cap) all push to the
# parquet scan; the agg is a map-side partial -> 1-row shuffle.
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            units_sum_double(
                money_cents("l_extendedprice") * money_cents("l_discount"), 4
            ).alias("revenue")
        )
    )


ORACLE_Q6 = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.04 AND l_quantity < 24
"""


# --------------------------------------------------------------------------
# q7: volume shipping between two nations — nation joined twice under
# different aliases (supplier side + customer side), both broadcast.
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    sup = read_table(spark, sf_dir, "supplier")
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(units_sum_double(disc_price_units(), 4).alias("revenue"))
    )


ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INTEGER) AS l_year,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
"""


# --------------------------------------------------------------------------
# q8: market share of one nation's suppliers within a region's orders for
# one part type — CASE-conditional decimal sum over total decimal sum.
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    cust = read_table(spark, sf_dir, "customer")
    sup = read_table(spark, sf_dir, "supplier")
    n_cust = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    n_supp = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # round 11 cents law (see relational.q_pricing_summary): integer
    # 1e-4 units per row, exact widened sums, one double rounding per
    # aggregate — numerator and denominator both identical to the
    # decimal formulation, hence so is their ratio
    vol_u = disc_price_units()
    zero_u = F.lit(0).cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(region), F.col("nc_region") == F.col("r_regionkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("ns_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            (
                units_sum_double(
                    F.when(F.col("supp_nation") == "NATION_3", vol_u)
                    .otherwise(zero_u),
                    4,
                )
                / units_sum_double(vol_u, 4)
            ).alias("mkt_share")
        )
    )


ORACLE_Q8 = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
    ELSE CAST(0 AS DECIMAL(18,2)) * CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY o_year
"""


# --------------------------------------------------------------------------
# q9 (adapted: no partsupp -> p_retailprice stands in for supply cost):
# profit by supplier nation and year.
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    # round 11 cents law: profit per row in exact signed 1e-4 units —
    # both products are exact integer reps of the 4-dp decimal values
    profit = disc_price_units() - money_cents("p_retailprice") * money_cents(
        "l_quantity"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(units_sum_double(profit, 4).alias("sum_profit"))
    )


ORACLE_Q9 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
         - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'STANDARD'
GROUP BY n_name, o_year
"""


# --------------------------------------------------------------------------
# q10: returned-item customers — top 20 by lost revenue in one quarter.
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(units_sum_double(disc_price_units(), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name, c_mktsegment,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# q12 (adapted: no l_shipmode/commitdate -> lateness is shipdate more than
# 90 days after order date): priority mix of late shipments per year.
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .withColumn("ship_year", F.year("l_shipdate"))
        .groupBy("ship_year")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


ORACLE_Q12 = """
SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY ship_year
"""


# --------------------------------------------------------------------------
# q14: promotion effect — percentage of revenue from PROMO parts in a
# two-month window. 100*promo is multiplied while still DECIMAL (exact),
# then both sides cast to DOUBLE for one deterministic division.
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-05-01").cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part")
    # round 11 cents law: the 100x promo numerator is the 1e-4-unit sum
    # divided by 100 (scale 2) — same rational as (sum_decimal * 100),
    # one double rounding, exact decimal divide per group
    vol_u = disc_price_units()
    promo100 = units_sum_double(
        F.when(F.col("p_type") == "PROMO", vol_u).otherwise(F.lit(0).cast("bigint")),
        2,
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg((promo100 / units_sum_double(vol_u, 4)).alias("promo_revenue"))
    )


ORACLE_Q14 = """
SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
    ELSE CAST(0 AS DECIMAL(18,2)) * CAST(0 AS DECIMAL(18,2)) END * 100) AS DOUBLE)
  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-05-01'
"""


# --------------------------------------------------------------------------
# q15: top supplier — scalar MAX subquery re-expressed as a 1-row agg
# broadcast cross-join (no global window; the revenue relation is tiny
# after aggregation, |suppliers| rows).
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    sup = read_table(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        units_sum_double(disc_price_units(), 4).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


ORACLE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------------
# q17: small-quantity-order revenue — correlated AVG subquery re-expressed
# as a per-part aggregate joined back. Part filter broadcasts into
# lineitem FIRST, so the avg is computed over only the brand's rows.
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    li = read_table(spark, sf_dir, "lineitem")
    li_b = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    # integer-valued quantities: the double avg is exact in any order
    thresholds = li_b.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li_b.join(F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (units_sum_double(money_cents("l_extendedprice"), 2) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


ORACLE_Q17 = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
  )
"""


# --------------------------------------------------------------------------
# q18: large-volume customers — IN (GROUP BY ... HAVING) re-expressed as an
# aggregate filter + semi-join (broadcast: the qualifying key set is tiny).
def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("q"))
        .where(F.col("q").cast("double") > 250.0)
        .select("l_orderkey")
    )
    return (
        orders.join(
            F.broadcast(big_orders),
            orders.o_orderkey == big_orders.l_orderkey,
            "left_semi",
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(bigint_sum_double(money_cents("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


ORACLE_Q18 = """
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250.0
)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


# --------------------------------------------------------------------------
# q19: discounted revenue for three disjunctive (brand, size, quantity)
# triples. The OR-of-ANDs predicate still prunes: part filters push to the
# part scan, and the join stays a broadcast hash join.
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    c1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    c2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 20)
    )
    c3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 30)
    )
    return j.where(c1 | c2 | c3).agg(
        units_sum_double(disc_price_units(), 4).alias("revenue")
    )


ORACLE_Q19 = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 30)
"""


# --------------------------------------------------------------------------
# q21 (adapted: lateness is shipdate more than 60 days after order date):
# suppliers who were the SOLE late supplier on a multi-supplier finished
# order. EXISTS / NOT EXISTS become collect_set flags over one window
# shuffle on l_orderkey (vs two shuffles for agg + self-join).
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_4")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    w = Window.partitionBy("l_orderkey")
    lines = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn("is_late", late)
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(F.when(F.col("is_late"), F.col("l_suppkey"))).over(w)
            ),
        )
    )
    return (
        lines.where(F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


ORACLE_Q21 = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_4'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 10
"""


# --------------------------------------------------------------------------
# q22 (adapted: no c_phone -> grouped by market segment; "never ordered"
# is degenerate on the driver data, so idleness = no order since 1999):
# well-funded idle customers. Scalar AVG subquery -> 1-row broadcast
# cross-join; NOT EXISTS (recent orders) -> left_anti join.
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    )
    # exact decimal avg: order-independent across engines
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(_dec("c_acctbal")).cast("double") / F.count("*")
        ).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
    )


ORACLE_Q22 = """
SELECT c_mktsegment, count(*) AS numcust,
  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
    FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY c_mktsegment
"""


# --------------------------------------------------------------------------
# q2 (adapted: no partsupp -> the supplier-part offer relation is derived
# from lineitem; "cost" is the best observed unit price): min-cost supplier
# per qualifying part. The correlated MIN subquery becomes a window MIN
# over l_partkey; the part filter broadcasts into lineitem BEFORE the
# offer aggregation so the window only sees qualifying parts.
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_size") == 10) & (F.col("p_type") == "SMALL")
    )
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    offers = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey", "p_brand")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"))
    )
    w = Window.partitionBy("l_partkey")
    best = offers.withColumn("min_price", F.min("unit_price").over(w)).where(
        F.col("unit_price") == F.col("min_price")
    )
    return (
        best.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            "s_acctbal",
            "n_name",
            "unit_price",
        )
        .orderBy(F.col("s_acctbal").desc(), F.col("p_partkey").asc(), F.col("s_name").asc())
        .limit(20)
    )


ORACLE_Q2 = """
WITH offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT p_partkey, p_brand, s_name, s_acctbal, n_name, unit_price
FROM part
JOIN offers ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_size = 10 AND p_type = 'SMALL'
  AND unit_price = (
    SELECT min(o2.unit_price) FROM offers o2 WHERE o2.l_partkey = p_partkey
  )
ORDER BY s_acctbal DESC, p_partkey ASC, s_name ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# q11 (adapted: "stock value" per part is its lineitem revenue): parts
# holding more than 0.06% of total value. HAVING-vs-scalar-total becomes a
# 1-row broadcast cross-join; the threshold multiplication happens in
# DOUBLE on the exact decimal total (deterministic both engines).
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(
        units_sum_double(money_cents("l_extendedprice"), 2).alias("part_value")
    )
    threshold = li.agg(
        (units_sum_double(money_cents("l_extendedprice"), 2) * F.lit(0.0006)).alias("cutoff")
    )
    return (
        val.crossJoin(F.broadcast(threshold))
        .where(F.col("part_value") > F.col("cutoff"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


ORACLE_Q11 = """
SELECT l_partkey,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > (
  SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) * 0.0006
  FROM lineitem
)
ORDER BY part_value DESC, l_partkey ASC
"""


# --------------------------------------------------------------------------
# q16 (adapted: part-supplier pairs derived from lineitem; "complaint"
# suppliers are those with negative account balance): supplier counts per
# part attribute. NOT IN becomes a left_anti join (s_suppkey is non-null,
# so anti-join and null-aware NOT IN coincide; asserted in the oracle by
# construction).
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    # filter-first (round 3): both broadcast joins are MAP-SIDE, so they
    # run before the wide distinct and shrink its shuffle by the part
    # predicate's selectivity (~12%). distinct-ing the raw (partkey,
    # suppkey) pairs first shuffled the whole lineitem projection —
    # measured 2.3x slower at sf0.1 for identical output.
    j = (
        li.select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad), F.col("l_suppkey") == bad.s_suppkey, "left_anti")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )
    return (
        j.select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
        .limit(40)
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#5' AND p_size IN (1, 5, 10, 15, 20, 25)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
LIMIT 40
"""


# --------------------------------------------------------------------------
# q20 (adapted: "availqty" is shipped volume from lineitem): suppliers in
# one nation who moved >50 units of some PROMO part in 1996. The nested
# IN subqueries become two broadcast semi-join stages.
def q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    sup = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_16")
    qual = (
        li.join(F.broadcast(part.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(bigint_sum_double(money_cents("l_quantity"), 2).alias("moved"))
        .where(F.col("moved") > 50.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        sup.join(F.broadcast(qual), sup.s_suppkey == qual.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


ORACLE_Q20 = """
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_16'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 50.0
  )
ORDER BY s_name
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q11_important_parts": q11_important_parts,
    "q16_supplier_counts": q16_supplier_counts,
    "q20_promo_suppliers": q20_promo_suppliers,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q12_late_shipments": q12_late_shipments,
    "q14_promo_effect": q14_promo_effect,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity": q17_small_quantity,
    "q18_large_volume": q18_large_volume,
    "q19_disjunctive": q19_disjunctive,
    "q21_waiting_supplier": q21_waiting_supplier,
    "q22_idle_customers": q22_idle_customers,
}

ORACLES = {
    "q2_min_cost_supplier": ORACLE_Q2,
    "q11_important_parts": ORACLE_Q11,
    "q16_supplier_counts": ORACLE_Q16,
    "q20_promo_suppliers": ORACLE_Q20,
    "q6_forecast_revenue": ORACLE_Q6,
    "q7_volume_shipping": ORACLE_Q7,
    "q8_market_share": ORACLE_Q8,
    "q9_product_profit": ORACLE_Q9,
    "q10_returned_items": ORACLE_Q10,
    "q12_late_shipments": ORACLE_Q12,
    "q14_promo_effect": ORACLE_Q14,
    "q15_top_supplier": ORACLE_Q15,
    "q17_small_quantity": ORACLE_Q17,
    "q18_large_volume": ORACLE_Q18,
    "q19_disjunctive": ORACLE_Q19,
    "q21_waiting_supplier": ORACLE_Q21,
    "q22_idle_customers": ORACLE_Q22,
}
