"""Extended TPC-H-derivative suite over the harness star schema.

The reference implements no relational algebra beyond its one join
(SURVEY §2.2), so this surface "comes free" with DataFrame/SQL — these
queries exist to exercise the optimizer paths a 100 TB deployment leans
on: multi-way joins with broadcast dims, conditional aggregation,
scalar subqueries, group-by-having with join-back, OR-of-ANDs predicate
pushdown, and anti joins. Shapes are adapted from TPC-H Q7/Q8/Q10/Q14/
Q15/Q16/Q18/Q19/Q22 to the columns the harness tables actually have
(no partsupp/shipmode/phone — lineitem serves as the part↔supplier
link).

Numeric discipline matches queries_relational: per-row arithmetic in
DOUBLE, CAST to DECIMAL(25,6) before SUM, CAST back to DOUBLE after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from left_join_on_timeout_spark.operators.skew import salted_join
from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import load_table


def _dsum(col):
    return F.sum(col.cast("decimal(25,6)")).cast("double")


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query("q7_nation_volume", """
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
    OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
  AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1, 2, 3
""")
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair shipping volume by year.
    nation and supplier broadcast; the only real shuffles are
    lineitem⋈orders and orders⋈customer — the fact-fact joins."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_name").alias("cust_nation"))
    return (
        li.where(F.col("l_shipdate").between("1996-01-01", "1997-12-31"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .where(((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
               | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(_dsum(_rev()).alias("revenue"))
    )


@query("q8_market_share", """
WITH volume AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS vol,
         ns.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN region r ON nc.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
SELECT o_year,
       CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END AS DECIMAL(25,6))) AS DOUBLE)
         / CAST(sum(CAST(vol AS DECIMAL(25,6))) AS DOUBLE) AS mkt_share
FROM volume GROUP BY o_year
""")
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of regional promo revenue per
    year — conditional aggregation over a 7-way join with every
    dimension broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part")
    nc = n.select(F.col("n_nationkey").alias("c_nk"),
                  F.col("n_regionkey").alias("c_rk"))
    ns = n.select(F.col("n_nationkey").alias("s_nk"),
                  F.col("n_name").alias("supp_nation"))
    vol = (
        li.join(o.where(F.col("o_orderdate")
                        .between("1996-01-01", "1997-12-31")),
                li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
              F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(p.where(F.col("p_type") == "PROMO")),
              li.l_partkey == p.p_partkey)
        .select(F.year("o_orderdate").cast("int").alias("o_year"),
                _rev().alias("vol"), "supp_nation"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3",
                        F.col("vol")).otherwise(F.lit(0.0))
    return (vol.groupBy("o_year")
            .agg((_dsum(nation_vol) / _dsum(F.col("vol")))
                 .alias("mkt_share")))


@query("q10_returned_items", """
SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       c.c_acctbal AS c_acctbal, n.n_name AS n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate BETWEEN TIMESTAMP '1996-10-01' AND TIMESTAMP '1996-12-31'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    quarter. TakeOrdered top-k with a unique tiebreak (custkey), so the
    limit is deterministic across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(o.where(F.col("o_orderdate")
                      .between("1996-10-01", "1996-12-31")),
              li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(_rev()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query("q14_promo_revenue", """
SELECT 100.0 * CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                     THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END AS DECIMAL(25,6))) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE)
       AS promo_revenue_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-09-01' AND TIMESTAMP '1996-09-30'
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo share of one month's revenue — broadcast
    part join + conditional aggregate, a single global row."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    return (
        li.where(F.col("l_shipdate").between("1996-09-01", "1996-09-30"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg((F.lit(100.0) * _dsum(promo) / _dsum(_rev()))
             .alias("promo_revenue_pct"))
    )


@query("q15_top_supplier", """
WITH srev AS (
  SELECT l_suppkey AS s_suppkey,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
  GROUP BY l_suppkey)
SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name, total_revenue
FROM srev JOIN supplier s ON srev.s_suppkey = s.s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM srev)
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    a scalar subquery realized as a broadcast single-row cross join, so
    the revenue CTE is computed once per branch and never collected."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    srev = (li.where(F.col("l_shipdate").between("1996-01-01", "1996-03-31"))
            .groupBy(F.col("l_suppkey").alias("s_suppkey"))
            .agg(_dsum(_rev()).alias("total_revenue")))
    mx = srev.agg(F.max("total_revenue").alias("max_rev"))
    return (srev.join(F.broadcast(mx))
            .where(F.col("total_revenue") == F.col("max_rev"))
            .join(F.broadcast(s), "s_suppkey")
            .select("s_suppkey", "s_name", "total_revenue"))


@query("q16_part_supplier_cnt", """
SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 50
""")
def q16_part_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem as the part↔supplier link): distinct
    supplier counts per (brand, type, size). The distinct aggregation is
    the two-phase expand/agg Catalyst plan; part is broadcast with both
    predicates pushed into its scan."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pf = p.where((F.col("p_brand") != "Brand#1")
                 & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    return (
        li.join(F.broadcast(pf), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(50)
    )


@query("q18_large_volume_customer", """
SELECT c.c_name AS c_name, c.c_custkey AS c_custkey,
       o.o_orderkey AS o_orderkey, o.o_orderdate AS o_orderdate,
       o.o_totalprice AS o_totalprice,
       CAST(sum(CAST(l.l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(25,6))) > 250)
GROUP BY 1, 2, 3, 4, 5
""")
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    joined back for customer detail — group-by-having feeding a
    (broadcastable) semi join on the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("q"))
           .where(F.col("q") > 250)
           .select("l_orderkey"))
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"),
               "o_orderkey", "leftsemi")
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                 "o_totalprice")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@query("q19_discounted_revenue", """
SELECT CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""")
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides. Catalyst
    extracts the common single-side conjuncts (brand/size on part,
    quantity on lineitem) and pushes them into both scans; the residual
    OR evaluates after the broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30)))
    return j.where(cond).agg(_dsum(_rev()).alias("revenue"))


@query("q9_product_profit", """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                     - 0.6 * p.p_retailprice * l.l_quantity
                AS DECIMAL(25,6))) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY 1, 2
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp: 60% of retail price stands in for
    supply cost): profit by supplier nation and order year for parts
    matching a LIKE pattern. part/supplier/nation broadcast; only
    lineitem⋈orders shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - 0.6 * F.col("p_retailprice") * F.col("l_quantity"))
    return (
        li.join(F.broadcast(p.where(F.col("p_name").like("%gear%"))),
                li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(_dsum(profit).alias("sum_profit"))
    )


@query("salted_join_revenue", """
SELECT o.o_orderpriority AS o_orderpriority,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY 1
""")
def q_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key mitigation path: lineitem⋈orders executed as a salted
    join (operators.skew) — the skewed fact side gets a deterministic
    salt, orders is replicated per salt, and the shuffle spreads each
    orderkey across 8 partitions. Result-identical to the plain join,
    which is exactly what the oracle asserts."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = salted_join(li.withColumnRenamed("l_orderkey", "o_orderkey"),
                    o, on="o_orderkey", salt=8)
    return (j.groupBy("o_orderpriority")
            .agg(_dsum(_rev()).alias("revenue"),
                 F.count("*").alias("n_lines")))


@query("q22_idle_rich_customers", """
WITH avg_bal AS (
  SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0)
SELECT c.c_nationkey AS c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(c.c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS totacctbal
FROM customer c, avg_bal
WHERE c.c_acctbal > avg_bal.ab
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
""")
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders — scalar subquery (broadcast single row) + anti join against
    the filtered orders fact (the date predicate is pushed into the
    anti-join side's scan), grouped by nation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (c.where(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("ab")))
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(o.where(F.col("o_orderdate") >= "2000-01-01")
              .select(F.col("o_custkey").alias("c_custkey")),
              "c_custkey", "leftanti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"),
             _dsum(F.col("c_acctbal")).alias("totacctbal"))
    )
