"""TPC-H completion suite: the eight query shapes (Q2/Q4/Q11/Q12/Q13/
Q17/Q20/Q21) that round out the full 22-query family alongside
queries_relational (Q1/3/5/6) and queries_tpch (Q7/8/9/10/14/15/16/18/
19/22).

The harness tables have no partsupp, l_commitdate/l_receiptdate,
l_shipmode, or comment columns, so each shape is adapted faithfully:

- partsupp link     -> distinct (l_partkey, l_suppkey) pairs in lineitem
- ps_supplycost     -> min(l_extendedprice / l_quantity) per pair
- commit < receipt  -> l_shipdate > o_orderdate + N days ("late" proxy)
- shipmode group    -> l_returnflag
- comment filters   -> o_orderpriority predicates

What matters for the engine is the *plan shape* each query exercises:
correlated EXISTS with a non-equi residual (Q4), scalar-subquery HAVING
over a two-level aggregate (Q11), conditional counts over a fact-fact
join (Q12), left-outer count distribution (Q13), per-group average as a
correlated threshold (Q17), nested semi-join chain (Q20), and the
semi+anti self-join pair on one fact table (Q21).

Numeric discipline matches queries_tpch: exact DECIMAL(25,6) partial
sums, cast to DOUBLE only at the output boundary, so the cross-engine
value hash is stable. Counts use count(CASE WHEN ... THEN 1 END) on the
oracle side so both engines emit BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import load_table


def _dsum(col):
    return F.sum(col.cast("decimal(25,6)")).cast("double")


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query("q2_min_cost_supplier", """
WITH link AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS supply_cost
  FROM lineitem GROUP BY 1, 2),
cand AS (
  SELECT p.p_partkey AS p_partkey, s.s_suppkey AS s_suppkey,
         s.s_name AS s_name, s.s_acctbal AS s_acctbal,
         n.n_name AS n_name, link.supply_cost AS supply_cost
  FROM link
  JOIN part p ON link.l_partkey = p.p_partkey
  JOIN supplier s ON link.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'LARGE'
    AND r.r_name = 'ASIA')
SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name, supply_cost
FROM (SELECT *, min(supply_cost) OVER (PARTITION BY p_partkey) AS mc
      FROM cand)
WHERE supply_cost = mc
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest regional supplier per qualifying part.
    The part<->supplier link is the aggregated lineitem pair table
    (shuffle carries 3 columns, map-side partial min); part, supplier,
    nation, region all broadcast; the correlated min-cost subquery is a
    window min over the small candidate set, not a second shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    link = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                 .alias("supply_cost")))
    pf = p.where(F.col("p_size").between(10, 20)
                 & (F.col("p_type") == "LARGE"))
    sr = (s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
          .join(F.broadcast(r.where(F.col("r_name") == "ASIA")),
                F.col("n_regionkey") == F.col("r_regionkey")))
    cand = (link.join(F.broadcast(pf), link.l_partkey == pf.p_partkey)
            .join(F.broadcast(sr), link.l_suppkey == F.col("s_suppkey"))
            .select("p_partkey", "s_suppkey", "s_name", "s_acctbal",
                    "n_name", "supply_cost"))
    w = Window.partitionBy("p_partkey")
    return (cand.withColumn("mc", F.min("supply_cost").over(w))
            .where(F.col("supply_cost") == F.col("mc"))
            .drop("mc"))


@query("q4_order_priority", """
SELECT o.o_orderpriority AS o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate BETWEEN TIMESTAMP '1996-07-01' AND TIMESTAMP '1996-09-30'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY 1
""")
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (late-shipment proxy for commit<receipt): orders in
    one quarter with at least one line shipped >60 days after the order
    date, counted per priority. Planned as a left-semi join whose
    residual (l_shipdate > o_orderdate + 60d) is a non-equi condition
    evaluated inside the semi join — no post-join dedup needed."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_shipdate")
    of = o.where(F.col("o_orderdate").between("1996-07-01", "1996-09-30"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    return (of.join(li, on=[of.o_orderkey == li.o_orderkey, late],
                    how="leftsemi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("order_count")))


@query("q11_important_parts", """
WITH v AS (
  SELECT l.l_partkey AS l_partkey,
         sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS val
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_1'
  GROUP BY 1)
SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
FROM v, (SELECT sum(val) AS total FROM v) t
WHERE CAST(val AS DOUBLE) > 0.001 * CAST(t.total AS DOUBLE)
""")
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose one-nation revenue exceeds a fraction
    of that nation's total — a two-level aggregate where the HAVING
    threshold is a scalar subquery (broadcast single row). Sums stay in
    exact DECIMAL until the comparison so both engines agree bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    v = (li.join(F.broadcast(
            s.join(F.broadcast(n.where(F.col("n_name") == "NATION_1")),
                   F.col("s_nationkey") == F.col("n_nationkey"))),
            li.l_suppkey == F.col("s_suppkey"))
         .groupBy("l_partkey")
         .agg(F.sum(_rev().cast("decimal(25,6)")).alias("val")))
    total = v.agg(F.sum("val").alias("total"))
    return (v.join(F.broadcast(total))
            .where(F.col("val").cast("double")
                   > 0.001 * F.col("total").cast("double"))
            .select("l_partkey", F.col("val").cast("double")
                    .alias("part_value")))


@query("q12_late_lines_by_flag", """
SELECT l.l_returnflag AS l_returnflag,
       count(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS high_line_count,
       count(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                  THEN 1 END) AS low_line_count
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
GROUP BY 1
""")
def q12_late_lines_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (returnflag stands in for shipmode): lines shipped
    late in one year, split into high/low-priority counts per flag —
    conditional aggregation over the fact-fact join with the year filter
    pushed to the lineitem scan and the 30-day residual after the join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.where(F.col("l_shipdate").between("1996-01-01", "1996-12-31"))
            .join(o, li.l_orderkey == o.o_orderkey)
            .where(F.col("l_shipdate")
                   > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
            .groupBy("l_returnflag")
            .agg(F.count(F.when(high, 1)).alias("high_line_count"),
                 F.count(F.when(~high, 1)).alias("low_line_count")))


@query("q13_customer_distribution", """
WITH co AS (
  SELECT c.c_custkey AS c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
   AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY 1)
SELECT c_count, count(*) AS custdist
FROM co GROUP BY c_count
""")
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    including zero-order customers — the left-outer join keeps them,
    count(o_orderkey) ignores the null-padded rows, and the second
    aggregate is over at most a few dozen distinct counts."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    of = (o.where(F.col("o_orderpriority") != "4-NOT SPECIFIED")
          .select(F.col("o_custkey").alias("c_custkey"), "o_orderkey"))
    return (c.select("c_custkey")
            .join(of, "c_custkey", "left")
            .groupBy("c_custkey")
            .agg(F.count("o_orderkey").alias("c_count"))
            .groupBy("c_count")
            .agg(F.count("*").alias("custdist")))


@query("q17_small_qty_revenue", """
WITH pavg AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE)
           / count(*) AS avg_qty
  FROM lineitem GROUP BY 1)
SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(25,6))) AS DOUBLE)
         / 7.0 AS avg_yearly
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN pavg ON pavg.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#12' AND l.l_quantity < 0.2 * pavg.avg_qty
""")
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity lines of one brand,
    where "small" is relative to each part's average quantity — the
    correlated average is a per-part aggregate joined back (broadcast:
    one row per part). The average is an exact DECIMAL sum divided by
    the count, so the 0.2x threshold is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pavg = (li.groupBy("l_partkey")
            .agg((F.sum(F.col("l_quantity").cast("decimal(25,6)"))
                  .cast("double") / F.count("*")).alias("avg_qty"))
            .withColumnRenamed("l_partkey", "pa_partkey"))
    return (li.join(F.broadcast(p.where(F.col("p_brand") == "Brand#12")),
                    li.l_partkey == p.p_partkey)
            .join(F.broadcast(pavg), li.l_partkey == F.col("pa_partkey"))
            .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg((_dsum(F.col("l_extendedprice")) / 7.0)
                 .alias("avg_yearly")))


@query("q20_heavy_gear_suppliers", """
WITH gear AS (SELECT p_partkey FROM part WHERE p_name LIKE '%gear%'),
shipped AS (
  SELECT l.l_suppkey AS s_suppkey,
         CAST(sum(CAST(l.l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty
  FROM lineitem l JOIN gear g ON l.l_partkey = g.p_partkey
  WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
  GROUP BY 1
  HAVING sum(CAST(l.l_quantity AS DECIMAL(25,6))) > 400)
SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
       n.n_name AS n_name, shipped.total_qty AS total_qty
FROM supplier s
JOIN shipped ON s.s_suppkey = shipped.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
""")
def q20_heavy_gear_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (shipped volume stands in for ps_availqty):
    suppliers who moved >400 units of 'gear' parts in 1996 — the nested
    IN-subquery chain becomes part-filter -> broadcast semi into
    lineitem -> group-by-having -> join back to supplier detail."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    gear = p.where(F.col("p_name").like("%gear%")).select("p_partkey")
    shipped = (
        li.where(F.col("l_shipdate").between("1996-01-01", "1996-12-31"))
        .join(F.broadcast(gear), li.l_partkey == F.col("p_partkey"),
              "leftsemi")
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("q"))
        .where(F.col("q") > 400)
        .select("s_suppkey", F.col("q").cast("double").alias("total_qty")))
    return (s.join(shipped, "s_suppkey")
            .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name", "n_name", "total_qty"))


@query("q21_waiting_suppliers", """
WITH base AS (
  SELECT l.l_orderkey AS ok, l.l_suppkey AS sk,
         (l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY) AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F')
SELECT s.s_name AS s_name, count(*) AS numwait
FROM base l1
JOIN supplier s ON l1.sk = s.s_suppkey
WHERE l1.late
  AND EXISTS (SELECT 1 FROM base l2 WHERE l2.ok = l1.ok AND l2.sk <> l1.sk)
  AND NOT EXISTS (SELECT 1 FROM base l3 WHERE l3.ok = l1.ok
                  AND l3.sk <> l1.sk AND l3.late)
GROUP BY 1
""")
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (90-day-late proxy for receipt>commit): suppliers
    who were the *only* late supplier on finished multi-supplier orders.
    The EXISTS/NOT-EXISTS pair becomes a left-semi then left-anti
    self-join on the (orderkey, suppkey, late) base — each with the
    suppkey-inequality residual inside the join, all hash-partitioned
    on orderkey so the three base scans co-locate."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    base = (li.join(o.where(F.col("o_orderstatus") == "F"),
                    li.l_orderkey == o.o_orderkey)
            .select(F.col("l_orderkey").alias("ok"),
                    F.col("l_suppkey").alias("sk"),
                    (F.col("l_shipdate") > F.col("o_orderdate")
                     + F.expr("INTERVAL 90 DAYS")).alias("late")))
    l1 = base.where(F.col("late"))
    l2 = base.select(F.col("ok").alias("ok2"), F.col("sk").alias("sk2"))
    l3 = (base.where(F.col("late"))
          .select(F.col("ok").alias("ok3"), F.col("sk").alias("sk3")))
    only_late = (
        l1.join(l2, on=[l1.ok == l2.ok2, l1.sk != l2.sk2], how="leftsemi")
        .join(l3, on=[l1.ok == F.col("ok3"), l1.sk != F.col("sk3")],
              how="leftanti"))
    return (only_late
            .join(F.broadcast(s), only_late.sk == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.count("*").alias("numwait")))
