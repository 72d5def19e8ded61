"""Standard relational surface (SURVEY.md §2.2): filter/agg/join/window/
sort/limit/set-op/rollup/pivot queries over the TPC-H-ish tables, each with
a DuckDB oracle.

Numeric discipline for cross-engine hash stability: per-row arithmetic in
DOUBLE (IEEE — bit-identical in Spark and DuckDB), then CAST to
DECIMAL(25,6) before SUM (exact, order-independent — a raw double sum
depends on partition order), then CAST the total back to DOUBLE. All plans
are pure Catalyst: scans get pushdown + pruning, dimension joins broadcast,
aggregations are partial (map-side) before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from left_join_on_timeout_spark.operators.merge import merge_into
from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import load_table


def _dsum(col):
    """Exact, order-independent sum of a double expression."""
    return F.sum(col.cast("decimal(25,6)")).cast("double")


@query("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,6))) AS DOUBLE) AS sum_charge,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate; partial agg map-side, one
    shuffle on (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc).alias("sum_disc_price"),
            _dsum(disc * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@query("q3_shipping_priority", """
SELECT l.l_orderkey AS l_orderkey,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       o.o_orderdate AS o_orderdate,
       o.o_orderpriority AS o_orderpriority
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dimension filter → fact joins → agg → global top-k.
    customer is broadcast (small side); lineitem↔orders shuffle on
    orderkey. Deterministic LIMIT via unique tiebreak."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query("q5_local_supplier_volume", """
SELECT n.n_name AS n_name,
       CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""")
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. region/nation/supplier broadcast;
    the only real shuffles are customer⋈orders and orders⋈lineitem."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s),
              (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


@query("q6_revenue_delta", """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
""")
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive pushdown filters + scalar agg
    — the canonical predicate-pushdown check."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24))
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
             F.count("*").alias("n"))
    )


@query("top_k_orders", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
""")
def q_top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans TakeOrderedAndProject — no full sort at
    scale, each partition keeps k rows."""
    return (load_table(spark, sf_dir, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(25)
            .select("o_orderkey", "o_custkey", "o_totalprice"))


@query("window_top3_per_customer", """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) t
WHERE rnk <= 3
""")
def q_window_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window function: top-3 orders per customer. One shuffle on
    o_custkey; unique tiebreak keeps row_number deterministic."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (load_table(spark, sf_dir, "orders")
            .withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rnk"))


@query("window_running_revenue", """
SELECT o_custkey, o_orderkey,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       AS running_total,
       lag(o_orderkey) OVER (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey) AS prev_orderkey
FROM orders
""")
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions: running sum frame + lag."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (load_table(spark, sf_dir, "orders")
            .withColumn("running_total",
                        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
                        .over(w.rowsBetween(Window.unboundedPreceding, 0))
                        .cast("double"))
            .withColumn("prev_orderkey", F.lag("o_orderkey").over(w))
            .select("o_custkey", "o_orderkey", "running_total", "prev_orderkey"))


@query("set_ops_customers", """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
EXCEPT
SELECT o_custkey FROM orders WHERE o_totalprice > 400000
""")
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT distinct semantics)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    building = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey"))
    open_o = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey"))
    big = o.where(F.col("o_totalprice") > 400000).select(
        F.col("o_custkey").alias("c_custkey"))
    return building.intersect(open_o).exceptAll(big).distinct()


@query("set_ops_all_multiset", """
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT ALL
SELECT o_custkey FROM orders WHERE o_totalprice > 100000
EXCEPT ALL
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
""")
def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations (INTERSECT ALL / EXCEPT ALL) — duplicate
    counts carry through, completing the set-op matrix next to the
    distinct variants."""
    o = load_table(spark, sf_dir, "orders")
    open_o = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey"))
    big = o.where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey"))
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey"))
    return open_o.intersectAll(big).exceptAll(urgent)


@query("union_all_keys", """
SELECT c_custkey AS key, 'customer' AS src FROM customer
UNION ALL
SELECT s_suppkey AS key, 'supplier' AS src FROM supplier
""")
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.lit("customer").alias("src"))
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("key"), F.lit("supplier").alias("src"))
    return c.unionAll(s)


@query("rollup_revenue", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate (ROLLUP) — grouping-set expansion."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
                 F.count("*").alias("n")))


@query("cube_order_status", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@query("scalar_functions", """
SELECT o_orderkey,
       upper(substr(o_orderpriority, 3)) AS pri_name,
       year(o_orderdate) AS yr,
       month(o_orderdate) AS mo,
       date_trunc('month', o_orderdate) AS month_start,
       CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
       abs(o_totalprice - 100000.0) AS dist_100k,
       length(o_orderstatus) AS status_len,
       concat_ws('#', o_orderstatus, CAST(o_orderkey AS VARCHAR)) AS tag,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
       o_orderkey % 7 AS mod7
FROM orders
""")
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar function surface (all JVM codegen)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.expr("substr(o_orderpriority, 3)")).alias("pri_name"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.floor("o_totalprice").alias("price_floor"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("dist_100k"),
        F.length("o_orderstatus").alias("status_len"),
        F.concat_ws("#", "o_orderstatus", F.col("o_orderkey").cast("string")).alias("tag"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("OPEN")).alias("status_or_open"),
        (F.col("o_orderkey") % 7).alias("mod7"),
    )


@query("distinct_counts", """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
""")
def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n"))


@query("pivot_event_types", """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'view') AS view,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup,
       count(*) FILTER (WHERE event_type = 'error') AS error
FROM events GROUP BY user_id
""")
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix. Explicit value list so the
    plan needs no extra distinct pass."""
    ev = load_table(spark, sf_dir, "events")
    kinds = ["view", "click", "purchase", "signup", "error"]
    return (ev.groupBy("user_id").pivot("event_type", kinds)
            .agg(F.count(F.lit(1)))
            .na.fill(0, kinds))


@query("tumbling_window_events", """
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""")
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch analog of the
    streaming groupBy(window(...)))."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"),
                       "event_type")
            .agg(F.count("*").alias("n"),
                 _dsum(F.col("value")).alias("total_value")))


@query("sliding_window_events", """
SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS win_start,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
FROM events, unnest([0, 1, 2, 3]) AS t(k)
GROUP BY 1
""")
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1 h length, 15 min slide): each event
    lands in 4 windows — Spark's window() explodes exactly the k-offset
    construction the oracle spells out. Epoch-aligned slides in both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
            .agg(F.count("*").alias("n"),
                 _dsum(F.col("value")).alias("total_value"))
            .select(F.col("w.start").alias("win_start"), "n", "total_value"))


@query("session_window_stats", """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM sess GROUP BY user_id, sid
""")
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30 min gap) via session_window() — the
    merge-on-overlap operator the streaming engine shares. Two events
    merge iff the later starts strictly inside the earlier's
    [ts, ts+gap) range, so the oracle's gaps-and-islands flag uses >= for
    a new session. session_end is the Spark convention: last event + gap."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events"))


@query("sessionization", """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
s AS (
  SELECT user_id, ts, event_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, session_id
""")
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via gap detection: lag + cumulative sum — the batch
    twin of streaming session_window(ts, gap)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # µs precision to match the oracle's `> INTERVAL 30 MINUTE` exactly
    # (a whole-seconds cast misclassifies gaps in (1800 s, 1801 s)).
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    new_sess = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    sess = (ev.withColumn("new_sess", new_sess)
            .withColumn("session_id",
                        F.sum("new_sess").over(
                            w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end")))


@query("approx_sketches", """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       TRUE AS acd_within_5pct,
       round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 6) AS median_price,
       TRUE AS approx_median_within_5pct
FROM lineitem
GROUP BY l_returnflag
""")
def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches (SURVEY §2.2 extension row):
    ``approx_count_distinct`` (HLL++) and ``percentile_approx``
    (KLL-style quantile sketch) validated against their exact twins
    inside the query — the output carries the exact values plus booleans
    asserting the sketch landed within its error contract, so the DuckDB
    oracle (exact values + TRUE) hash-checks sketch correctness without
    requiring cross-engine sketch bit-equality. At 100 TB you drop the
    exact columns and keep the sketches: both are single-pass,
    partial-aggregated, fixed-size state."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.approx_count_distinct("l_partkey", 0.02).alias("n_parts_approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_exact"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("median_approx"),
    )
    rel_err = lambda a, b: F.abs(a.cast("double") - b.cast("double")) / b.cast("double")  # noqa: E731
    return g.select(
        "l_returnflag",
        "n_parts",
        (rel_err(F.col("n_parts_approx"), F.col("n_parts")) <= 0.05)
        .alias("acd_within_5pct"),
        F.round("median_exact", 6).alias("median_price"),
        (rel_err(F.col("median_approx"), F.col("median_exact")) <= 0.05)
        .alias("approx_median_within_5pct"),
    )


@query("exists_semi_join", """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""")
def q_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS → left-semi join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name")


@query("cdc_latest_per_key", """
SELECT user_id, event_id, ts, event_type
FROM (SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
""")
def q_cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/upsert compaction: resolve each key to its latest record —
    the standard log-compaction read at 100 TB (changelog -> current
    state). One hash aggregate with ``max_by`` over the (ts, id) order
    struct: map-side partial agg, shuffle carries one row per key per
    partition, no window sort. (event_id tiebreak keeps simultaneous
    updates deterministic.)"""
    events = load_table(spark, sf_dir, "events")
    order = F.struct(F.col("ts"), F.col("event_id"))
    return events.groupBy("user_id").agg(
        F.max_by("event_id", order).alias("event_id"),
        F.max("ts").alias("ts"),
        F.max_by("event_type", order).alias("event_type"))


@query("merge_upsert_orders", """
WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders),
src AS (
  SELECT o_orderkey, 'U' AS op, o_totalprice + 1000.0 AS new_price,
         o_custkey, o_orderstatus
  FROM o WHERE o_orderkey % 100 < 10
  UNION ALL
  SELECT o_orderkey + 10000000, 'I', o_totalprice, o_custkey, o_orderstatus
  FROM o WHERE o_orderkey % 100 = 50
  UNION ALL
  SELECT o_orderkey, 'D', CAST(NULL AS DOUBLE), o_custkey, o_orderstatus
  FROM o WHERE o_orderkey % 100 = 20
)
SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN t.o_orderkey IS NULL THEN s.o_custkey
            ELSE t.o_custkey END AS o_custkey,
       CASE WHEN t.o_orderkey IS NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END AS o_orderstatus,
       CASE WHEN t.o_orderkey IS NULL THEN s.new_price
            WHEN s.op = 'U' THEN s.new_price
            ELSE t.o_totalprice END AS o_totalprice
FROM o t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
WHERE NOT (t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
           AND s.op = 'D')
  AND NOT (t.o_orderkey IS NULL AND s.op <> 'I')
""")
def q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (operators/merge.py): apply a deterministic CDC batch —
    price updates (keys ending 00-09), deletes (ending 20), inserts (new
    keys ending 50, shifted out of range) — to the orders snapshot in one
    full-outer join + CASE projection, the same physical plan Delta runs
    for a non-pruning merge. The full merged table is hashed, so every
    clause's effect on every row is oracle-checked."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    key = F.col("o_orderkey")
    src = (o.where(key % 100 < 10).select(
               "o_orderkey", F.lit("U").alias("op"),
               (F.col("o_totalprice") + 1000.0).alias("new_price"),
               "o_custkey", "o_orderstatus")
           .unionByName(o.where(key % 100 == 50).select(
               (key + 10000000).alias("o_orderkey"), F.lit("I").alias("op"),
               F.col("o_totalprice").alias("new_price"),
               "o_custkey", "o_orderstatus"))
           .unionByName(o.where(key % 100 == 20).select(
               "o_orderkey", F.lit("D").alias("op"),
               F.lit(None).cast("double").alias("new_price"),
               "o_custkey", "o_orderstatus")))
    return merge_into(
        o, src, on="o_orderkey",
        matched_update=lambda t, s: {
            "o_totalprice": F.when(s.op == "U", s.new_price)
            .otherwise(t.o_totalprice)},
        matched_delete=lambda t, s: s.op == "D",
        not_matched_insert=lambda s: {
            "o_orderkey": s.o_orderkey, "o_custkey": s.o_custkey,
            "o_orderstatus": s.o_orderstatus, "o_totalprice": s.new_price},
        not_matched_condition=lambda s: s.op == "I")


@query("events_daily_resample", """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
  FROM events GROUP BY 1, 2),
spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM spans)
SELECT g.user_id AS user_id, g.day AS day,
       COALESCE(d.n, 0) AS n_events,
       COALESCE(d.total_value, 0.0) AS total_value
FROM grid g LEFT JOIN daily d
  ON g.user_id = d.user_id AND g.day = d.day
""")
def q_events_daily_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-grid resampling with gap fill: every (user, day) cell of each
    user's span, zero-filled where no events landed — the regularization
    step before any windowed feature computation. The grid is
    ``sequence`` + ``explode`` (rows generated distributed, proportional
    to span x users, never a cartesian with a calendar table), joined
    back to the daily aggregate on (user, day)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("user_id",
                        F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.count(F.lit(1)).alias("n"),
                  _dsum(F.col("value")).alias("total_value")))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day")))
        .alias("day"))
    return (grid.join(daily, ["user_id", "day"], "left")
            .select("user_id", "day",
                    F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
                    F.coalesce(F.col("total_value"), F.lit(0.0))
                    .alias("total_value")))


@query("analytic_order_moves", """
SELECT o_orderkey, o_custkey,
       lag(o_totalprice) OVER w AS prev_price,
       o_totalprice - lag(o_totalprice) OVER w AS delta,
       CAST(ntile(4) OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice, o_orderkey) AS INT)
         AS quartile,
       round(percent_rank() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice, o_orderkey), 6)
         AS pr
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def q_analytic_order_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-function family over a keyed window (lag / ntile /
    percent_rank): per-customer order-to-order price movement and
    within-customer price quartiles. Windows are partitioned by customer,
    so the sort is per-key and scales with the largest key, not the
    table."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wp = Window.partitionBy("o_custkey").orderBy("o_totalprice",
                                                 "o_orderkey")
    return o.select(
        "o_orderkey", "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        (F.col("o_totalprice") - F.lag("o_totalprice").over(w))
        .alias("delta"),
        F.ntile(4).over(wp).alias("quartile"),
        F.round(F.percent_rank().over(wp), 6).alias("pr"))


@query("exact_median_prices", """
SELECT o_orderpriority,
       median(o_totalprice) AS median_price,
       CAST(quantile_cont(o_totalprice, 0.9) AS DOUBLE) AS p90_price
FROM orders
GROUP BY o_orderpriority
""")
def q_exact_median_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (interpolated) median and p90 per group — the sort-based
    exact quantile, complementing ``approx_sketches``' mergeable
    percentile_approx: exact answers need a per-group sort, which is
    why the approx path exists for 100 TB; both are available."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"))


@query("window_rolling_7d", """
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         sum(CAST(value AS DECIMAL(25,6))) AS rev_d,
         count(*) AS n
  FROM events GROUP BY 1, 2)
SELECT event_type, day,
       CAST(rev_d AS DOUBLE) AS revenue,
       round(CAST(sum(rev_d) OVER w AS DOUBLE)
             / (sum(n) OVER w), 6) AS avg_7d_per_event,
       CAST(sum(n) OVER w AS BIGINT) AS n_7d
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
""")
def q_window_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling aggregate via a RANGE (value-distance)
    frame, not a ROWS frame — missing days shrink the window instead of
    silently stretching it across gaps. Spark's rangeBetween needs a
    numeric ordering column, so the frame runs over the epoch-day number
    (exact integer, same frame the oracle's INTERVAL range selects).
    The rolling numerator is a DECIMAL sum (order-independent) divided
    by the rolling event count; one shuffle for the daily aggregate,
    one for the per-type window."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type",
                        F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.sum(F.col("value").cast("decimal(25,6)")).alias("rev_d"),
                  F.count(F.lit(1)).alias("n")))
    dayn = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    w = (Window.partitionBy("event_type").orderBy(dayn)
         .rangeBetween(-6, 0))
    return daily.select(
        "event_type", "day",
        F.col("rev_d").cast("double").alias("revenue"),
        F.round(F.sum("rev_d").over(w).cast("double")
                / F.sum("n").over(w), 6).alias("avg_7d_per_event"),
        F.sum("n").over(w).cast("bigint").alias("n_7d"))


@query("incremental_agg_refresh", """
SELECT date_trunc('month', o_orderdate) AS month,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY 1
""")
def q_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the monthly-revenue MV
    is kept as PARTIAL aggregates (DECIMAL sum + count — a commutative
    monoid), so a refresh scans only the delta and merges partials with
    the existing state instead of recomputing from the full history.
    Here the 'state' is the pre-cutoff partials and the 'refresh' merges
    the post-cutoff delta; at 100 TB the base partials are a few rows
    per month while a full recompute would rescan everything. The merged
    result is bit-identical to the oracle's full recompute because
    decimal partial-sum merge is exact and order-independent."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return (df.groupBy(F.date_trunc("month", F.col("o_orderdate"))
                           .alias("month"))
                .agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
                     .alias("rev_part"),
                     F.count(F.lit(1)).alias("n_part")))

    state = partials(orders.where(F.col("o_orderdate") < cutoff))
    delta = partials(orders.where(F.col("o_orderdate") >= cutoff))
    return (state.unionByName(delta)
            .groupBy("month")
            .agg(F.sum("rev_part").cast("double").alias("revenue"),
                 F.sum("n_part").alias("n_orders")))


@query("zscore_anomalies", """
WITH stats AS (
  SELECT event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(value AS DECIMAL(25,6))
                  * CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS s2
  FROM events GROUP BY 1)
SELECT event_id, e.event_type AS event_type, value,
       round((value - s1 / n)
             / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS z
FROM events e JOIN stats s ON e.event_type = s.event_type
WHERE abs(round((value - s1 / n)
                / sqrt((s2 - s1 * s1 / n) / (n - 1)), 4)) > 3
""")
def q_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection. Mean and variance come from
    exact DECIMAL power sums (s1, s2) so both engines feed bit-identical
    doubles into the same IEEE arithmetic — no order-dependent float
    aggregation anywhere. The per-type stats are a broadcast-sized dim
    joined back to the fact scan: one aggregate pass + one broadcast
    join, no window over the full table."""
    ev = load_table(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(25,6)")
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dv).cast("double").alias("s1"),
        F.sum(dv * dv).cast("double").alias("s2"))
    z = F.round((F.col("value") - F.col("s1") / F.col("n")) /
                F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                       / (F.col("n") - 1)), 4)
    return (ev.join(F.broadcast(stats), "event_type")
            .withColumn("z", z)
            .where(F.abs(F.col("z")) > 3)
            .select("event_id", "event_type", "value", "z"))


@query("funnel_conversion_daily", """
WITH first_view AS (
  SELECT user_id, min(ts) AS v_ts
  FROM events WHERE event_type = 'view' GROUP BY user_id),
conv AS (
  SELECT f.user_id, f.v_ts,
         CASE WHEN EXISTS (
           SELECT 1 FROM events p
           WHERE p.event_type = 'purchase' AND p.user_id = f.user_id
             AND p.ts > f.v_ts
             AND p.ts <= f.v_ts + INTERVAL 30 MINUTE)
         THEN 1 ELSE 0 END AS converted
  FROM first_view f)
SELECT date_trunc('day', v_ts) AS day,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(CAST(sum(converted) AS DOUBLE) / count(*), 6) AS conv_rate
FROM conv
GROUP BY date_trunc('day', v_ts)
""")
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: per user, did a purchase follow the *first* view
    within 30 minutes — conversion rate by day of first view. One
    aggregate for the entry step, one semi-join (user equi-key + time
    range) for the conversion step, one daily rollup; the semi-join
    shuffles on user_id so each key's events co-locate — no window over
    the full event stream, nothing quadratic."""
    ev = load_table(spark, sf_dir, "events")
    first_view = (ev.where(F.col("event_type") == "view")
                  .groupBy("user_id").agg(F.min("ts").alias("v_ts")))
    purchases = ev.where(F.col("event_type") == "purchase") \
                  .select(F.col("user_id").alias("p_user"),
                          F.col("ts").alias("p_ts"))
    # one left join + per-user max instead of a semi-join AND a second
    # first_view pass: the entry aggregate is computed exactly once
    joined = first_view.join(
        purchases,
        (first_view.user_id == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left")
    conv = joined.groupBy("user_id", "v_ts").agg(
        F.max(F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)).alias("c"))
    return (conv.groupBy(
        F.date_trunc("day", "v_ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_users"),
             F.sum("c").alias("n_converted"))
        .withColumn("conv_rate", F.round(
            F.col("n_converted").cast("double") / F.col("n_users"), 6)))


@query("cohort_retention_weekly", """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST((epoch(date_trunc('week', e.ts)) - epoch(f.cohort_week))
              // 604800 AS INT) AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id)
SELECT cohort_week, week_offset,
       CAST(count(*) AS BIGINT) AS n_active
FROM activity
WHERE week_offset <= 8
GROUP BY cohort_week, week_offset
""")
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week, then
    counted once per (cohort, weeks-since-first) they were active in.
    First-seen is one user-keyed aggregate; the join back to events
    reuses the same user_id partitioning; the distinct collapses
    per-user-week before the final small rollup. Week offsets are
    integer epoch arithmetic — identical in both engines."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    offset = ((F.unix_timestamp(F.date_trunc("week", F.col("ts")))
               - F.unix_timestamp(F.col("cohort_week"))) / 604800) \
        .cast("int")
    activity = (ev.join(firsts, "user_id")
                .select("user_id", "cohort_week",
                        offset.alias("week_offset"))
                .distinct())
    return (activity.where(F.col("week_offset") <= 8)
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_active")))


@query("grouping_sets_revenue", """
SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""")
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS — the generalization rollup/cube compile to: three
    explicit aggregation groupings in one Expand + hash-agg pass over a
    single scan (not one job per set). DECIMAL-summed money keeps the
    revenue order-independent."""
    orders = load_table(spark, sf_dir, "orders")
    # scoped view name: never collides with driver/user views
    orders.createOrReplaceTempView("ljot_gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE)
                 AS revenue,
               count(*) AS n
        FROM ljot_gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@query("dow_seasonal_residuals", """
WITH daily AS (
  SELECT date_trunc('day', ts) AS day,
         CAST(dayofweek(ts) + 1 AS INT) AS dow,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
dowm AS (
  SELECT dow,
         CAST(sum(CAST(n AS DECIMAL(25,6))) AS DOUBLE) / count(*)
           AS dow_mean
  FROM daily GROUP BY dow)
SELECT d.day, d.dow, d.n,
       round(m.dow_mean, 6) AS expected,
       round(d.n / m.dow_mean, 6) AS ratio,
       (abs(d.n / m.dow_mean - 1.0) > 0.5) AS flagged
FROM daily d JOIN dowm m ON d.dow = m.dow
""")
def q_dow_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal anomaly detection: daily event volumes compared to their
    day-of-week baseline — the decomposition that keeps a quiet Sunday
    from flagging as an outage and a loud Monday from masking one
    (``zscore_anomalies`` is the season-blind sibling). Two tiny
    aggregates (daily counts, then 7-row day-of-week means as exact
    decimal sums) and one broadcast join back; flagged = volume off its
    weekday baseline by more than 50%. Spark's ``dayofweek`` is
    1=Sunday; DuckDB's is 0=Sunday, shifted +1 in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"),
                        F.dayofweek("ts").alias("dow"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    dowm = (daily.groupBy("dow")
            .agg((F.sum(F.col("n").cast("decimal(25,6)")).cast("double")
                  / F.count(F.lit(1))).alias("dow_mean")))
    ratio = F.col("n") / F.col("dow_mean")
    return (daily.join(F.broadcast(dowm), "dow")
            .select("day", "dow", "n",
                    F.round("dow_mean", 6).alias("expected"),
                    F.round(ratio, 6).alias("ratio"),
                    (F.abs(ratio - 1.0) > 0.5).alias("flagged")))


@query("time_decayed_user_value", """
WITH t AS (SELECT max(ts) AS tmax FROM events),
w AS (
  SELECT user_id,
         CAST(round(exp(-CAST((epoch_us(t.tmax) - epoch_us(e.ts))
                              // 3600000000 AS BIGINT) * 0.004125), 4)
              AS DECIMAL(25,6)) AS w,
         CAST(value AS DECIMAL(25,6)) AS v
  FROM events e CROSS JOIN t)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(w * v) AS DOUBLE), 6) AS decayed_value
FROM w GROUP BY user_id
""")
def q_time_decayed_user_value(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Exponentially time-decayed per-user value (λ = 0.004125/hour ≈
    one-week half-life), anchored at the corpus's latest event — the
    recency-weighted engagement score a ranking/serving pipeline keeps
    per entity. The decayed sum is MERGEABLE (all weights share one
    anchor, so partial sums from any partitioning combine exactly) and
    streaming-friendly: a deployment stores the sum in anchor form and
    rescales by e^{-λΔ} on read — no per-event state beyond the one
    accumulator. Determinism: age floors to WHOLE
    hours from bigint microsecond arithmetic (coarse ages also make the
    anchor-form state smaller), each weight rounds to 4 dp before the
    DECIMAL(25,6) product with the decimal-cast value, and the per-user
    sum is exact decimal math — addition order cannot matter. The one
    IEEE ``exp`` per row may differ by an ulp across libms, which is
    why the weight rounds at 4 dp over ~700 distinct hourly inputs —
    measured ulp drift sits at the 7th digit, three orders below the
    rounding step."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.agg(F.max("ts").alias("tmax"))
    age_h = F.floor(
        (F.unix_micros(F.col("tmax")) - F.unix_micros(F.col("ts")))
        / F.lit(3600000000)).cast("bigint")
    w = F.round(F.exp(-age_h * F.lit(0.004125)), 4).cast("decimal(25,6)")
    v = F.col("value").cast("decimal(25,6)")
    return (ev.crossJoin(F.broadcast(t))
            .select("user_id", (w * v).alias("wv"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"),
                 F.round(F.sum("wv").cast("double"), 6)
                 .alias("decayed_value")))


@query("daily_forward_fill", """
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         round(CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE)
               / count(*), 6) AS mean_value
  FROM events GROUP BY 1, 2),
spans AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM spans),
joined AS (
  SELECT g.user_id, g.day, d.mean_value,
         (d.mean_value IS NOT NULL) AS is_observed
  FROM grid g LEFT JOIN daily d
    ON g.user_id = d.user_id AND g.day = d.day)
SELECT user_id, day,
       last_value(mean_value IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS filled_value,
       is_observed
FROM joined
""")
def q_daily_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill resampling (LOCF — last observation carried
    forward): the gap-filling sibling of ``events_daily_resample`` for
    LEVEL metrics, where an empty day means "unchanged", not "zero"
    (balances, settings, latest scores — zero-filling those corrupts
    every downstream window). Per user: the daily mean value lands on a
    dense day grid and gaps inherit the most recent observed value via
    ``last(ignorenulls)`` over a keyed ordering. Grid generation is
    ``sequence``+``explode`` (distributed, span-proportional); the fill
    is one keyed window pass — shuffle keys are (user), state is one
    row. First-day gaps stay NULL by construction (nothing to carry),
    identically in both engines."""
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("user_id",
                        F.date_trunc("day", F.col("ts")).alias("day"))
             .agg(F.round(
                 F.sum(F.col("value").cast("decimal(25,6)"))
                 .cast("double") / F.count(F.lit(1)), 6)
                 .alias("mean_value")))
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = spans.select(
        "user_id",
        F.explode(F.sequence(
            "d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"))
    joined = (grid.join(daily, ["user_id", "day"], "left")
              .withColumn("is_observed", F.col("mean_value").isNotNull()))
    w = (Window.partitionBy("user_id").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return joined.select(
        "user_id", "day",
        F.last("mean_value", ignorenulls=True).over(w)
        .alias("filled_value"),
        "is_observed")


@query("user_rfm_segments", """
WITH t AS (SELECT max(ts) AS tmax FROM events),
base AS (
  SELECT user_id,
         CAST(date_diff('day', max(ts), (SELECT tmax FROM t))
              AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
ranked AS (
  SELECT user_id, recency_days, frequency, monetary,
         row_number() OVER (ORDER BY recency_days, user_id) AS rr,
         row_number() OVER (ORDER BY frequency DESC, user_id) AS rf,
         row_number() OVER (ORDER BY monetary DESC, user_id) AS rm,
         count(*) OVER () AS n
  FROM base)
SELECT user_id, recency_days, frequency,
       round(monetary, 6) AS monetary,
       CAST(4 - (rr - 1) * 4 // n AS INT) AS r_score,
       CAST(4 - (rf - 1) * 4 // n AS INT) AS f_score,
       CAST(4 - (rm - 1) * 4 // n AS INT) AS m_score
FROM ranked
""")
def q_user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary — the classic
    customer-value cut): per purchasing user, days since last purchase
    (anchored at the corpus head), purchase count, and spend, each
    scored into equi-depth quartiles 4…1 by the explicit rank formula
    (``4 − ⌊(rank−1)·4/n⌋`` over a deterministic total order — never
    ntile, whose tie behavior differs between engines). One aggregate
    pass; the quartile ranks run over the *user-level* relation (orders
    of magnitude smaller than events), and monetary sums are exact
    decimals. 4 = best in every dimension (most recent, most frequent,
    highest spend)."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.agg(F.max("ts").alias("tmax"))
    base = (ev.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(F.max("ts").alias("last_ts"),
                 F.count(F.lit(1)).cast("bigint").alias("frequency"),
                 F.sum(F.col("value").cast("decimal(25,6)"))
                 .cast("double").alias("monetary"))
            .crossJoin(F.broadcast(t))
            .select("user_id",
                    F.datediff(F.to_date("tmax"), F.to_date("last_ts"))
                    .cast("bigint").alias("recency_days"),
                    "frequency", "monetary"))
    rr = F.row_number().over(W.orderBy("recency_days", "user_id"))
    rf = F.row_number().over(W.orderBy(F.desc("frequency"), "user_id"))
    rm = F.row_number().over(W.orderBy(F.desc("monetary"), "user_id"))
    ranked = (base.withColumn("rr", rr).withColumn("rf", rf)
              .withColumn("rm", rm)
              .crossJoin(F.broadcast(
                  base.agg(F.count(F.lit(1)).alias("n")))))
    score = lambda r: (4 - F.floor((F.col(r) - 1) * 4 / F.col("n"))) \
        .cast("int")
    return ranked.select(
        "user_id", "recency_days", "frequency",
        F.round("monetary", 6).alias("monetary"),
        score("rr").alias("r_score"),
        score("rf").alias("f_score"),
        score("rm").alias("m_score"))


@query("purchase_interarrival_stats", """
WITH p AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events WHERE event_type = 'purchase'),
gaps AS (
  SELECT user_id,
         CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT)
           / 60000000.0 AS gap_min
  FROM p WHERE prev_ts IS NOT NULL)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(gap_min, 0.5), 6) AS median_gap_min,
       round(quantile_cont(gap_min, 0.25), 6) AS q1_gap_min,
       round(quantile_cont(gap_min, 0.75), 6) AS q3_gap_min,
       round(max(gap_min), 6) AS max_gap_min
FROM gaps GROUP BY user_id
""")
def q_purchase_interarrival_stats(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Recurrence modeling: per user, the distribution of gaps between
    consecutive purchases (median/IQR/max, in minutes) — the input to
    churn heuristics ("3× median gap without a purchase → at risk") and
    to choosing the core operator's timeout window from data instead of
    folklore. One keyed lag window over the purchase slice (ties break
    on event_id for a total order), then a per-user exact-percentile
    aggregate — interpolated quantiles are the ``iqr_outlier_stats``
    parity surface (Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    verified bit-identical); gap minutes derive from exact bigint
    microsecond arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (ev.where(F.col("event_type") == "purchase")
         .select("user_id", "ts", "event_id")
         .withColumn("prev_ts", F.lag("ts").over(w)))
    gaps = (p.where(F.col("prev_ts").isNotNull())
            .select("user_id",
                    ((F.unix_micros("ts") - F.unix_micros("prev_ts"))
                     / F.lit(60000000.0)).alias("gap_min")))
    pct = lambda q: F.round(F.percentile("gap_min", F.lit(q)), 6)
    return (gaps.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
                 pct(0.5).alias("median_gap_min"),
                 pct(0.25).alias("q1_gap_min"),
                 pct(0.75).alias("q3_gap_min"),
                 F.round(F.max("gap_min"), 6).alias("max_gap_min")))


@query("events_burst_stats", """
WITH e AS (
  SELECT user_id,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
  FROM events),
b AS (
  SELECT user_id,
         count(*) OVER (PARTITION BY user_id ORDER BY sec
                        RANGE BETWEEN CURRENT ROW AND 600 FOLLOWING)
           AS burst
  FROM e)
SELECT user_id, CAST(max(burst) AS BIGINT) AS max_burst_10m,
       CAST(count(*) AS BIGINT) AS n_events
FROM b GROUP BY user_id
""")
def q_events_burst_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection (rate-limit / abuse signal): per user, the
    maximum number of events inside any 10-minute window that STARTS at
    one of their events — the exact sliding maximum, because a maximal
    burst always has some event on its left edge. One keyed RANGE-frame
    window over integer epoch-seconds (frame bounds are data values,
    not row counts, so ties and gaps are handled exactly and both
    engines agree on integer arithmetic), then a per-user max. No
    self-join, no window-contribution fan-out: cost is one sort per
    user partition regardless of the window width."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.floor(F.unix_micros("ts") / F.lit(1000000)).cast("bigint")
        .alias("sec"))
    w = (Window.partitionBy("user_id").orderBy("sec")
         .rangeBetween(0, 600))
    return (e.withColumn("burst", F.count(F.lit(1)).over(w))
            .groupBy("user_id")
            .agg(F.max("burst").cast("bigint").alias("max_burst_10m"),
                 F.count(F.lit(1)).cast("bigint").alias("n_events")))
