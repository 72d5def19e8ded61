"""Nested-type and global-ordering query surface.

* ``props_map_explode`` — the write/read round trip of O13's serde at the
  *collection* level: JSON props parsed as ``map<string,bigint>`` and
  exploded to rows (the reference's serde is schema-generic,
  ``JsonGenericDeserializer.java:15-30``; maps are the Spark-native shape
  for its ``Map<String, Object>`` payloads).
* ``nested_array_types`` — array-typed aggregation state: per-user event
  sequences as ``collect_list`` + JVM array functions (sort / distinct /
  join / element_at), never a Python UDF.
* ``global_price_rank`` — total-order ranking through
  :func:`operators.ranking.global_rank`: the distributed
  range-shuffle + offset plan, not the single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from left_join_on_timeout_spark.operators.ranking import global_rank
from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import load_table


@query("props_map_explode", """
SELECT k_name,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.' || k_name) AS BIGINT))
            AS BIGINT) AS total,
       min(CAST(json_extract_string(props, '$.' || k_name) AS BIGINT)) AS vmin,
       max(CAST(json_extract_string(props, '$.' || k_name) AS BIGINT)) AS vmax
FROM (SELECT props, unnest(json_keys(CAST(props AS JSON))) AS k_name
      FROM events)
GROUP BY k_name
""")
def q_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O13 at map granularity: parse props into ``map<string,bigint>``,
    explode to (key, value) rows, aggregate per key — schema-free JSON
    handling for payloads whose key set isn't known at plan time."""
    events = load_table(spark, sf_dir, "events")
    kv = events.select(
        F.explode(F.from_json("props", "map<string,bigint>"))
        .alias("k_name", "k_val"))
    return kv.groupBy("k_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k_val").alias("total"),
        F.min("k_val").alias("vmin"),
        F.max("k_val").alias("vmax"))


@query("nested_array_types", """
SELECT user_id,
       len(l) AS n_events,
       len(list_distinct(l)) AS n_types,
       array_to_string(list_sort(list_distinct(l)), ',') AS type_sig,
       l[1] AS first_type,
       l[-1] AS last_type
FROM (SELECT user_id, list_sort(list(event_type)) AS l
      FROM events GROUP BY user_id)
""")
def q_nested_array_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-typed aggregation state, all JVM-side: per-user event-type
    sequence via ``collect_list`` → ``array_sort`` (deterministic
    engine-independent order) → size / distinct / join / element_at."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.array_sort(F.collect_list("event_type")).alias("l"))
    return per_user.select(
        "user_id",
        F.size("l").alias("n_events"),
        F.size(F.array_distinct("l")).alias("n_types"),
        F.array_join(F.array_sort(F.array_distinct("l")), ",")
        .alias("type_sig"),
        F.element_at("l", 1).alias("first_type"),
        F.element_at("l", -1).alias("last_type"))


@query("global_price_rank", """
SELECT o_orderkey,
       o_totalprice,
       row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rnk
FROM orders
""")
def q_global_price_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order's global rank by price — the full output is hashed, so
    the oracle checks each row's rank, not just a top-k prefix. The plan
    is one range exchange (reused by the per-partition count pass) plus a
    broadcast offset join; nothing data-scale runs single-partition."""
    orders = load_table(spark, sf_dir, "orders")
    ranked = global_rank(
        orders.select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()])
    return ranked.select("o_orderkey", "o_totalprice", "rnk")
