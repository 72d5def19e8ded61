"""Bucketed co-located joins: correctness vs the plain join AND the plan
property that justifies bucketing — no Exchange on either join side."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F

from left_join_on_timeout_spark.operators.bucketing import (
    bucketed_join,
    write_bucketed,
)
from left_join_on_timeout_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    warehouse = tmp_path_factory.mktemp("buckets")
    o = load_table(spark, SF_DIR, "orders")
    li = (load_table(spark, SF_DIR, "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"))
    write_bucketed(o, "orders_b", "o_orderkey", 8,
                   path=f"{warehouse}/orders_b")
    write_bucketed(li, "lineitem_b", "o_orderkey", 8,
                   path=f"{warehouse}/lineitem_b")
    yield "lineitem_b", "orders_b"
    for t in ("lineitem_b", "orders_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_is_shuffle_free(spark, bucketed_tables):
    """At sf0.001 the planner would broadcast (tiny side) and skip the
    bucketed path entirely; disabling broadcast models the 100 TB case —
    two fact tables joined sort-merge — where bucketing must remove both
    exchanges AND both sorts (buckets are sorted at write)."""
    li_b, o_b = bucketed_tables
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, li_b, o_b, "o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin" in plan, plan[:800]
    assert "Exchange" not in plan, plan[:800]
    assert "Bucketed: true" in plan, plan[:800]
    # (in-partition Sorts remain: Spark trusts write-time bucket sort
    # order only behind spark.sql.legacy.bucketedTableScan.outputOrdering)


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    li_b, o_b = bucketed_tables
    j = (bucketed_join(spark, li_b, o_b, "o_orderkey")
         .groupBy("o_orderpriority")
         .agg(F.count("*").alias("n"),
              F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("q")))
    o = load_table(spark, SF_DIR, "orders")
    li = (load_table(spark, SF_DIR, "lineitem")
          .withColumnRenamed("l_orderkey", "o_orderkey"))
    plain = (li.join(o, "o_orderkey")
             .groupBy("o_orderpriority")
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("l_quantity").cast("decimal(25,6)")).alias("q")))
    assert (sorted(map(tuple, j.collect()))
            == sorted(map(tuple, plain.collect())))
