"""Builder-API parity: the reference's fluent surface assembled over the
Spark operators, replaying the reference test scenarios through it
(``LeftJoinOnTimeoutTest.java:79-129``)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from left_join_on_timeout_spark.builder import LeftJoinOnTimeoutBuilder


def TS(ms: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(milliseconds=ms)


SCHEMA = "key LONG, value STRING, ts TIMESTAMP"


def concat_joiner(l, r):  # the reference test's lhs + "+" + (rhs or "")
    return F.concat(l["value"], F.lit("+"), F.coalesce(r["value"], F.lit("")))


def test_batch_join_left_with_right(spark):
    """shouldJoinLeftWithRight: lefts at t=1 and t=20s, right at t=1,
    window 100 s ⇒ both lefts join, no timeout row."""
    lhs = spark.createDataFrame(
        [(1, "left_1", TS(1_000)), (1, "left_2", TS(20_000))], SCHEMA)
    rhs = spark.createDataFrame([(1, "right", TS(1_000))], SCHEMA)
    out = (LeftJoinOnTimeoutBuilder(lhs, rhs, concat_joiner, "100 seconds")
           .build_topology())
    got = sorted(r.joined for r in out.collect())
    assert got == ["left_1+right", "left_2+right"]


def test_batch_left_join_on_timeout(spark):
    """shouldLeftJoinOnTimeout: left only, window 100 ms ⇒ [left+]."""
    lhs = spark.createDataFrame([(1, "left", TS(0))], SCHEMA)
    rhs = spark.createDataFrame([], SCHEMA)
    out = (LeftJoinOnTimeoutBuilder(lhs, rhs, concat_joiner, "100 milliseconds")
           .build_topology())
    assert [r.joined for r in out.collect()] == ["left+"]


def test_invalid_timeout_rejected_at_build(spark):
    lhs = spark.createDataFrame([(1, "l", TS(0))], SCHEMA)
    b = (LeftJoinOnTimeoutBuilder(lhs, lhs, None, "10 seconds")
         .timeout("5 seconds"))
    with pytest.raises(ValueError, match="exceed"):
        b.build_topology()


def test_start_requires_sink(spark):
    lhs = spark.createDataFrame([(1, "l", TS(0))], SCHEMA)
    with pytest.raises(ValueError, match="sink_to"):
        LeftJoinOnTimeoutBuilder(lhs, lhs, None, "10 seconds").start()


def test_streaming_topology_end_to_end(spark, tmp_path):
    """Streaming build + start into a memory sink: one matched key, one
    timed-out key, drained via a watermark-advancing flush row."""
    base = str(tmp_path)
    ldir, rdir = os.path.join(base, "l"), os.path.join(base, "r")
    spark.createDataFrame(
        [(1, "left_a", TS(0)), (2, "left_b", TS(0)),
         (-1, None, TS(10**10))], SCHEMA).write.parquet(ldir)
    spark.createDataFrame(
        [(1, "right_a", TS(50)), (-2, None, TS(10**10))],
        SCHEMA).write.parquet(rdir)
    lhs = spark.readStream.schema(SCHEMA).parquet(ldir)
    rhs = spark.readStream.schema(SCHEMA).parquet(rdir)
    q = (LeftJoinOnTimeoutBuilder(lhs, rhs, concat_joiner, "1 second")
         .timeout("2 seconds")
         .scheduled_capacity(100)
         .sink_to("memory", query_name="builder_sink")
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.key: r.joined
           for r in spark.table("builder_sink").where(F.col("key") > 0).collect()}
    assert got == {1: "left_a+right_a", 2: "left_b+"}
