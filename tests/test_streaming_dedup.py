"""Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keeps the
first record per key within the watermark horizon and re-admits the key
once the watermark has passed (bounded state — the 100 TB requirement)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from left_join_on_timeout_spark.operators.dedup import streaming_exact_dedup

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def TS(seconds: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    base = str(tmp_path)
    src, ckpt = os.path.join(base, "in"), os.path.join(base, "ck")
    os.makedirs(src)

    def write(rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)

    # batch 1: key 1 twice (dup within horizon), plus a watermark-driver
    # key far ahead — after this batch the watermark is 500 - 10 = 490,
    # which expires key 1's dedup state (event time 1 + 10 < 490)
    write([(1, "first", TS(1)), (1, "dup", TS(2)), (99, "wm", TS(500))])
    out = streaming_exact_dedup(
        spark.readStream.schema(SCHEMA).parquet(src),
        keys=["k"], ts_col="ts", delay="10 seconds")
    q = (out.writeStream.format("memory").queryName("dedup_sink")
         .outputMode("append").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
        got = sorted((r.k, r.v) for r in spark.table("dedup_sink").collect())
        assert got == [(1, "first"), (99, "wm")]

        # batch 2: key 1 again, long past its evicted state → re-admitted
        write([(1, "reborn", TS(600))])
        q.processAllAvailable()
        # batch 3: within the new record's horizon → dropped
        write([(1, "still_dup", TS(600.5))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted((r.k, r.v) for r in spark.table("dedup_sink").collect())
    assert rows == [(1, "first"), (1, "reborn"), (99, "wm")]
