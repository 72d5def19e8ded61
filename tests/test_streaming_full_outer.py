"""Checkpoint-restart coverage (O9/O10) for the streaming FULL OUTER
timeout join — the symmetric O3 extension. The core tiers have restart
tests (``test_streaming_timeout.py``); this extends the same contract to
the extension: a pending LEFT **and** a pending unmatched RIGHT both
survive a stop/restart through the checkpoint, and after the watermark
advances each side emits exactly one null-padded row — the right-side
timeout emission being precisely what the reference cannot express
(its topology only arms timers for lefts,
``LeftJoinOnTimeoutBuilder.java:95-122``)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from left_join_on_timeout_spark.streaming.timeout_join import (
    left_join_on_timeout_stream,
)

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def TS(seconds: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


def symmetric_joiner(l, r):
    """Both-null-safe ValueJoiner: lhs+\"+\"+rhs with '' for the absent
    side — the full-outer contract requires handling a null LEFT too."""
    return F.concat(F.coalesce(l["v"], F.lit("")), F.lit("+"),
                    F.coalesce(r["v"], F.lit("")))


def test_full_outer_both_sides_timeout_after_restart(spark, tmp_path):
    base = str(tmp_path)
    ldir, rdir, ckpt, sink = (os.path.join(base, d)
                              for d in ("l", "r", "ck", "out"))
    os.makedirs(ldir); os.makedirs(rdir)

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    def start_query():
        out = left_join_on_timeout_stream(
            spark.readStream.schema(SCHEMA).parquet(ldir),
            spark.readStream.schema(SCHEMA).parquet(rdir),
            on="k", window="10 seconds", joiner=symmetric_joiner,
            how="fullOuter")
        return (out.select(F.coalesce("k", "r_k").alias("kk"), "joined")
                .writeStream.format("parquet").option("path", sink)
                .outputMode("append").option("checkpointLocation", ckpt)
                .start())

    # phase 1: a pending left (k=1) and a pending matchless right (k=2)
    write(ldir, [(1, "left_a", TS(1))])
    write(rdir, [(2, "right_b", TS(2))])
    q = start_query()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(sink).where(
        F.col("kk").between(0, 100)).count() == 0

    # phase 2: restart from the checkpoint; advance both watermarks
    write(ldir, [(-1, "flush", TS(10_000))])
    write(rdir, [(-2, "flush", TS(10_000))])
    q = start_query()
    q.processAllAvailable()
    q.stop()
    got = sorted((r.kk, r.joined) for r in
                 spark.read.parquet(sink)
                 .where(F.col("kk").between(0, 100)).collect())
    assert got == [(1, "left_a+"), (2, "+right_b")]
