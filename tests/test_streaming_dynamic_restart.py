"""Checkpoint-restart coverage (O9/O10) for the streaming PER-KEY-CLASS
dynamic-window timeout join. The per-key window is a CASE refinement
inside constant watermark bounds (the state-bound analysis needs
constants; see ``q_stream_dynamic_timeout_left_join``): this test proves
the refinement survives a stop/restart — after recovery, a right that is
inside the constant bound but outside its key's OWN window still does
NOT match (the narrow-class left emits the timeout row), while the
wide-class key matches the equally-distant right."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def TS(seconds: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


def _build(ls: DataFrame, rs: DataFrame) -> DataFrame:
    """Odd keys get a 10 s window, even keys 100 s; the constant
    conjuncts carry the widest class (±100 s)."""
    l = ls.withWatermark("ts", "1 second").alias("l")
    r = (rs.select(F.col("k"), F.col("v").alias("r_v"),
                   F.col("ts").alias("r_ts"))
         .withWatermark("r_ts", "1 second").alias("r"))
    wsec = F.when(F.col("l.k") % 2 == 1, F.lit(10)).otherwise(F.lit(100))
    iv = F.make_interval(secs=wsec)
    outer = F.expr("INTERVAL 100 SECONDS")
    cond = ((F.col("l.k") == F.col("r.k"))
            & (F.col("r.r_ts") >= F.col("l.ts") - outer)
            & (F.col("r.r_ts") <= F.col("l.ts") + outer)
            & (F.col("r.r_ts") >= F.col("l.ts") - iv)
            & (F.col("r.r_ts") <= F.col("l.ts") + iv))
    return (l.join(r, cond, "leftOuter")
            .select(F.col("l.k").alias("k"),
                    F.concat(F.col("l.v"), F.lit("+"),
                             F.coalesce(F.col("r_v"), F.lit("")))
                    .alias("joined")))


def test_dynamic_window_refinement_survives_restart(spark, tmp_path):
    base = str(tmp_path)
    ldir, rdir, ckpt, sink = (os.path.join(base, d)
                              for d in ("l", "r", "ck", "out"))
    os.makedirs(ldir); os.makedirs(rdir)

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    def start_query():
        out = _build(spark.readStream.schema(SCHEMA).parquet(ldir),
                     spark.readStream.schema(SCHEMA).parquet(rdir))
        return (out.writeStream.format("parquet").option("path", sink)
                .outputMode("append").option("checkpointLocation", ckpt)
                .start())

    # both rights are 50 s from their left: inside the constant bound,
    # outside k=1's 10 s window, inside k=2's 100 s window
    write(ldir, [(1, "l1", TS(0)), (2, "l2", TS(0))])
    write(rdir, [(1, "r1", TS(50)), (2, "r2", TS(50))])
    q = start_query()
    q.processAllAvailable()
    q.stop()

    # restart from the checkpoint, advance both watermarks past eviction
    write(ldir, [(-1, "flush", TS(100_000))])
    write(rdir, [(-2, "flush", TS(100_000))])
    q = start_query()
    q.processAllAvailable()
    q.stop()
    got = sorted((r.k, r.joined) for r in
                 spark.read.parquet(sink)
                 .where(F.col("k").between(0, 100)).collect())
    assert got == [(1, "l1+"), (2, "l2+r2")]


def test_dynamic_window_state_bounded_by_widest_class(spark, tmp_path):
    """The SURVEY claim behind the streaming dynamic-window form,
    asserted on the state store itself (VERDICT r5 item 7): the
    constant widest-class conjuncts give Spark a watermark eviction
    bound, so state holds at most the rows inside the widest window
    around the current watermark — NOT the whole history. Three epochs
    10,000 s apart (≫ the 100 s widest window) each ingest the same
    row volume; after every epoch the join's numRowsTotal stays at the
    one-epoch level while the total ingested volume triples."""
    base = str(tmp_path)
    ldir, rdir, ckpt, sink = (os.path.join(base, d)
                              for d in ("l", "r", "ck", "out"))
    os.makedirs(ldir); os.makedirs(rdir)

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    out = _build(spark.readStream.schema(SCHEMA).parquet(ldir),
                 spark.readStream.schema(SCHEMA).parquet(rdir))
    q = (out.writeStream.format("parquet").option("path", sink)
         .outputMode("append").option("checkpointLocation", ckpt)
         .start())
    try:
        per_epoch = 12  # rows per side per epoch
        state_totals = []
        for epoch in range(3):
            t0 = epoch * 10_000
            write(ldir, [(k, f"l{epoch}.{k}", TS(t0 + k))
                         for k in range(per_epoch)])
            write(rdir, [(k, f"r{epoch}.{k}", TS(t0 + k))
                         for k in range(per_epoch)])
            q.processAllAvailable()
            ops = [p["stateOperators"][0]["numRowsTotal"]
                   for p in (q.recentProgress or [])
                   if p.get("stateOperators")]
            assert ops, "no state-operator progress reported"
            state_totals.append(ops[-1])
        # every epoch's steady state is bounded by ONE epoch's
        # population on both sides — older epochs were evicted at the
        # widest-window horizon, so state never accumulates history
        for total in state_totals:
            assert total <= 2 * per_epoch, state_totals
        # and the bound is meaningful: the query really processed all
        # three epochs (every left matched its same-ts right and
        # emitted — matches don't wait for the watermark), so ingest
        # tripled while state stayed at the one-epoch level
        emitted = spark.read.parquet(sink).count()
        assert emitted >= 3 * per_epoch, emitted
    finally:
        q.stop()
