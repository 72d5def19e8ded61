"""Streaming LEFT JOIN ON TIMEOUT — ports of the reference's integration
scenarios (``LeftJoinOnTimeoutTest.java:79-177``) to Structured Streaming
with scripted event times (watermark manipulation replaces Awaitility;
no wall-clock races), plus batch/streaming equivalence and checkpoint
restart (O9/O10).
"""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from left_join_on_timeout_spark.builder import LeftJoinOnTimeoutBuilder
from left_join_on_timeout_spark.operators.timeout_join import left_join_on_timeout
from left_join_on_timeout_spark.streaming.harness import run_timeout_join_stream
from left_join_on_timeout_spark.streaming.timeout_join import (
    left_join_on_timeout_stream,
    timeout_only_stream,
)

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def TS(seconds: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


def concat_joiner(l, r):
    """The reference test's ValueJoiner (LeftJoinOnTimeoutTest.java:205):
    ``lhs + "+" + rhs`` on match, ``lhs + "+"`` on timeout."""
    return F.when(r["v"].isNull(), F.concat(l["v"], F.lit("+"))) \
            .otherwise(F.concat(l["v"], F.lit("+"), r["v"]))


def run(spark, left_rows, right_rows, window, **kw):
    left = spark.createDataFrame(left_rows, SCHEMA)
    right = spark.createDataFrame(right_rows, SCHEMA)
    out = run_timeout_join_stream(
        spark, left, right, on="k", window=window,
        joiner=concat_joiner, **kw)
    return sorted((r.k, r.joined) for r in out.select("k", "joined").collect())


def test_should_join_left_with_right(spark):
    """Reference ``shouldJoinLeftWithRight`` (:79-95): lefts at ts=1 and
    ts=20, right at ts=1, window 100 s ⇒ exactly the two joined records,
    no timeout emission — and each pending left matched independently
    (the O12 multimap contract, reference test :85-91)."""
    got = run(spark,
              [(1, "left_1", TS(1)), (1, "left_2", TS(20))],
              [(1, "right", TS(1))],
              window="100 seconds")
    assert got == [(1, "left_1+right"), (1, "left_2+right")]


def test_should_left_join_on_timeout(spark):
    """Reference ``shouldLeftJoinOnTimeout`` (:117-129): left only,
    window 100 ms ⇒ exactly the null-joined record once the watermark
    (the reference's timer) passes."""
    got = run(spark, [(1, "left", TS(1))], [], window="100 ms")
    assert got == [(1, "left+")]


def test_mixed_match_and_timeout_across_keys(spark):
    """Two keys routed to different state partitions (O14): one matches,
    one times out — independent per-key outcomes in a single topology."""
    got = run(spark,
              [(1, "l1", TS(1)), (3, "l3", TS(2))],
              [(1, "r1", TS(1.05))],
              window="1 second")
    assert got == [(1, "l1+r1"), (3, "l3+")]


def test_out_of_window_right_still_times_out(spark):
    """A right outside the join window must not cancel the timeout:
    |Δts| > window ⇒ left emits the null-join."""
    got = run(spark,
              [(1, "left", TS(1))],
              [(1, "late_right", TS(500))],
              window="100 seconds")
    assert got == [(1, "left+")]


def test_timeout_only_stream(spark, tmp_path):
    """O6 streaming form: only the timeout emissions, original left
    columns and event timestamp preserved."""
    base = str(tmp_path)
    ldir, rdir, ckpt = (os.path.join(base, d) for d in ("l", "r", "ck"))
    lrows = [(1, "match_me", TS(1)), (2, "lonely", TS(2)),
             (-1, "flush", TS(10_000))]
    rrows = [(1, "right", TS(1)), (-2, "flush", TS(10_000))]
    spark.createDataFrame(lrows, SCHEMA).write.parquet(ldir)
    spark.createDataFrame(rrows, SCHEMA).write.parquet(rdir)
    out = timeout_only_stream(
        spark.readStream.schema(SCHEMA).parquet(ldir),
        spark.readStream.schema(SCHEMA).parquet(rdir),
        on="k", window="10 seconds")
    q = (out.writeStream.format("memory").queryName("toe_sink")
         .outputMode("append").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("toe_sink").where(F.col("k") >= 0).collect()
    assert [(r.k, r.v, r.ts) for r in rows] == [(2, "lonely", TS(2))]


def test_timeout_after_checkpoint_restart(spark, tmp_path):
    """O9/O10 — the Spark analog of reference
    ``shouldLeftJoinOnTimeoutAfterRestoration`` (:131-153): a pending
    left survives a stop/restart through the checkpoint, and the timeout
    fires after the restart with no loss and no duplication."""
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
            on="k", window="10 seconds", joiner=concat_joiner)
        # memory sink can't recover from a checkpoint; the durable file
        # sink is the honest analog of the reference's output topic
        return (out.writeStream.format("parquet").option("path", sink)
                .outputMode("append").option("checkpointLocation", ckpt)
                .start())

    # phase 1: two pending lefts (different keys), no rights yet
    write(ldir, [(1, "left_a", TS(1)), (2, "left_b", TS(2))])
    write(rdir, [(5, "unrelated", TS(1))])
    q = start_query()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(sink).where(F.col("k") >= 0).count() == 0

    # phase 2: restart from the checkpoint; advance the watermark
    write(ldir, [(-1, "flush", TS(10_000))])
    write(rdir, [(-2, "flush", TS(10_000))])
    q = start_query()
    q.processAllAvailable()
    q.stop()
    got = sorted((r.k, r.joined) for r in
                 spark.read.parquet(sink).where(F.col("k") >= 0).collect())
    assert got == [(1, "left_a+"), (2, "left_b+")]


@pytest.mark.parametrize("restart", ["writeStream", "builder"])
def test_restart_exactly_once_across_partitions(spark, tmp_path, restart):
    """Partition-handoff analog of reference
    ``LeftJoinOnTimeoutTest.java:155-177`` (``shouldLeftJoinOnTimeout
    AfterRebalancing``): Kafka Streams migrates state between consumers
    on rebalance; Structured Streaming's equivalent boundary is
    restoring every state partition from the checkpoint on restart —
    Spark pins ``spark.sql.shuffle.partitions`` for the life of a
    stateful query precisely so state never needs redistribution, and
    true executor-count rebalancing is a cluster-side reassignment of
    those fixed state partitions. So the honest single-process analog
    is: keys spread over *all* shuffle partitions, a restart mid-flight
    with pending state in every partition, then per-key exactly-once
    accounting — no partition may lose or duplicate an emission across
    the boundary (plus an idle third run: pure re-open, zero new
    emissions). Phase 1 always starts through raw ``writeStream`` at
    the session's width; with ``restart="builder"`` phase 2 restarts
    through ``LeftJoinOnTimeoutBuilder.start()``, which would start a new
    checkpoint narrower, and must keep the checkpoint's count."""
    n_keys, n_parts = 40, spark.conf.get("spark.sql.shuffle.partitions")
    base = str(tmp_path)
    ldir, rdir, ckpt, sink = (os.path.join(base, d)
                              for d in ("l", "r", "ck", "out"))
    os.makedirs(ldir); os.makedirs(rdir)

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    def start_query(via="writeStream"):
        lhs = spark.readStream.schema(SCHEMA).parquet(ldir)
        rhs = spark.readStream.schema(SCHEMA).parquet(rdir)
        if via == "builder":
            return (LeftJoinOnTimeoutBuilder(lhs, rhs, concat_joiner,
                                             "10 seconds", on="k")
                    .enable_state_log(ckpt)
                    .sink_to("parquet", path=sink).start())
        out = left_join_on_timeout_stream(
            lhs, rhs, on="k", window="10 seconds", joiner=concat_joiner)
        return (out.writeStream.format("parquet").option("path", sink)
                .outputMode("append").option("checkpointLocation", ckpt)
                .start())

    # every shuffle partition must hold pending state at the restart
    spread = spark.createDataFrame(
        [(k,) for k in range(n_keys)], "k BIGINT").selectExpr(
        f"count(distinct pmod(hash(k), {n_parts})) AS p").head().p
    assert spread == int(n_parts), "keys must cover every state partition"

    # phase 1: a pending left in every partition; even keys match
    # immediately, odd keys stay pending across the restart
    write(ldir, [(k, f"L{k}", TS(1 + k * 0.01)) for k in range(n_keys)])
    write(rdir, [(k, f"R{k}", TS(2)) for k in range(0, n_keys, 2)])
    q = start_query()
    q.processAllAvailable()
    q.stop()

    # phase 2: restart from the checkpoint; keys ≡ 1 (mod 4) get a
    # late-but-in-window match, the rest of the odd keys time out
    write(ldir, [(-1, "flushL", TS(10_000))])
    write(rdir, [(k, f"R{k}", TS(3)) for k in range(1, n_keys, 4)]
          + [(-2, "flushR", TS(10_000))])
    q = start_query(restart)
    try:
        q.processAllAvailable()
        # four join stores per state partition, as the checkpoint has it
        assert q.lastProgress["stateOperators"][0][
            "numStateStoreInstances"] == 4 * int(n_parts)
    finally:
        q.stop()

    rows = spark.read.parquet(sink).where(F.col("k") >= 0).collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r.k, []).append(r.joined)
    assert sorted(per_key) == list(range(n_keys))     # no key lost
    for k, emits in per_key.items():
        assert len(emits) == 1, f"key {k} emitted {emits}"  # no dupes
        expect = f"L{k}+R{k}" if k % 2 == 0 or k % 4 == 1 else f"L{k}+"
        assert emits == [expect]

    # phase 3: idle re-open — replaying the committed offsets must not
    # re-emit anything (state-partition stability across restarts)
    q = start_query()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(sink).where(F.col("k") >= 0).count() == n_keys


def test_stream_matches_batch(spark):
    """Streaming/batch equivalence on a randomized keyed workload: the
    streaming operator must produce exactly the batch operator's rows."""
    import random
    rnd = random.Random(7)
    lrows = [(rnd.randrange(20), f"L{i}", TS(rnd.randrange(3600)))
             for i in range(300)]
    rrows = [(rnd.randrange(20), f"R{i}", TS(rnd.randrange(3600)))
             for i in range(120)]
    left = spark.createDataFrame(lrows, SCHEMA)
    right = spark.createDataFrame(rrows, SCHEMA)

    batch = left_join_on_timeout(
        left, right, on="k", window="90 seconds", joiner=concat_joiner)
    expected = sorted((r.k, r.v, r.r_v, r.joined)
                      for r in batch.select("k", "v", "r_v", "joined").collect())

    streamed = run_timeout_join_stream(
        spark, left, right, on="k", window="90 seconds", joiner=concat_joiner)
    got = sorted((r.k, r.v, r.r_v, r.joined)
                 for r in streamed.select("k", "v", "r_v", "joined").collect())
    assert got == expected


def test_stream_invalid_timeout_rejected(spark):
    """O15 invariant holds on the streaming API too: timeout ≤ window is
    the reference's validateArguments failure."""
    left = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="must exceed"):
        left_join_on_timeout_stream(
            left, left, on="value", window="10 seconds",
            left_ts="timestamp", right_ts="timestamp", timeout="5 seconds")


def test_semi_anti_partition_left_stream(spark):
    """semi_join_stream + timeout_only_stream partition the left stream
    exactly: every left row appears in precisely one output (the
    reference's matched/timeout dichotomy, README.md:5-8)."""
    from left_join_on_timeout_spark.streaming.harness import drain_two_streams
    from left_join_on_timeout_spark.streaming.timeout_join import semi_join_stream

    left_rows = [(1, "a", TS(1)), (1, "b", TS(500)), (2, "c", TS(1)),
                 (3, "d", TS(10))]
    right_rows = [(1, "r1", TS(5)), (3, "r3", TS(400))]
    left = spark.createDataFrame(left_rows, SCHEMA)
    right = spark.createDataFrame(right_rows, SCHEMA)
    semi = drain_two_streams(
        spark, left, right, on="k",
        build=lambda ls, rs: semi_join_stream(ls, rs, on="k",
                                              window="100 seconds"))
    anti = drain_two_streams(
        spark, left, right, on="k",
        build=lambda ls, rs: timeout_only_stream(ls, rs, on="k",
                                                 window="100 seconds"))
    got_semi = sorted((r.k, r.v) for r in semi.collect())
    got_anti = sorted((r.k, r.v) for r in anti.collect())
    # a matched r1@5 (window 100s), c never matches, b@500 is out of
    # window for r1@5, d@10 is out of window for r3@400.
    assert got_semi == [(1, "a")]
    assert got_anti == [(1, "b"), (2, "c"), (3, "d")]
    assert sorted(got_semi + got_anti) == sorted((k, v) for k, v, _ in left_rows)
