"""Exact-timer variant (SURVEY M3): unit tests of the pure semantics
core (reference mechanism O4/O5/O6/O11/O12) plus end-to-end
``applyInPandasWithState`` scenario runs, including the strict
cancel-all-per-key quirk (``ScheduledStateStore.java:95-106``)."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from left_join_on_timeout_spark.streaming import timer_core
from left_join_on_timeout_spark.streaming.timer_join import (
    left_join_on_timeout_timers,
    left_join_on_timeout_tws,
)

US = 1_000_000


# --- timer_core unit tests (no Spark) --------------------------------------

def test_core_schedule_and_match():
    """Two pending lefts each match one right independently (O12,
    reference LeftJoinOnTimeoutTest.java:85-91)."""
    rows = [(1 * US, "l1", "L"), (20 * US, "l2", "L"), (1 * US, "r", "R")]
    out, lefts, rights = timer_core.replay(
        [], [], sorted(rows, key=lambda r: (r[0], r[2])),
        window_us=100 * US, timeout_ms=100_100, strict=True,
        capacity=1000, capacity_policy="error")
    assert [(o[1], o[2]) for o in out] == [("l1", "r"), ("l2", "r")]
    assert all(not l[3] for l in lefts)  # all disarmed by the join


def test_core_timeout_fires_with_original_ts():
    """O6: a fired timer emits (left, null) with the left's event time."""
    out, lefts, _ = timer_core.replay(
        [], [], [(1 * US, "l", "L")], window_us=100_000,
        timeout_ms=200, strict=True, capacity=10, capacity_policy="error")
    assert out == [] and lefts[0][3] is True
    fired, kept = timer_core.fire_due(lefts, now_ms=10_000, window_us=100_000)
    assert fired == [(1 * US, "l", None)] and kept == []


def test_core_lazy_cancel_skips_fire():
    """O5 + removeOnCancelPolicy=false: a cancelled entry stays queued
    but must not emit at fire time."""
    _, lefts, _ = timer_core.replay(
        [], [], [(1 * US, "l", "L"), (2 * US, "r", "R")],
        window_us=100 * US, timeout_ms=200_000, strict=True,
        capacity=10, capacity_policy="error")
    fired, _ = timer_core.fire_due(lefts, now_ms=10**9, window_us=100 * US)
    assert fired == []


def test_core_strict_cancel_all_quirk():
    """The reference's cancel-all-per-key: a join output disarms even a
    pending left whose own window does NOT contain the right record —
    that left emits nothing (SURVEY §2.1 fine print 2)."""
    rows = [(1 * US, "L1", "L"), (50 * US, "L2", "L"), (120 * US, "R", "R")]
    _, lefts, _ = timer_core.replay(
        [], [], rows, window_us=100 * US, timeout_ms=100_100,
        strict=True, capacity=10, capacity_policy="error")
    assert all(not l[3] for l in lefts)
    fired, _ = timer_core.fire_due(lefts, now_ms=10**9, window_us=100 * US)
    assert fired == []


def test_core_sql_mode_cancels_only_matched():
    rows = [(1 * US, "L1", "L"), (50 * US, "L2", "L"), (120 * US, "R", "R")]
    _, lefts, _ = timer_core.replay(
        [], [], rows, window_us=100 * US, timeout_ms=100_100,
        strict=False, capacity=10, capacity_policy="error")
    armed = {l[1] for l in lefts if l[3]}
    assert armed == {"L1"}
    fired, _ = timer_core.fire_due(lefts, now_ms=10**9, window_us=100 * US)
    assert [(f[1], f[2]) for f in fired] == [("L1", None)]


def test_core_wallclock_late_right_after_fire_double_emits():
    """The reference's wall-clock race, deterministically: the timer
    clock (``now_ms``) and the event-time retention horizon are both
    injected, so we can fire a timeout while the left's *event* window
    is still open, then deliver a late in-window right. Strict mode
    double-emits — first ``(left, null)``, then ``(left, right)`` —
    because the join store retains the left independently of its timer
    (``ScheduledStateStoreTest.java:62-101``)."""
    _, lefts, rights = timer_core.replay(
        [], [], [(1 * US, "l", "L")], window_us=100 * US,
        timeout_ms=200, strict=True, capacity=10, capacity_policy="error")
    lefts[0][2] = 50_000 + 200  # wall-clock re-arm: arrival t0 + timeout
    fired, lefts = timer_core.fire_due(
        lefts, now_ms=50_300, window_us=100 * US,
        retention_horizon_us=1 * US)
    assert fired == [(1 * US, "l", None)]            # timeout emission
    assert lefts and lefts[0][3] is False            # retained, disarmed
    out, lefts, _ = timer_core.replay(
        lefts, rights, [(2 * US, "r", "R")], window_us=100 * US,
        timeout_ms=200, strict=True, capacity=10, capacity_policy="error")
    assert out == [(1 * US, "l", "r")]               # late join: 2nd emit
    # event-time mode has no such race: timeout > window (the config
    # invariant), so when the watermark reaches the deadline it has
    # passed the join window too — the default horizon (= the firing
    # watermark) evicts the fired left in the same call
    _, lefts2, _ = timer_core.replay(
        [], [], [(1 * US, "l", "L")], window_us=100 * US,
        timeout_ms=100_100, strict=True, capacity=10,
        capacity_policy="error")
    fired2, kept2 = timer_core.fire_due(
        lefts2, now_ms=101_100, window_us=100 * US)
    assert fired2 == [(1 * US, "l", None)] and kept2 == []


def test_core_gc_lefts_keeps_armed_and_recent():
    """gc_lefts bounds disarmed state between timer callbacks: armed
    lefts always stay; disarmed ones only while their window can still
    see a future right."""
    lefts = [[1 * US, "old_disarmed", 99, False],
             [1 * US, "old_armed", 10**12, True],
             [300 * US, "recent_disarmed", 99, False]]
    kept = timer_core.gc_lefts(lefts, watermark_ms=250_000,
                               window_us=100 * US)
    assert [l[1] for l in kept] == ["old_armed", "recent_disarmed"]


def test_core_capacity_error_and_drop():
    """O11: the reference blocks at capacity
    (BlockingScheduledExecutor.java:19-31); ours fails fast or sheds."""
    rows = [(i * US, f"l{i}", "L") for i in range(3)]
    with pytest.raises(timer_core.CapacityExceeded):
        timer_core.replay([], [], rows, window_us=US, timeout_ms=2000,
                          strict=True, capacity=2, capacity_policy="error")
    _, lefts, _ = timer_core.replay(
        [], [], rows, window_us=US, timeout_ms=2000,
        strict=True, capacity=2, capacity_policy="drop")
    assert [l[3] for l in lefts] == [True, True, False]
    # the dropped (never-armed) left still joins
    out, lefts, _ = timer_core.replay(
        lefts, [], [(2 * US + 1, "r", "R")], window_us=2 * US,
        timeout_ms=2000, strict=True, capacity=2, capacity_policy="drop")
    assert ("l2", "r") in {(o[1], o[2]) for o in out}


def test_core_stress_schedule_cancel_drains():
    """Analog of reference ``BlockingScheduledExecutorTest:115-135``
    (200-task schedule/cancel stress asserting ``size==0`` after the
    drain): 200 lefts, ~half matched by rights, then the clock passes
    every deadline and window — state must drain to empty, and every
    left must appear exactly once in (join outputs ∪ timeout firings),
    never both."""
    import random
    rnd = random.Random(13)
    rows = []
    for i in range(200):
        rows.append((i * US, f"l{i}", "L"))
        if rnd.random() < 0.5:
            rows.append((i * US + 1000, f"r{i}", "R"))
    rows.sort(key=lambda r: (r[0], r[2]))
    out, lefts, rights = timer_core.replay(
        [], [], rows, window_us=1000, timeout_ms=2_000, strict=False,
        capacity=10**6, capacity_policy="error")
    fired, lefts = timer_core.fire_due(lefts, now_ms=10**9, window_us=1000)
    rights = timer_core.gc_rights(rights, 10**9, 1000)
    lefts = timer_core.gc_lefts(lefts, 10**9, 1000)
    assert lefts == [] and rights == []          # the size==0 invariant
    joined_lefts = {o[1] for o in out}
    timed_out = {f[1] for f in fired}
    assert joined_lefts.isdisjoint(timed_out)
    assert joined_lefts | timed_out == {f"l{i}" for i in range(200)}


class _FakeGroupState:
    """Minimal GroupState double for driving _make_group_state_fn's
    wall-clock paths without a streaming query (deterministic clock)."""

    def __init__(self):
        self._tuple = None
        self.now_ms = 0
        self.wm = 0
        self.hasTimedOut = False
        self.timeout_duration = None
        self.timeout_ts = None

    @property
    def exists(self):
        return self._tuple is not None

    @property
    def get(self):
        return self._tuple

    def update(self, t):
        self._tuple = t

    def remove(self):
        self._tuple = None

    def getCurrentWatermarkMs(self):
        return self.wm

    def getCurrentProcessingTimeMs(self):
        return self.now_ms

    def setTimeoutDuration(self, d):
        self.timeout_duration = d

    def setTimeoutTimestamp(self, ts):
        self.timeout_ts = ts


def test_wallclock_disarmed_left_state_gc():
    """ADVICE r3: in wall-clock mode a fired (disarmed) left used to be
    retained forever — the event horizon is its own timestamp and no new
    timer was armed. Now the fire tick arms a GC tick and the next tick
    drops the left (one extra timeout period of joinability), removing
    the key's state entirely."""
    import pandas as pd
    from left_join_on_timeout_spark.streaming.timer_join import (
        _make_group_state_fn,
    )

    fn = _make_group_state_fn(
        window_us=1_000_000, timeout_ms=2_000, strict=False,
        capacity=10, capacity_policy="error", event_time=False)
    state = _FakeGroupState()
    key = (1,)

    # t=10s wall clock: one left arrives (event ts 1s) → timer armed
    state.now_ms = 10_000
    pdf = pd.DataFrame({
        "ts": pd.Series([pd.Timestamp("2024-01-01 00:00:01")],
                        dtype="datetime64[us]"),
        "payload": pd.Series(["{}"], dtype=object),
        "side": pd.Series(["L"], dtype=object),
    })
    list(fn(key, [pdf], state))
    assert state.exists and state.timeout_duration == 2_000

    # t=12s: deadline passed → timeout fires, left disarmed but retained
    # (joinable for late rights) and a GC tick is armed — the fix
    state.hasTimedOut = True
    state.now_ms = 12_000
    state.timeout_duration = None
    out = pd.concat(list(fn(key, [], state)))
    assert len(out) == 1 and out["r_payload"].iloc[0] is None
    assert state.exists, "fired left stays joinable one timeout period"
    assert state.timeout_duration == 2_000, "GC tick must be armed"

    # t=15s: GC tick fires past the retention bound → state removed,
    # no further timer
    state.now_ms = 15_000
    state.timeout_duration = None
    out = pd.concat(list(fn(key, [], state)))
    assert len(out) == 0
    assert not state.exists, "disarmed left must be GC'd"
    assert state.timeout_duration is None, "no timer may linger"


# --- end-to-end scenarios through applyInPandasWithState -------------------

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("v", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def TS(seconds: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


def concat_joiner(l, r):
    return F.when(r["v"].isNull(), F.concat(l["v"], F.lit("+"))) \
            .otherwise(F.concat(l["v"], F.lit("+"), r["v"]))


def run_timer(spark, base, lrows, rrows, window="100 seconds", **kw):
    ldir, rdir, ckpt = (os.path.join(base, d) for d in ("l", "r", "ck"))
    spark.createDataFrame(lrows + [(-1, "flushL", TS(100_000))], SCHEMA) \
        .coalesce(1).write.parquet(ldir)
    spark.createDataFrame(rrows + [(-2, "flushR", TS(100_000))], SCHEMA) \
        .coalesce(1).write.parquet(rdir)
    out = left_join_on_timeout_timers(
        spark.readStream.schema(SCHEMA).parquet(ldir),
        spark.readStream.schema(SCHEMA).parquet(rdir),
        on="k", window=window, joiner=concat_joiner, **kw)
    qn = "timer_" + uuid.uuid4().hex[:8]
    q = (out.writeStream.format("memory").queryName(qn)
         .outputMode("append").option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sorted((r.k, r.joined) for r in
                  spark.table(qn).where(F.col("k") >= 0)
                  .select("k", "joined").collect())


def test_timers_join_left_with_right(spark, tmp_path):
    """Reference shouldJoinLeftWithRight through the timer mechanism."""
    got = run_timer(spark, tmp_path,
                    [(1, "left_1", TS(1)), (1, "left_2", TS(20))],
                    [(1, "right", TS(1))])
    assert got == [(1, "left_1+right"), (1, "left_2+right")]


def test_timers_left_join_on_timeout(spark, tmp_path):
    """Reference shouldLeftJoinOnTimeout through the timer mechanism."""
    got = run_timer(spark, tmp_path, [(1, "left", TS(1))], [],
                    window="100 ms")
    assert got == [(1, "left+")]


def test_timers_strict_cancel_all_quirk(spark, tmp_path):
    """End-to-end quirk reproduction: R matches L2 only; strict mode
    cancels L1's timer too — L1 emits nothing at all."""
    got = run_timer(spark, tmp_path,
                    [(1, "L1", TS(1)), (1, "L2", TS(50))],
                    [(1, "R", TS(120))])
    assert got == [(1, "L2+R")]


def test_timers_sql_mode_times_out_unmatched(spark, tmp_path):
    got = run_timer(spark, tmp_path,
                    [(1, "L1", TS(1)), (1, "L2", TS(50))],
                    [(1, "R", TS(120))],
                    strict_reference_semantics=False)
    assert got == [(1, "L1+"), (1, "L2+R")]


def test_timers_capacity_drop_sheds_timeouts(spark, tmp_path):
    """O11 'drop' policy: the third pending left never times out (but
    still joined nothing here), the first two do."""
    got = run_timer(spark, tmp_path,
                    [(1, "a", TS(1)), (1, "b", TS(2)), (1, "c", TS(3))],
                    [], window="1 second",
                    scheduled_capacity=2, capacity_policy="drop")
    assert got == [(1, "a+"), (1, "b+")]


def test_tws_adapter_gated_without_protobuf(spark):
    """The transformWithStateInPandas tier needs protobuf; absent, the
    adapter must fail with a clear message pointing at the working
    adapter (and with it installed, it must build a plan — in both
    clock modes, now that wall-clock timers landed on this tier too)."""
    try:
        import google.protobuf  # noqa: F401
        have_protobuf = True
    except ImportError:
        have_protobuf = False
    left = spark.readStream.format("rate").load() \
        .withColumnRenamed("value", "k")
    if have_protobuf:
        for mode in ("EventTime", "ProcessingTime"):
            df = left_join_on_timeout_tws(
                left, left, on="k", window="10 seconds",
                left_ts="timestamp", right_ts="timestamp",
                time_mode=mode)
            assert df.isStreaming
    else:
        with pytest.raises(ImportError, match="protobuf"):
            left_join_on_timeout_tws(
                left, left, on="k", window="10 seconds",
                left_ts="timestamp", right_ts="timestamp")


def test_tws_join_and_timeout_e2e(spark):
    """Full ``transformWithStateInPandas`` run — RocksDB state store,
    ListState multimap, one *native* timer per scheduled left
    (registerTimer/handleExpiredTimer, the structural twin of the
    reference's per-record ``ScheduledFuture``s): one left matches
    in-window, the other's timer fires a timeout emission."""
    from left_join_on_timeout_spark.streaming.timer_join import (
        tws_available,
    )
    if not tws_available():
        pytest.skip("no google.protobuf for the tws worker protocol")
    from left_join_on_timeout_spark.streaming.harness import (
        run_tws_join_stream,
    )
    left = spark.createDataFrame(
        [(1, "left_a", TS(1)), (2, "left_b", TS(2))], SCHEMA)
    right = spark.createDataFrame([(1, "right_a", TS(3))], SCHEMA)
    out = run_tws_join_stream(
        spark, left, right, on="k", window="10 seconds",
        joiner=concat_joiner)
    got = sorted((r.k, r.joined) for r in
                 out.select("k", "joined").collect())
    assert got == [(1, "left_a+right_a"), (2, "left_b+")]


def test_tws_processing_time_mode(spark, tmp_path):
    """Wall-clock timers on the *tws* tier (VERDICT r3 item 4 — the
    reference's literal clock, ``ScheduledStateStore.java:45``, now on
    the structural-parity adapter too): ``registerTimer(now + delay)``
    in ProcessingTime mode fires on the processing clock, independent
    of event times. Like the GroupState twin, the query is driven by
    its trigger and the sink polled (the reference's Awaitility
    polling, ``LeftJoinOnTimeoutTest.java:221-235``)."""
    from left_join_on_timeout_spark.streaming.timer_join import (
        tws_available,
    )
    if not tws_available():
        pytest.skip("no google.protobuf for the tws worker protocol")
    import time

    base = str(tmp_path)
    ldir, rdir, ckpt = (os.path.join(base, d) for d in ("l", "r", "ck"))
    os.makedirs(ldir); os.makedirs(rdir)

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    write(ldir, [(1, "left_a", TS(1))])
    write(rdir, [(9, "unrelated", TS(1))])
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "state.RocksDBStateStoreProvider")
    out = left_join_on_timeout_tws(
        spark.readStream.schema(SCHEMA).parquet(ldir),
        spark.readStream.schema(SCHEMA).parquet(rdir),
        on="k", window="1 seconds", timeout="2 seconds",
        joiner=concat_joiner, time_mode="ProcessingTime",
        strict_reference_semantics=False)
    qn = "tws_proc_" + uuid.uuid4().hex[:8]
    q = (out.writeStream.format("memory").queryName(qn)
         .outputMode("append").trigger(processingTime="250 milliseconds")
         .option("checkpointLocation", ckpt).start())
    try:
        deadline = time.time() + 90
        got = []
        while time.time() < deadline and not got:
            time.sleep(1.0)
            got = [(r.k, r.joined) for r in
                   spark.table(qn).where(F.col("k") == 1).collect()]
        # the only k=1 output is the wall-clock timeout emission — had
        # the unrelated k=9 right joined it, `joined` would carry a
        # right payload
        assert got == [(1, "left_a+")]
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_tws_checkpoint_restart(spark, tmp_path):
    """O9/O10 for the tws tier: ListState and *native* registered timers
    must survive a stop/restart through the RocksDB checkpoint — the
    reference's ``shouldLeftJoinOnTimeoutAfterRestoration`` on the
    structurally-matching store. After restart one pending left matches,
    the other's native timer fires — each exactly once."""
    from left_join_on_timeout_spark.streaming.timer_join import (
        tws_available,
        left_join_on_timeout_tws,
    )
    if not tws_available():
        pytest.skip("no google.protobuf for the tws worker protocol")

    base = str(tmp_path)
    ldir, rdir, ckpt, sink = (os.path.join(base, d)
                              for d in ("l", "r", "ck", "out"))
    os.makedirs(ldir); os.makedirs(rdir)
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming."
                        "state.RocksDBStateStoreProvider")

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    def start_query():
        out = left_join_on_timeout_tws(
            spark.readStream.schema(SCHEMA).parquet(ldir),
            spark.readStream.schema(SCHEMA).parquet(rdir),
            on="k", window="10 seconds", joiner=concat_joiner,
            strict_reference_semantics=False)
        return (out.writeStream.format("parquet").option("path", sink)
                .outputMode("append").option("checkpointLocation", ckpt)
                .start())

    try:
        write(ldir, [(1, "left_a", TS(1)), (2, "left_b", TS(2))])
        write(rdir, [(5, "unrelated", TS(1))])
        q = start_query()
        q.processAllAvailable()
        q.stop()
        assert spark.read.parquet(sink).where(F.col("k") >= 0).count() == 0

        write(ldir, [(-1, "flushL", TS(100_000))])
        write(rdir, [(1, "right_a", TS(3)), (-2, "flushR", TS(100_000))])
        q = start_query()
        q.processAllAvailable()
        q.stop()
        got = sorted((r.k, r.joined) for r in
                     spark.read.parquet(sink).where(F.col("k") >= 0)
                     .collect())
        assert got == [(1, "left_a+right_a"), (2, "left_b+")]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_timers_checkpoint_restart(spark, tmp_path):
    """O9/O10 for the exact-timer tier: pending-left ListState and armed
    timers survive a stop/restart through the checkpoint (the reference's
    ``shouldLeftJoinOnTimeoutAfterRestoration``, LeftJoinOnTimeoutTest
    .java:131-153, where the state store is rebuilt from the changelog).
    After restart, one left matches and one times out — each exactly
    once."""
    base = str(tmp_path)
    ldir, rdir, ckpt, sink = (os.path.join(base, d)
                              for d in ("l", "r", "ck", "out"))
    os.makedirs(ldir); os.makedirs(rdir)

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    def start_query():
        out = left_join_on_timeout_timers(
            spark.readStream.schema(SCHEMA).parquet(ldir),
            spark.readStream.schema(SCHEMA).parquet(rdir),
            on="k", window="10 seconds", joiner=concat_joiner,
            strict_reference_semantics=False)
        return (out.writeStream.format("parquet").option("path", sink)
                .outputMode("append").option("checkpointLocation", ckpt)
                .start())

    # phase 1: two pending lefts, no rights — nothing may emit yet
    write(ldir, [(1, "left_a", TS(1)), (2, "left_b", TS(2))])
    write(rdir, [(5, "unrelated", TS(1))])
    q = start_query()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(sink).where(F.col("k") >= 0).count() == 0

    # phase 2: restart from the checkpoint; k=1 gets an in-window match,
    # then flush rows fire the remaining timer for k=2
    write(ldir, [(-1, "flushL", TS(100_000))])
    write(rdir, [(1, "right_a", TS(3)), (-2, "flushR", TS(100_000))])
    q = start_query()
    q.processAllAvailable()
    q.stop()
    got = sorted((r.k, r.joined) for r in
                 spark.read.parquet(sink).where(F.col("k") >= 0).collect())
    assert got == [(1, "left_a+right_a"), (2, "left_b+")]


def test_timers_processing_time_mode(spark, tmp_path):
    """The reference's literal wall-clock mode
    (``ScheduledStateStore.java:45``): timers fire on the processing
    clock, independent of event times. With ProcessingTimeTimeout the
    engine keeps scheduling no-data micro-batches
    (``FlatMapGroupsWithStateExec.shouldRunAnotherBatch`` is
    unconditionally true), so ``processAllAvailable`` would never
    return — the query is driven by its trigger and the sink polled,
    exactly the reference's Awaitility polling
    (``LeftJoinOnTimeoutTest.java:221-235``)."""
    import time

    base = str(tmp_path)
    ldir, rdir, ckpt = (os.path.join(base, d) for d in ("l", "r", "ck"))
    os.makedirs(ldir); os.makedirs(rdir)

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    write(ldir, [(1, "left_a", TS(1))])
    write(rdir, [(9, "unrelated", TS(1))])
    out = left_join_on_timeout_timers(
        spark.readStream.schema(SCHEMA).parquet(ldir),
        spark.readStream.schema(SCHEMA).parquet(rdir),
        on="k", window="1 seconds", timeout="2 seconds",
        joiner=concat_joiner, time_mode="ProcessingTime",
        strict_reference_semantics=False)
    qn = "timer_proc_" + uuid.uuid4().hex[:8]
    q = (out.writeStream.format("memory").queryName(qn)
         .outputMode("append").trigger(processingTime="250 milliseconds")
         .option("checkpointLocation", ckpt).start())
    try:
        deadline = time.time() + 90
        got = []
        while time.time() < deadline and not got:
            time.sleep(1.0)
            got = [(r.k, r.joined) for r in
                   spark.table(qn).where(F.col("k") == 1).collect()]
        # the only k=1 output is the wall-clock timeout emission — had
        # the unrelated k=9 right joined it, `joined` would carry a
        # right payload
        assert got == [(1, "left_a+")]
    finally:
        q.stop()
