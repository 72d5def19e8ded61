"""Exact-timer parity variant (SURVEY M3) — the reference's mechanism
reproduced literally with explicit per-key state + timers.

Where ``streaming.timeout_join`` maps the reference's *semantics* onto
the built-in watermarked stream-stream join, this module reproduces its
*mechanism* (``ScheduledStateStore.java``): a per-key multimap of
pending lefts, per-record timers armed at ``ts + timeout``, join outputs
cancelling timers — including the strict cancel-all-per-key quirk — and
fired timers emitting ``joiner(left, null)`` with the original left
event timestamp. The record-level semantics live in
``streaming.timer_core`` (pure Python, unit-tested); this module is the
Spark plumbing.

Two adapters over the same core:

* :func:`left_join_on_timeout_timers` — ``applyInPandasWithState``
  (GroupState + one re-armed timeout per key). Runs on any PySpark ≥ 3.4
  with Arrow only; the default engine here.
* :class:`TimeoutJoinProcessor` / :func:`left_join_on_timeout_tws` —
  ``transformWithStateInPandas`` (PySpark 4.x ``StatefulProcessor`` with
  ListState + native multi-timer support), the closest structural match
  to the reference's store. Its Python state-server protocol needs
  ``google.protobuf`` at runtime; ``tws_runtime.ensure_protobuf``
  bridges in a public host copy when the pip package is absent (see
  that module), so the tier runs end-to-end here — under
  ``RocksDBStateStoreProvider``, which tws requires for column
  families (``harness.run_tws_join_stream`` sets it around its
  ``drain_stream`` call).

Mechanism parity map (reference file:line):

* O4 schedule — ``ScheduleProcessor.java:23-25`` →
  ``ScheduledStateStore.java:56-85`` → ``timer_core.replay`` (side "L")
* O5 cancel — ``CancelProcessor.java:23-25`` →
  ``ScheduledStateStore.java:87-115`` → ``timer_core._cancel``
  (``strict_reference_semantics`` = the cancel-all-per-key quirk,
  ``ScheduledStateStore.java:95-106``)
* O6 timeout-emit — ``LeftJoinOnTimeoutBuilder.java:158-172`` →
  ``timer_core.fire_due`` (original left event timestamp preserved)
* O11 capacity — ``BlockingScheduledExecutor.java:19-31`` blocks the
  stream thread; blocking a Spark task is an anti-pattern, so policy is
  ``"error"`` (fail fast — honest backpressure) or ``"drop"``
* O12 multimap — ``MultiMapUtils.java:15-35`` → the per-key state lists
* O13 serde — payloads cross the processor as JSON
  (``JsonSerializer.java`` / ``JsonGenericDeserializer.java``)

``time_mode="EventTime"`` (default) puts deadlines on the event clock —
deterministic, testable with scripted watermarks. ``"ProcessingTime"``
reproduces the reference's wall-clock timers
(``ScheduledStateStore.java:45``) with their arrival-order races.

Scale: state is per shuffle-partition and checkpointed; the per-key
Python work is O(pending) with Arrow-batched transfer. The watermark
design (zero Python) remains the right default at 100 TB; this tier
exists for mechanism parity and genuinely wall-clock timeouts.
"""

from __future__ import annotations

import json
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from left_join_on_timeout_spark.config import TimeoutJoinConfig
from left_join_on_timeout_spark.operators.timeout_join import Side
from left_join_on_timeout_spark.streaming import timer_core, tws_runtime

try:
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )
except ImportError:  # very old PySpark — adapter simply absent
    StatefulProcessor = object  # type: ignore[assignment,misc]

# Module-level so Python *workers* (which import this module while
# unpickling TimeoutJoinProcessor) get google.protobuf on their import
# path before the state-server client's first lazy *_pb2 import.
_TWS_READY = tws_runtime.ensure_protobuf()

_OUT_FIELDS = [
    StructField("ts", TimestampType()),
    StructField("l_payload", StringType()),
    StructField("r_payload", StringType()),
]


# JSON serde keeps full microsecond event time: the default
# timestampFormat truncates to milliseconds, silently shifting timeout
# rows' ts (the reference propagates the original timestamp exactly,
# LeftJoinOnTimeoutBuilder.java:166)
_TS_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def _tag(left: DataFrame, right: DataFrame, on: str,
         left_ts: str, right_ts: str, delay_ms: int) -> DataFrame:
    """Union the two streams into (k, ts, payload, side) with a shared
    watermark — payloads are JSON (O13) so the processor is
    schema-generic like the reference's serde-parameterized store."""
    l_tagged = left.select(
        F.col(on).alias("k"), F.col(left_ts).alias("ts"),
        F.to_json(F.struct(*left.columns), _TS_OPTS).alias("payload"),
        F.lit("L").alias("side"))
    r_tagged = right.select(
        F.col(on).alias("k"), F.col(right_ts).alias("ts"),
        F.to_json(F.struct(*right.columns), _TS_OPTS).alias("payload"),
        F.lit("R").alias("side"))
    return l_tagged.unionByName(r_tagged) \
        .withWatermark("ts", f"{delay_ms / 1000.0} seconds")


def _rows_from_batch(pdf: pd.DataFrame):
    """(ts_us, payload, side) in deterministic replay order: event time,
    lefts before rights on ties. (The reference replays in wall-clock
    arrival order — nondeterministic by construction.)"""
    ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
    rows = sorted(zip(ts_us, pdf["payload"], pdf["side"]),
                  key=lambda r: (r[0], r[2]))
    return rows


def _out_pdf(key, rows) -> pd.DataFrame:
    # explicit dtypes: an empty batch would otherwise produce float64
    # columns, which Arrow refuses to cast to timestamp (tws path)
    return pd.DataFrame({
        "k": pd.Series([key[0]] * len(rows)),
        "ts": pd.Series([pd.Timestamp(ts_us, unit="us")
                         for ts_us, _, _ in rows], dtype="datetime64[us]"),
        "l_payload": pd.Series([l for _, l, _ in rows], dtype=object),
        "r_payload": pd.Series([r for _, _, r in rows], dtype=object),
    })


def _expand(raw: DataFrame, left: DataFrame, right: DataFrame,
            joiner, joined_col: str, right_prefix: str) -> DataFrame:
    """JSON payloads → typed columns: left columns verbatim, right
    columns under ``{right_prefix}``, optional joiner column."""
    l_struct = F.from_json("l_payload", StructType(left.schema.fields),
                           _TS_OPTS)
    r_struct = F.from_json("r_payload", StructType(right.schema.fields),
                           _TS_OPTS)
    out = raw.select(
        *[l_struct[c].alias(c) for c in left.columns],
        *[r_struct[c].alias(f"{right_prefix}{c}") for c in right.columns])
    if joiner is not None:
        l_side = Side({c: c for c in left.columns})
        r_side = Side({c: f"{right_prefix}{c}" for c in right.columns})
        out = out.withColumn(joined_col, joiner(l_side, r_side))
    return out


def _validated(window, timeout, scheduled_capacity, capacity_policy,
               time_mode) -> tuple[TimeoutJoinConfig, int]:
    cfg = TimeoutJoinConfig.of(
        window, timeout,
        scheduled_capacity=scheduled_capacity
        if scheduled_capacity is not None
        else TimeoutJoinConfig.of(window).scheduled_capacity)
    if capacity_policy not in ("error", "drop"):
        raise ValueError(f"unknown capacity_policy: {capacity_policy!r}")
    if time_mode not in ("EventTime", "ProcessingTime"):
        raise ValueError(f"unknown time_mode: {time_mode!r}")
    return cfg, cfg.timeout_ms - cfg.window_ms


# ---------------------------------------------------------------------------
# Adapter 1: applyInPandasWithState (GroupState) — runs everywhere
# ---------------------------------------------------------------------------

_STATE_SCHEMA = "lefts STRING, rights STRING"  # JSON-encoded lists (O13)


def _make_group_state_fn(window_us: int, timeout_ms: int, strict: bool,
                         capacity: int, capacity_policy: str,
                         event_time: bool):
    def fn(key, pdfs, state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            lefts, rights = (json.loads(s) for s in state.get)
            now = (state.getCurrentWatermarkMs() if event_time
                   else state.getCurrentProcessingTimeMs())
            # wall-clock mode: retention runs on the *event* clock (the
            # key's high-water), so a just-fired left stays joinable for
            # late rights — the reference's double-emission race
            horizon = None
            if not event_time:
                horizon = max(
                    [l[0] for l in lefts] + [r[0] for r in rights],
                    default=0)
            fired, lefts = timer_core.fire_due(
                lefts, now, window_us, retention_horizon_us=horizon)
            if not event_time:
                # processing-time retention bound (ADVICE r3): with no
                # further input the event horizon never advances, so a
                # disarmed left would linger in the store forever. Keep
                # it joinable for one extra timeout period of wall
                # clock (the double-emission window), then drop it.
                lefts = [l for l in lefts
                         if l[3] or now <= l[2] + timeout_ms]
            rights = timer_core.gc_rights(
                rights, state.getCurrentWatermarkMs(), window_us)
            _save(state, lefts, rights, event_time)
            yield _out_pdf(key, fired)
            return
        lefts, rights = ((json.loads(s) for s in state.get)
                         if state.exists else ([], []))
        rows = []
        for pdf in pdfs:
            rows.extend(_rows_from_batch(pdf))
        rows.sort(key=lambda r: (r[0], r[2]))
        n_before = len(lefts)
        joined, lefts, rights = timer_core.replay(
            lefts, rights, rows, window_us, timeout_ms, strict,
            capacity, capacity_policy)
        if not event_time:
            # wall-clock mode: deadlines run from *arrival* time, like
            # the reference's ScheduledThreadPoolExecutor delays
            now = state.getCurrentProcessingTimeMs()
            for l in lefts[n_before:]:
                l[2] = now + timeout_ms
        # right-side GC horizon: the watermark in event-time mode; in
        # wall-clock mode there is no watermark (it reads 0), so use the
        # batch's event-time high-water instead — the analog of the
        # reference's stream-time windowed store retention
        gc_wm = state.getCurrentWatermarkMs()
        if not event_time and rows:
            gc_wm = max(r[0] for r in rows) // 1000
        rights = timer_core.gc_rights(rights, gc_wm, window_us)
        lefts = timer_core.gc_lefts(lefts, gc_wm, window_us)
        _save(state, lefts, rights, event_time)
        yield _out_pdf(key, joined)

    def _save(state, lefts, rights, event_time: bool) -> None:
        if not lefts and not rights:
            if state.exists:
                state.remove()
            return
        state.update((json.dumps(lefts), json.dumps(rights)))
        deadline = timer_core.next_deadline(lefts)
        if deadline is None and rights and event_time:
            # nothing armed: schedule a GC tick after the rights' window.
            # Event-time mode only — this deadline is on the event clock,
            # and comparing it against wall-clock now would arm an
            # immediately-due timer that spins forever; in wall-clock
            # mode rights are GC'd on data batches instead.
            deadline = max(r[0] for r in rights) // 1000 + timeout_ms
        if deadline is not None:
            if event_time:
                state.setTimeoutTimestamp(
                    max(deadline, state.getCurrentWatermarkMs() + 1))
            else:
                # ProcessingTimeTimeout GroupState takes a *duration*
                # from now, not an absolute timestamp
                now = state.getCurrentProcessingTimeMs()
                state.setTimeoutDuration(max(deadline - now, 1))
        elif not event_time and any(not l[3] for l in lefts):
            # wall-clock GC tick (ADVICE r3): only disarmed lefts
            # remain and nothing will arm a new timer — schedule one
            # so the retention bound above eventually clears the state
            state.setTimeoutDuration(timeout_ms)

    return fn


def left_join_on_timeout_timers(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    timeout: str | int | None = None,
    joiner=None,
    joined_col: str = "joined",
    right_prefix: str = "r_",
    time_mode: str = "EventTime",
    strict_reference_semantics: bool = True,
    scheduled_capacity: int | None = None,
    capacity_policy: str = "error",
) -> DataFrame:
    """LEFT JOIN ON TIMEOUT via explicit per-key timer state
    (``applyInPandasWithState``) — the reference's exact mechanism.

    Output column layout matches the other tiers: all left columns,
    right columns under ``{right_prefix}`` (null on timeout), plus
    ``joined_col`` when a joiner is given."""
    cfg, delay_ms = _validated(window, timeout, scheduled_capacity,
                               capacity_policy, time_mode)
    event_time = time_mode == "EventTime"
    unioned = _tag(left, right, on, left_ts, right_ts, delay_ms)
    out_schema = StructType(
        [StructField("k", left.schema[on].dataType)] + _OUT_FIELDS)
    fn = _make_group_state_fn(
        cfg.window_ms * 1000, cfg.timeout_ms, strict_reference_semantics,
        cfg.scheduled_capacity, capacity_policy, event_time)
    raw = unioned.groupBy("k").applyInPandasWithState(
        fn, out_schema, _STATE_SCHEMA, "append",
        GroupStateTimeout.EventTimeTimeout if event_time
        else GroupStateTimeout.ProcessingTimeTimeout)
    return _expand(raw, left, right, joiner, joined_col, right_prefix)


# ---------------------------------------------------------------------------
# Adapter 2: transformWithStateInPandas (StatefulProcessor) — PySpark 4.x
# native tier; its worker protocol needs `protobuf` at runtime
# ---------------------------------------------------------------------------

def tws_available() -> bool:
    return _TWS_READY or tws_runtime.ensure_protobuf()


class TimeoutJoinProcessor(StatefulProcessor):
    """``StatefulProcessor`` twin of the reference's
    ``ScheduledStateStore``: ListState multimap + one native timer per
    scheduled left (multi-timer, like the reference's per-record
    ``ScheduledFuture``s), lazily cancelled."""

    def __init__(self, window_ms: int, timeout_ms: int, strict: bool,
                 capacity: int, capacity_policy: str,
                 event_time: bool = True):
        self.window_us = window_ms * 1000
        self.timeout_ms = timeout_ms
        self.strict = strict
        self.capacity = capacity
        self.capacity_policy = capacity_policy
        self.event_time = event_time

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self.handle = handle
        self.lefts = handle.getListState(
            "lefts", "ts_us BIGINT, payload STRING, deadline_ms BIGINT, "
                     "armed BOOLEAN")
        self.rights = handle.getListState(
            "rights", "ts_us BIGINT, payload STRING")

    def close(self) -> None:
        pass

    def _load(self):
        return ([list(r) for r in self.lefts.get()],
                [list(r) for r in self.rights.get()])

    def _store(self, lefts, rights) -> None:
        self.lefts.clear()
        if lefts:
            self.lefts.put([tuple(l) for l in lefts])
        self.rights.clear()
        if rights:
            self.rights.put([tuple(r) for r in rights])

    def handleInputRows(self, key, rows, timerValues: "TimerValues"
                        ) -> Iterator[pd.DataFrame]:
        lefts, rights = self._load()
        batch_rows = []
        for pdf in rows:
            batch_rows.extend(_rows_from_batch(pdf))
        batch_rows.sort(key=lambda r: (r[0], r[2]))
        n_before = len(lefts)
        joined, lefts, rights = timer_core.replay(
            lefts, rights, batch_rows, self.window_us, self.timeout_ms,
            self.strict, self.capacity, self.capacity_policy)
        if not self.event_time:
            # wall-clock mode: deadlines run from *arrival* time, like
            # the reference's ScheduledThreadPoolExecutor delays
            # (ScheduledStateStore.java:45, 69-82)
            now = timerValues.getCurrentProcessingTimeInMs()
            for l in lefts[n_before:]:
                l[2] = now + self.timeout_ms
        for l in lefts[n_before:]:
            if l[3]:
                self.handle.registerTimer(l[2])  # per-record timer (O4)
        wm = timerValues.getCurrentWatermarkInMs()
        if not self.event_time and batch_rows:
            # no watermark on the wall clock — GC on the batch's
            # event-time high-water, the stream-time retention analog
            wm = max(r[0] for r in batch_rows) // 1000
        lefts = [l for l in lefts
                 if l[3] or l[0] + self.window_us >= wm * 1000]
        rights = timer_core.gc_rights(rights, wm, self.window_us)
        self._store(lefts, rights)
        yield _out_pdf(key, joined)

    def handleExpiredTimer(self, key, timerValues: "TimerValues",
                           expiredTimerInfo: "ExpiredTimerInfo"
                           ) -> Iterator[pd.DataFrame]:
        lefts, rights = self._load()
        now_ms = expiredTimerInfo.getExpiryTimeInMs()
        horizon = None
        if not self.event_time:
            # fired lefts stay joinable within the key's event-time
            # high-water — the reference's double-emission race window
            horizon = max(
                [l[0] for l in lefts] + [r[0] for r in rights],
                default=0)
        fired, lefts = timer_core.fire_due(
            lefts, now_ms, self.window_us, retention_horizon_us=horizon)
        if not self.event_time:
            # processing-time retention bound (ADVICE r3): drop disarmed
            # lefts one timeout period of wall clock after their fire,
            # and tick again if any remain so state never lingers
            lefts = [l for l in lefts
                     if l[3] or now_ms <= l[2] + self.timeout_ms]
            if any(not l[3] for l in lefts) and \
                    timer_core.next_deadline(lefts) is None:
                self.handle.registerTimer(now_ms + self.timeout_ms)
        self._store(lefts, rights)
        yield _out_pdf(key, fired)


def left_join_on_timeout_tws(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    timeout: str | int | None = None,
    joiner=None,
    joined_col: str = "joined",
    right_prefix: str = "r_",
    time_mode: str = "EventTime",
    strict_reference_semantics: bool = True,
    scheduled_capacity: int | None = None,
    capacity_policy: str = "error",
) -> DataFrame:
    """The ``transformWithStateInPandas`` build of the exact-timer join —
    structurally closest to the reference (ListState + native per-record
    timers). Requires ``protobuf`` in the Python environment."""
    if not tws_available():
        raise ImportError(
            "transformWithStateInPandas needs `google.protobuf` for its "
            "Python worker protocol; neither the pip package nor a host "
            "copy (tws_runtime.PROTOBUF_HOST_ROOTS) was found. Use "
            "left_join_on_timeout_timers (applyInPandasWithState) — same "
            "semantics, same timer_core.")
    cfg, delay_ms = _validated(window, timeout, scheduled_capacity,
                               capacity_policy, time_mode)
    unioned = _tag(left, right, on, left_ts, right_ts, delay_ms)
    out_schema = StructType(
        [StructField("k", left.schema[on].dataType)] + _OUT_FIELDS)
    proc = TimeoutJoinProcessor(
        cfg.window_ms, cfg.timeout_ms, strict_reference_semantics,
        cfg.scheduled_capacity, capacity_policy,
        event_time=time_mode == "EventTime")
    raw = unioned.groupBy("k").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=out_schema,
        outputMode="Append",
        timeMode=time_mode)
    return _expand(raw, left, right, joiner, joined_col, right_prefix)
