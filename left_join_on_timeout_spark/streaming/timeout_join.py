"""Streaming LEFT JOIN ON TIMEOUT (SURVEY M2) — the reference's core
semantics as a watermarked stream-stream left-outer join.

Reference (``/root/reference/README.md:5-8``,
``LeftJoinOnTimeoutBuilder.java:95-122``): join two keyed, timestamped
streams; emit ``joiner(l, r)`` for every in-window match, and emit
``joiner(l, null)`` for a left record *only if* no match arrived within
the join window — the null row carries the original left event timestamp
(``LeftJoinOnTimeoutBuilder.java:164-166``).

Structured Streaming gives exactly this as a built-in: a stream-stream
``leftOuter`` join with watermarks on both sides and a time-range
condition emits the null-padded row when the watermark passes
``left.ts + window`` ([SIGMOD 2018 Structured Streaming paper,
stream-stream joins] — see ``/root/repo/PAPERS.md``). The reference's
wall-clock timer (``ScheduledStateStore.java:56-85``) becomes the
event-time watermark; its 100 ms "timeout gap" over the window
(``LeftJoinOnTimeoutBuilder.java:24,59``) becomes the watermark delay —
how long we wait for stragglers before declaring a timeout.

Deliberate divergences from the reference, recorded in SURVEY §2.1 fine
print (2) and (3): the reference's per-key cancel-all and wall-clock
timers can suppress or double-emit under race; the watermark design is
deterministic and emits exactly one of ``(l, r)`` / ``(l, null)`` per
left record per matching right. ``streaming.timer_join`` reproduces the
wall-clock mode where literal parity is wanted.

Scale notes (100 TB): the join is a ``StreamingSymmetricHashJoinExec``
shuffled on the key — state is per shuffle-partition, watermark-evicted
(retention bounded by ``window + delay``), RocksDB-backed with changelog
checkpointing on a real cluster. Nothing here collects to the driver,
and the joiner is a Column expression (whole-stage codegen).

State width: each state partition of the join holds four state-store
instances (``keyToNumValues`` and ``keyWithIndexToValue`` per side), and
every micro-batch loads, copies and commits each one — a delta file, a
checksum sidecar and a rename. Queries the library starts therefore run
a join at :func:`state_partitions` (one store instance per core) instead
of the session's shuffle width. Spark copies the count into the
checkpoint at batch 0, so a restarted query keeps the count it started
with.
"""

from __future__ import annotations

import threading
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from left_join_on_timeout_spark.config import TimeoutJoinConfig
from left_join_on_timeout_spark.operators.timeout_join import Joiner, prepare


# stateful operators whose per-batch work is Python per group, one task
# per state partition: they keep the session's width, since fewer
# partitions would serialize that Python work rather than store commits
_PYTHON_STATEFUL = ("FlatMapGroupsInPandasWithState",
                    "TransformWithStateInPySpark")
_START_LOCK = threading.Lock()


def state_partitions(df: DataFrame) -> int | None:
    """The state partition count to start ``df`` at: one state-store
    instance per core (``defaultParallelism // 4`` partitions of four
    join stores, at least 1) when the analyzed plan holds a stream-stream
    join and no Python stateful operator; None otherwise, and the
    caller's width stands."""
    if not df.isStreaming:
        return None
    todo, stream_join = [df._jdf.queryExecution().analyzed()], False
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name in _PYTHON_STATEFUL:
            return None
        stream_join = stream_join or (
            name == "Join" and node.left().isStreaming()
            and node.right().isStreaming())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    if not stream_join:
        return None
    return max(1, df.sparkSession.sparkContext.defaultParallelism // 4)


@contextmanager
def start_conf(spark: SparkSession, conf: dict[str, str]):
    """Set ``conf`` on the session for one query's ``start()`` and
    restore the previous values (unset keys are unset again) after it.
    A query copies the session conf when it starts, so nothing later in
    its life reads these values from the session. Start sites share one
    lock, so two threads starting queries on one session never see each
    other's values."""
    with _START_LOCK:
        prev = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _delay_str(ms: int) -> str:
    return f"{ms / 1000.0} seconds"


def left_join_on_timeout_stream(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    timeout: str | int | None = None,
    joiner: Joiner | None = None,
    joined_col: str = "joined",
    right_prefix: str = "r_",
    how: str = "leftOuter",
) -> DataFrame:
    """Streaming LEFT JOIN ON TIMEOUT over two streaming DataFrames
    (``how="fullOuter"`` gives the symmetric variant: unmatched rights
    also emit, null-padded on the left, when the watermark passes their
    window end).

    ``timeout`` is the reference's ``leftJoinTimeoutInMs`` — must exceed
    ``window``; defaults to ``window + 100 ms``
    (``LeftJoinOnTimeoutBuilder.java:24,59``). The excess over the window
    is used as the watermark delay on both sides: a right record later
    than that is treated as absent (timeout fires), exactly like a timer
    that already fired in the reference.

    Returns an append-mode streaming DataFrame: matched rows immediately,
    ``(left, null…)`` rows when the watermark passes
    ``left.ts + window``. The left event-time column passes through
    untouched (reference ``LeftJoinOnTimeoutBuilder.java:166``).
    """
    cfg = TimeoutJoinConfig.of(window, timeout)
    delay_ms = cfg.timeout_ms - cfg.window_ms  # > 0 by O15 invariant
    l = left.withWatermark(left_ts, _delay_str(delay_ms))
    # rename-before-join keeps self-carved streams unambiguous (same
    # trick as the batch operator) and lets us watermark the renamed col
    r, cond, l_side, r_side = prepare(
        l, right, on, left_ts, right_ts, cfg.window_ms, right_prefix)
    r = r.withWatermark(f"{right_prefix}{right_ts}", _delay_str(delay_ms))
    out = l.join(r, cond, how)
    if joiner is not None:
        out = out.withColumn(joined_col, joiner(l_side, r_side))
    return out


def timeout_only_stream(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    timeout: str | int | None = None,
    right_prefix: str = "r_",
) -> DataFrame:
    """Only the timeout emissions (O6), streaming form.

    Stream-stream LEFT ANTI joins are not supported by Structured
    Streaming, so this is the outer join filtered to null-padded rows —
    state cost is identical; the filter drops matched rows before the
    sink."""
    keys = [on] if isinstance(on, str) else list(on)
    out = left_join_on_timeout_stream(
        left, right, on, window, left_ts, right_ts, timeout,
        joiner=None, right_prefix=right_prefix)
    null_cond = F.col(f"{right_prefix}{keys[0]}").isNull()
    return out.where(null_cond).select(*[F.col(c) for c in left.columns])


def semi_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str],
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    timeout: str | int | None = None,
    right_prefix: str = "r_",
) -> DataFrame:
    """The matched-only complement of :func:`timeout_only_stream`: left
    rows that found at least one in-window right, emitted once each.

    Structured Streaming supports stream-stream ``leftSemi`` natively,
    so this is a real semi join — right state is dropped at the
    watermark and matched lefts are never buffered past their first
    match. Together with ``timeout_only_stream`` this partitions the
    left stream exactly: every left row appears in precisely one of the
    two outputs (the reference's matched/timeout dichotomy,
    ``README.md:5-8``)."""
    cfg = TimeoutJoinConfig.of(window, timeout)
    delay_ms = cfg.timeout_ms - cfg.window_ms
    l = left.withWatermark(left_ts, _delay_str(delay_ms))
    r, cond, _, _ = prepare(
        l, right, on, left_ts, right_ts, cfg.window_ms, right_prefix)
    r = r.withWatermark(f"{right_prefix}{right_ts}", _delay_str(delay_ms))
    return l.join(r, cond, "leftSemi")
