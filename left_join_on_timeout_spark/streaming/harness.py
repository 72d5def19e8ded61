"""Run streaming operators to completion over bounded inputs.

The driver's correctness gate compares batch DataFrames, and the reference
tests assert on fully-drained topologies — this harness gives both: feed
bounded inputs through the *real* streaming operator (file source →
stateful plan → sink), drain it deterministically, and hand back the
result as a batch DataFrame.

Every drain goes through one primitive, :func:`drain_stream`: stage each
batch input as parquet under one per-drain tree, hand the ``readStream``
DataFrames to the caller's ``build``, run the sink (the memory sink, or
the caller's ``foreachBatch`` function), ``processAllAvailable``, stop
the query. **Cleanup rule:** the per-drain tree (staged inputs and
checkpoint) is deleted as soon as the query stops. Memory-sink results
live in driver memory and stay readable; output a ``foreachBatch``
function writes for lazy reading after the call belongs in a
:func:`scratch_dir`, under a PID-keyed root removed at interpreter exit.

**State width:** every stateful micro-batch costs one task per state
partition per stateful operator, and a vanilla session's 200 partitions
turn a 60k-row drain into thousands of near-empty state-store tasks.
A memory-sink drain therefore starts a stream-stream join at
``timeout_join.state_partitions`` (one state-store instance per core)
and any other plan at ``min(session, 16)``; a ``foreachBatch`` drain
keeps the session's width, because its batch work runs at the stream's
width. The count is set only around ``start()`` (the query copies it,
and its checkpoint pins it), so the session value is back before the
drain runs. On a real cluster the session default stands for every
other query — this is drain sizing, not an engine default.

Flush rows (:func:`with_flush_row`, one per input) carry a far-future
timestamp and a marker key (negative ids — real keys in the test tables
are ≥ 0 — or a tag); they advance the watermark so every pending left
either matched or timed out and every window closed, then are filtered
from the result. This mirrors the reference tests' Awaitility
polling (``LeftJoinOnTimeoutTest.java:221-235``) — wait-until-drained —
without wall-clock races.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from left_join_on_timeout_spark import fsio
from left_join_on_timeout_spark.operators.timeout_join import Joiner
from left_join_on_timeout_spark.streaming.timeout_join import (
    left_join_on_timeout_stream,
    start_conf,
    state_partitions,
)
from left_join_on_timeout_spark.streaming.timer_join import (
    left_join_on_timeout_timers,
    left_join_on_timeout_tws,
)

FLUSH_TS = "2100-01-01 00:00:00"


def scratch_dir(prefix: str) -> str:
    """A fresh local directory for output read lazily after the call that
    wrote it returns (``foreachBatch`` sinks, staged reads). It lives
    under this process's scratch root, removed at interpreter exit."""
    root = fsio.process_dir("spark_graft_scratch", tempfile.gettempdir())
    os.makedirs(root, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def with_flush_row(df: DataFrame, keys: dict | None = None,
                   ts_col: str = "ts") -> DataFrame:
    """``df`` plus one sentinel row, present regardless of input contents
    (an empty input still must advance its watermark): the far-future
    event time in ``ts_col``, the marker value ``keys[c]`` in each key
    column ``c`` (a negative id, or a tag the caller filters on), nulls
    everywhere else."""
    keys = keys or {}
    cols = [
        F.lit(FLUSH_TS).cast("timestamp").alias(ts_col)
        if f.name == ts_col else
        F.lit(keys.get(f.name)).cast(f.dataType).alias(f.name)
        for f in df.schema.fields
    ]
    return df.unionAll(df.sparkSession.range(1).select(*cols))


def drain_stream(spark: SparkSession,
                 inputs: DataFrame | tuple[DataFrame, ...],
                 build=None,
                 foreach_batch=None,
                 conf: dict[str, str] | None = None) -> DataFrame | None:
    """Feed bounded *batch* DataFrames through a streaming transform and
    drain it.

    ``inputs`` is one DataFrame or a tuple of them. Each is staged
    through parquet (so event-time columns survive) and re-read with
    ``readStream``; ``build(*streams)`` returns the streaming output
    (default: the single stream unchanged). ``processAllAvailable`` plus
    Spark's no-data micro-batches drain watermark-gated emissions, so
    append-mode joins and aggregations finalize without wall-clock
    waits.

    Without ``foreach_batch`` the output goes to the memory sink, started
    at the state width in the module docstring, and the sink is returned
    as a batch DataFrame. With it, ``foreach_batch(batch_df, epoch_id)``
    is the sink, the session's partitioning stands, and None is
    returned. ``conf`` is extra session conf for the query's start (a
    state-store provider, say). Either way the staged inputs and the
    checkpoint are deleted once the query stops."""
    inputs = inputs if isinstance(inputs, tuple) else (inputs,)
    base = tempfile.mkdtemp(prefix="ljot_drain_")
    try:
        streams = []
        for i, df in enumerate(inputs):
            src = os.path.join(base, f"in{i}")
            df.write.mode("overwrite").parquet(src)
            streams.append(spark.readStream.schema(df.schema).parquet(src))
        out = build(*streams) if build is not None else streams[0]
        writer = out.writeStream.option(
            "checkpointLocation", os.path.join(base, "ck"))
        conf = dict(conf or {})
        if foreach_batch is not None:
            writer = writer.foreachBatch(foreach_batch)
        else:
            qname = "ljot_sink_" + uuid.uuid4().hex[:12]
            writer = (writer.format("memory").queryName(qname)
                      .outputMode("append"))
            width = state_partitions(out) or min(
                int(spark.conf.get("spark.sql.shuffle.partitions")), 16)
            conf["spark.sql.shuffle.partitions"] = str(width)
        with start_conf(spark, conf):
            q = writer.start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        fsio.delete(spark, base)
    return None if foreach_batch is not None else spark.table(qname)


def drain_two_streams(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    on: str,
    build,
    left_ts: str = "ts",
    right_ts: str = "ts",
    conf: dict[str, str] | None = None,
) -> DataFrame:
    """Two-input :func:`drain_stream` with a flush row on each side
    (keys -1 and -2): ``build(lstream, rstream)`` is drained and
    returned with flush keys filtered out."""
    return drain_stream(
        spark, (with_flush_row(left, {on: -1}, left_ts),
                with_flush_row(right, {on: -2}, right_ts)),
        build, conf=conf).where(F.col(on) >= 0)


def run_timeout_join_stream(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    on: str,
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    timeout: str | int | None = None,
    joiner: Joiner | None = None,
    joined_col: str = "joined",
    right_prefix: str = "r_",
    how: str = "leftOuter",
) -> DataFrame:
    """Feed two *batch* DataFrames through the streaming operator and
    return the drained sink as a batch DataFrame (flush rows removed).

    The inputs are staged as parquet and re-read with ``readStream`` so
    the plan under test is the real ``StreamingSymmetricHashJoinExec``
    with watermark state eviction, not a batch rewrite."""
    out = drain_stream(
        spark, (with_flush_row(left, {on: -1}, left_ts),
                with_flush_row(right, {on: -2}, right_ts)),
        lambda l, r: left_join_on_timeout_stream(
            l, r, on=on, window=window, left_ts=left_ts,
            right_ts=right_ts, timeout=timeout, joiner=joiner,
            joined_col=joined_col, right_prefix=right_prefix, how=how))
    # drop flush sentinels: left-side key >= 0 keeps every left-join
    # row; under fullOuter, right-only rows have a null left key, so
    # judge them by the (renamed) right key instead
    keep = F.coalesce(F.col(on), F.col(f"{right_prefix}{on}")) >= 0 \
        if how == "fullOuter" else F.col(on) >= 0
    return out.where(keep)


def run_tws_join_stream(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    on: str,
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    joiner: Joiner | None = None,
) -> DataFrame:
    """Drain the ``transformWithStateInPandas`` tier over bounded inputs.

    tws requires a state store with column families, so the query starts
    under ``RocksDBStateStoreProvider`` (bundled rocksdbjni); the
    session's provider conf is restored once it has started. Same
    SQL-equivalent mode and flush discipline as
    :func:`run_timer_join_stream`."""
    return drain_two_streams(
        spark, left, right, on,
        lambda l, r: left_join_on_timeout_tws(
            l, r, on=on, window=window, left_ts=left_ts,
            right_ts=right_ts, joiner=joiner,
            strict_reference_semantics=False),
        left_ts=left_ts, right_ts=right_ts,
        conf={"spark.sql.streaming.stateStore.providerClass":
              "org.apache.spark.sql.execution.streaming."
              "state.RocksDBStateStoreProvider"})


def run_timer_join_stream(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    on: str,
    window: str | int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    joiner: Joiner | None = None,
) -> DataFrame:
    """Drain the exact-timer tier (``streaming.timer_join``) over bounded
    inputs — same flush-row discipline as :func:`run_timeout_join_stream`.
    Runs with ``strict_reference_semantics=False`` (cancel only the
    matched left), the SQL-equivalent mode whose drained output is the
    batch left join's multiset."""
    return drain_two_streams(
        spark, left, right, on,
        lambda l, r: left_join_on_timeout_timers(
            l, r, on=on, window=window, left_ts=left_ts,
            right_ts=right_ts, joiner=joiner,
            strict_reference_semantics=False),
        left_ts=left_ts, right_ts=right_ts)
