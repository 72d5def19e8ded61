"""State width of the queries the library starts: a stream-stream join
runs one state-store instance per core (four join stores per state
partition, ``defaultParallelism // 4`` partitions); plans with a Python
stateful operator, and every non-join drain, keep their width."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from left_join_on_timeout_spark.builder import LeftJoinOnTimeoutBuilder
from left_join_on_timeout_spark.streaming.harness import (
    run_timeout_join_stream,
    run_timer_join_stream,
)
from left_join_on_timeout_spark.streaming.timeout_join import (
    left_join_on_timeout_stream,
    state_partitions,
)
from left_join_on_timeout_spark.streaming.timer_join import (
    left_join_on_timeout_timers,
)

SCHEMA = "k long, v string, ts timestamp"
SHUFFLE = "spark.sql.shuffle.partitions"


def TS(seconds: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


def _instances(progress: dict) -> int:
    return progress["stateOperators"][0]["numStateStoreInstances"]


def _join_instances(spark) -> int:
    return 4 * max(1, spark.sparkContext.defaultParallelism // 4)


class _LastStateful(StreamingQueryListener):
    """Keeps the last progress that reports a stateful operator."""

    last: dict | None = None

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        progress = json.loads(event.progress.json)
        if progress["stateOperators"]:
            self.last = progress

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _drained_progress(spark, drain) -> dict:
    """Run ``drain()`` and return its last stateful progress."""
    listener = _LastStateful()
    spark.streams.addListener(listener)
    try:
        drain()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.last is not None
    return listener.last


def _inputs(spark):
    left = spark.createDataFrame(
        [(k, f"l{k}", TS(k)) for k in range(8)], SCHEMA)
    right = spark.createDataFrame(
        [(k, f"r{k}", TS(k)) for k in range(0, 8, 2)], SCHEMA)
    return left, right


def _streams(spark, tmp_path):
    src = os.path.join(str(tmp_path), "in")
    spark.createDataFrame([(1, "a", TS(0))], SCHEMA).write.parquet(src)
    return (spark.readStream.schema(SCHEMA).parquet(src),
            spark.readStream.schema(SCHEMA).parquet(src))


def test_join_streams_start_one_store_per_core(spark, tmp_path):
    width = spark.conf.get(SHUFFLE)
    l, r = _streams(spark, tmp_path)
    q = (LeftJoinOnTimeoutBuilder(l, r, None, "1 second", on="k")
         .sink_to("memory", query_name="state_width_builder").start())
    try:
        q.processAllAvailable()
        assert _instances(q.lastProgress) == _join_instances(spark)
    finally:
        q.stop()

    left, right = _inputs(spark)
    progress = _drained_progress(spark, lambda: run_timeout_join_stream(
        spark, left, right, on="k", window="1 second").collect())
    assert _instances(progress) == _join_instances(spark)
    assert spark.conf.get(SHUFFLE) == width      # restored after start


def test_python_stateful_drain_keeps_session_width(spark):
    width = spark.conf.get(SHUFFLE)
    left, right = _inputs(spark)
    progress = _drained_progress(spark, lambda: run_timer_join_stream(
        spark, left, right, on="k", window="1 second").collect())
    assert _instances(progress) == min(int(width), 16)
    assert spark.conf.get(SHUFFLE) == width


def test_state_partitions_plan_check(spark, tmp_path):
    l, r = _streams(spark, tmp_path)
    left, right = _inputs(spark)
    join = left_join_on_timeout_stream(l, r, on="k", window="1 second")
    assert state_partitions(join) == max(
        1, spark.sparkContext.defaultParallelism // 4)
    # a static join, a stream-static join and a stateless stream
    assert state_partitions(left.join(right, "k")) is None
    assert state_partitions(l.join(right, "k")) is None
    assert state_partitions(l.where(F.col("k") > 0)) is None
    # FlatMapGroupsInPandasWithState, alone and above a stream-stream join
    timers = left_join_on_timeout_timers(l, r, on="k", window="1 second")
    assert state_partitions(timers) is None
    above = join.groupBy("k").applyInPandasWithState(
        lambda key, pdfs, state: iter(()), "k long", "n long", "Append",
        "NoTimeout")
    assert state_partitions(above) is None
