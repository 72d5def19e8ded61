"""Fluent builder mirroring the reference's public API surface
(``LeftJoinOnTimeoutBuilder.java:46-122``), so code written against the
reference ports shape-for-shape:

reference                      | here
------------------------------ | ----------------------------------------
``new LeftJoinOnTimeoutBuilder(builder, lhs, rhs, joiner, D, R)`` | ``LeftJoinOnTimeoutBuilder(lhs, rhs, joiner, window=D)``
``.sinkTo(topic, producer)``    | ``.sink_to(fmt, path=…, topic=…)``
``.serdes(k, lv, rv, jv)``      | ``.serdes(lhs_schema=…, rhs_schema=…)`` (JSON decode boundary)
``.timeout(T)``                 | ``.timeout(T)``
``.scheduledCapacity(n)``       | ``.scheduled_capacity(n)``
``.enableStateLog(kCls, vCls)`` | ``.enable_state_log(checkpoint_dir)``
``.buildTopology()``            | ``.build_topology() -> DataFrame``
``KafkaStreams.start()``        | ``.start() -> StreamingQuery``

Differences are deliberate Spark-native mappings: serdes become optional
``from_json`` schemas (types otherwise live in the DataFrame schema);
the changelog topic becomes the checkpoint directory (Spark's state
changelog); window *retention* is subsumed by the watermark delay
(timeout − window), which bounds state exactly like ``until(R)``.
``build_topology`` returns a lazily-planned DataFrame — the Catalyst
analog of the processor-DAG topology — and works for both batch and
streaming inputs (``df.isStreaming`` picks the operator tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from left_join_on_timeout_spark.config import (
    DEFAULT_SCHEDULED_CAPACITY,
    TimeoutJoinConfig,
)
from left_join_on_timeout_spark.operators.timeout_join import (
    Joiner,
    left_join_on_timeout,
)
from left_join_on_timeout_spark.sinks import encode_json_records, start_sink
from left_join_on_timeout_spark.streaming.harness import scratch_dir
from left_join_on_timeout_spark.streaming.timeout_join import (
    left_join_on_timeout_stream,
    start_conf,
    state_partitions,
)


class LeftJoinOnTimeoutBuilder:
    """Assemble a LEFT JOIN ON TIMEOUT topology fluently.

    Required: the two keyed inputs, the join window, and (for
    ``start()``) a sink. Everything else has the reference's defaults —
    timeout = window + 100 ms, capacity 1000
    (``LeftJoinOnTimeoutBuilder.java:24-25``)."""

    def __init__(self, lhs: DataFrame, rhs: DataFrame,
                 joiner: Joiner | None, window: str | int,
                 on: str = "key", lhs_ts: str = "ts", rhs_ts: str = "ts"):
        if lhs is None or rhs is None:
            raise ValueError("lhs and rhs streams are required")
        self._lhs, self._rhs, self._joiner = lhs, rhs, joiner
        self._window = window
        self._on, self._lhs_ts, self._rhs_ts = on, lhs_ts, rhs_ts
        self._timeout: str | int | None = None
        self._capacity = DEFAULT_SCHEDULED_CAPACITY
        self._sink_fmt: str | None = None
        self._sink_kwargs: dict = {}
        self._checkpoint: str | None = None
        self._lhs_schema = self._rhs_schema = None
        self._json_sink = False

    def sink_to(self, fmt: str, *, path: str | None = None,
                topic: str | None = None, brokers: str | None = None,
                query_name: str | None = None,
                json_records: bool = False) -> "LeftJoinOnTimeoutBuilder":
        """Where the joined stream goes (reference ``sinkTo``). With
        ``json_records`` the output is encoded to the (key, JSON value)
        Kafka record layout first — the raw-producer path of the
        reference's timeout task (``LeftJoinOnTimeoutBuilder.java:165-170``)."""
        self._sink_fmt = fmt
        self._sink_kwargs = dict(path=path, topic=topic, brokers=brokers,
                                 query_name=query_name)
        self._json_sink = json_records
        return self

    def serdes(self, lhs_schema=None, rhs_schema=None) -> "LeftJoinOnTimeoutBuilder":
        """Optional JSON decode boundary (reference serdes, O13): when a
        schema is given, that side's ``value`` column is parsed from JSON
        before the join."""
        self._lhs_schema, self._rhs_schema = lhs_schema, rhs_schema
        return self

    def timeout(self, timeout: str | int) -> "LeftJoinOnTimeoutBuilder":
        self._timeout = timeout
        return self

    def scheduled_capacity(self, n: int) -> "LeftJoinOnTimeoutBuilder":
        self._capacity = n
        return self

    def enable_state_log(self, checkpoint_dir: str) -> "LeftJoinOnTimeoutBuilder":
        """Durable state (reference changelog → Spark checkpoint). Without
        it, ``start()`` uses a checkpoint under the process scratch root,
        removed at interpreter exit — running but not restart-durable,
        like the reference with logging disabled
        (``LeftJoinOnTimeoutTest.java:97-115``)."""
        self._checkpoint = checkpoint_dir
        return self

    def _decoded(self, df: DataFrame, schema) -> DataFrame:
        if schema is None:
            return df
        return df.withColumn("value", F.from_json(F.col("value"), schema))

    def build_topology(self) -> DataFrame:
        """Validate (reference ``validateArguments``) and return the
        lazily-planned joined DataFrame."""
        # raises on timeout <= window / bad capacity — the O15 invariants
        TimeoutJoinConfig.of(self._window, self._timeout, self._capacity)
        lhs = self._decoded(self._lhs, self._lhs_schema)
        rhs = self._decoded(self._rhs, self._rhs_schema)
        if lhs.isStreaming:
            return left_join_on_timeout_stream(
                lhs, rhs, on=self._on, window=self._window,
                left_ts=self._lhs_ts, right_ts=self._rhs_ts,
                timeout=self._timeout, joiner=self._joiner)
        # batch: the bounded input is fully known, so the timeout (a
        # streaming liveness knob) does not change the result set
        return left_join_on_timeout(
            lhs, rhs, on=self._on, window=self._window,
            left_ts=self._lhs_ts, right_ts=self._rhs_ts,
            joiner=self._joiner)

    def start(self) -> StreamingQuery:
        """Build and start the streaming topology into the configured
        sink (reference ``KafkaStreams.start()``). A new checkpoint
        starts at ``state_partitions`` (one state-store instance per
        core); a restart keeps the count its checkpoint holds."""
        if self._sink_fmt is None:
            raise ValueError("sink_to(...) is required before start()")
        out = self.build_topology()
        if not out.isStreaming:
            raise ValueError("start() needs streaming inputs; "
                             "batch topologies are plain DataFrames")
        if self._json_sink:
            out = encode_json_records(out, key_col=self._on,
                                      binary=self._sink_fmt == "kafka")
        ckpt = self._checkpoint or scratch_dir("ljot_ck_")
        width = state_partitions(out)
        conf = {} if width is None else {
            "spark.sql.shuffle.partitions": str(width)}
        with start_conf(out.sparkSession, conf):
            return start_sink(out, fmt=self._sink_fmt, checkpoint=ckpt,
                              **self._sink_kwargs)
