"""Stream sinks (reference O8) and the JSON serialize side of O13.

The reference writes the joined stream to an output topic with key/value
serdes (``LeftJoinOnTimeoutBuilder.java:119``) and pushes timeout
emissions through a raw producer (``:165-170``). Spark's equivalents:

* ``encode_json_records`` — project any DataFrame to the Kafka record
  layout ``(key STRING, value STRING-JSON)`` with ``to_json`` — the twin
  of ``JsonSerializer.java:19-25``. Works identically on batch and
  streaming frames, so the same projection feeds a Kafka sink in
  production and a DuckDB oracle in tests.
* ``start_sink`` — one ``writeStream`` wrapper for the sink formats the
  engine supports (parquet/kafka for durability, memory for tests).
  Unlike the reference, where timeout emissions bypass the topology on a
  separate thread (unsynchronized ordering, SURVEY §3 EP2), all rows here
  leave through the one sink with exactly-once file/Kafka semantics from
  checkpointing (O9 — built-in).

Scale notes: sink parallelism = partitions of the final stage, which for
a join stream is its state partitions (``streaming.timeout_join.
state_partitions`` when the library starts it); parquet sinks write one
file per state partition per micro-batch (compact with
``spark.sql.streaming.fileSink.compactInterval`` or downstream OPTIMIZE);
Kafka sinks partition by record key — same key-routing as the reference's
producer (O14).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def encode_json_records(
    df: DataFrame,
    key_col: str | Column,
    value_cols: Sequence[str] | None = None,
    binary: bool = False,
) -> DataFrame:
    """Kafka record layout: ``key`` + JSON ``value`` (O13 serialize).

    ``value_cols`` defaults to every non-key column. Field order in the
    JSON follows ``value_cols`` (deterministic). Null fields are kept as
    JSON ``null`` (not dropped) so records stay schema-stable for
    downstream consumers. ``binary=True`` casts both to BINARY — the
    exact input type ``format("kafka")`` sinks require."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    if value_cols is None:
        key_name = key_col if isinstance(key_col, str) else None
        value_cols = [c for c in df.columns if c != key_name]
    value = F.to_json(F.struct(*[F.col(c) for c in value_cols]),
                      {"ignoreNullFields": "false"})
    out = df.select(key.cast("string").alias("key"), value.alias("value"))
    if binary:
        out = out.select(F.col("key").cast("binary").alias("key"),
                         F.col("value").cast("binary").alias("value"))
    return out


def start_sink(
    df: DataFrame,
    fmt: str = "parquet",
    path: str | None = None,
    checkpoint: str | None = None,
    query_name: str | None = None,
    output_mode: str = "append",
    brokers: str | None = None,
    topic: str | None = None,
    trigger_once: bool = False,
) -> StreamingQuery:
    """Start a streaming sink (O8). ``parquet``/``memory`` run anywhere;
    ``kafka`` additionally needs ``brokers``/``topic`` (and the connector
    jar — standard on real clusters). ``trigger_once`` drains all
    available input then stops — the bounded-replay mode the tests and
    backfills use."""
    writer = df.writeStream.format(fmt).outputMode(output_mode)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if query_name is not None:
        writer = writer.queryName(query_name)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    if fmt == "kafka":
        if not brokers or not topic:
            raise ValueError("kafka sink needs brokers and topic")
        writer = (writer.option("kafka.bootstrap.servers", brokers)
                  .option("topic", topic))
        return writer.start()
    if fmt == "memory":
        return writer.start()
    if path is None:
        raise ValueError(f"{fmt} sink needs a path")
    return writer.start(path)


def write_partitioned(
    df,
    path: str,
    partition_by: list[str],
    sort_within: list[str] | None = None,
    fmt: str = "parquet",
):
    """Hive-style partitioned write — the lake layout that turns a
    partition-column predicate into directory pruning (the scan never
    opens non-matching files; at 100 TB this is the difference between
    reading one day and reading three years).

    ``sort_within`` additionally sorts rows inside each output file so
    downstream range/as-of merges and parquet min-max row-group skipping
    work without a re-sort."""
    w = df
    if sort_within:
        w = df.sortWithinPartitions(*sort_within)
    writer = w.write.mode("overwrite").partitionBy(*partition_by)
    getattr(writer, fmt)(path)
    return path
