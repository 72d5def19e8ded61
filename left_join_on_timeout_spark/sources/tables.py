"""Parquet table sources (reference O1 — stream/topic scan → our scan).

The reference consumes partitioned Kafka topics (``LeftJoinOnTimeoutTest.java:38-46``);
the harness analog is the driver's parquet star schema under
``/root/testdata/sf*/`` (TESTDATA.md). Plain ``spark.read.parquet`` so
Catalyst gets predicate pushdown + column pruning on every scan.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark's vectorized reader
    rejects them (PARQUET_TYPE_ILLEGAL). One driver-side footer read; O(1)
    regardless of data size. Accepts a single file or a Spark-style
    directory dataset (first part file's footer — Spark writes one
    schema per dataset)."""
    # deferred: only a footer read needs pyarrow, not the package import
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        path = parts[0]
    schema = pq.read_schema(path)
    ns = {f.name for f in schema
          if pa.types.is_timestamp(f.type) and f.type.unit == "ns"}
    if not ns:
        return []
    # pyarrow reports INT96 timestamps (Spark's default parquet output)
    # as timestamp[ns] too, but Spark reads INT96 natively — applying the
    # nanosAsLong + div-1000 path to them would crash on our own sinks'
    # round-trips. Only true INT64 TIMESTAMP(NANOS) columns qualify.
    phys = pq.read_metadata(path).schema
    int96 = {phys.column(i).name for i in range(len(phys))
             if phys.column(i).physical_type == "INT96"}
    return sorted(ns - int96)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Parquet TIMESTAMP(isAdjustedToUTC=false) would otherwise infer as
    # TIMESTAMP_NTZ (Spark ≥3.4), which breaks watermarks
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), unix_micros, and µs-precision
    # JSON roundtrips. Reading it as LTZ keeps the stored micros verbatim
    # (the type tag changes, never the value) and matches DuckDB's naive
    # reading of the same file under a UTC session.
    #
    # Both confs are save/restored around the read (ADVICE r3): parquet
    # schema inference is eager at ``spark.read.parquet`` — the resolved
    # relation keeps its schema after the conf flips back (verified
    # empirically: count() + type stable post-restore) — so unrelated
    # reads on the same shared session see the session's own settings.
    _scoped = {"spark.sql.parquet.inferTimestampNTZ.enabled": "false"}
    ns_cols = _nanos_ts_columns(path)
    if ns_cols:
        # Read NANOS as raw int64 then truncate to micros (integer div —
        # a double intermediate would lose precision above 2^53 ns)
        # exactly like DuckDB's ns→µs cast, so oracle comparisons agree.
        _scoped["spark.sql.legacy.parquet.nanosAsLong"] = "true"
    prev = {}
    for k, v in _scoped.items():
        prev[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(path)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def events_split(spark: SparkSession,
                 sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Flagship fixture (FIXTURES.md F6): views = left stream, purchases =
    right stream, keyed by user_id with event-time ts."""
    events = load_table(spark, sf_dir, "events")
    left = events.where(F.col("event_type") == "view").select(
        "user_id", "event_id", "ts")
    right = events.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts")
    return left, right


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API) and return them."""
    dfs = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
