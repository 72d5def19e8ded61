"""Streaming CDC apply: a change stream maintains a parquet snapshot via
per-micro-batch versioned MERGE (``streaming.cdc``).

Covers the three contract points:
- within-batch compaction (latest change per key wins, D/U tie → U),
- seq-versioned MERGE (older changes cannot regress the snapshot, so
  batch replay is idempotent),
- multi-batch convergence through the real ``foreachBatch`` path.
"""

from __future__ import annotations

import os

from pyspark.sql import types as T

from left_join_on_timeout_spark.streaming.cdc import (
    apply_cdc_stream, compact_batch, merge_cdc_batch)

CHANGE_SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("seq", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("v", T.StringType()),
])


def snapshot_df(spark, rows):
    return spark.createDataFrame(
        rows, "k long, v string, seq long")


def read_snapshot(spark, path):
    return sorted(
        (r.k, r.v, r.seq)
        for r in spark.read.parquet(path).collect())


def test_compact_batch_latest_per_key(spark):
    batch = spark.createDataFrame(
        [(1, 10, "U", "a"), (1, 12, "U", "b"), (1, 11, "D", None),
         (2, 5, "D", None), (2, 5, "U", "tie")],
        CHANGE_SCHEMA)
    got = {r.k: (r.seq, r.op, r.v)
           for r in compact_batch(batch, "k", "seq").collect()}
    assert got[1] == (12, "U", "b")
    # same-seq D/U tie resolves to U ('U' > 'D' in the struct order)
    assert got[2] == (5, "U", "tie")


def test_merge_cdc_batch_versioned(spark):
    target = snapshot_df(spark, [(1, "old", 10), (2, "keep", 20),
                                 (3, "doomed", 5)])
    batch = spark.createDataFrame(
        [(1, 11, "U", "new"),      # newer upsert → applies
         (2, 15, "U", "stale"),    # older than stored seq 20 → ignored
         (3, 6, "D", None),        # newer delete → row removed
         (4, 1, "U", "ins"),       # unseen key upsert → insert
         (5, 9, "D", None)],       # delete of unseen key → no-op
        CHANGE_SCHEMA)
    out = merge_cdc_batch(target, batch, on="k", seq_col="seq")
    assert sorted((r.k, r.v, r.seq) for r in out.collect()) == [
        (1, "new", 11), (2, "keep", 20), (4, "ins", 1)]
    # replaying the same batch against the merged snapshot is a no-op
    again = merge_cdc_batch(out, batch, on="k", seq_col="seq")
    assert sorted((r.k, r.v, r.seq) for r in again.collect()) == \
        sorted((r.k, r.v, r.seq) for r in out.collect())


def test_apply_cdc_stream_end_to_end(spark, tmp_path):
    base = str(tmp_path)
    src = os.path.join(base, "changes")
    ckpt = os.path.join(base, "ck")
    target = os.path.join(base, "snapshot")
    os.makedirs(src)

    snapshot_df(spark, [(1, "init1", 0), (2, "init2", 0)]) \
        .coalesce(1).write.parquet(target)

    def write(rows):
        spark.createDataFrame(rows, CHANGE_SCHEMA).coalesce(1) \
            .write.mode("append").parquet(src)

    write([(1, 1, "U", "v1a"), (3, 1, "U", "v3a")])
    q = apply_cdc_stream(
        spark.readStream.schema(CHANGE_SCHEMA).parquet(src),
        target_path=target, on="k", seq_col="seq", checkpoint=ckpt)
    try:
        q.processAllAvailable()
        assert read_snapshot(spark, target) == [
            (1, "v1a", 1), (2, "init2", 0), (3, "v3a", 1)]

        # batch 2: delete key 2, update key 3, stale update of key 1
        write([(2, 2, "D", None), (3, 2, "U", "v3b"), (1, 0, "U", "old")])
        q.processAllAvailable()
        assert read_snapshot(spark, target) == [
            (1, "v1a", 1), (3, "v3b", 2)]
    finally:
        q.stop()
