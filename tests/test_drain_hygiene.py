"""Bounded drains leave no temp tree behind: the staged inputs and the
checkpoint of every ``streaming.harness`` drain are deleted when the
query stops, output read after the call lives under the process scratch
root, and every result still collects after the delete."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

from pyspark.sql import functions as F

from left_join_on_timeout_spark.streaming.harness import (
    drain_stream,
    run_timeout_join_stream,
    scratch_dir,
)

SCHEMA = "k long, v string, ts timestamp"


def TS(seconds: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


def test_drains_remove_their_temp_trees(spark, tmp_path, monkeypatch):
    # a private temp dir, so a concurrent process's ljot_* entries
    # cannot show up here
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    left = spark.createDataFrame(
        [(1, "a", TS(0)), (2, "b", TS(0))], SCHEMA)
    right = spark.createDataFrame([(1, "x", TS(1))], SCHEMA)

    joined = run_timeout_join_stream(spark, left, right, on="k",
                                     window="10 seconds")
    single = drain_stream(spark, left, lambda s: s.where(F.col("k") > 1))
    out = scratch_dir("ljot_out_")
    assert drain_stream(
        spark, left, foreach_batch=lambda df, _: df.write.mode("append")
        .parquet(out)) is None

    left_behind = [n for n in os.listdir(tmp_path) if n.startswith("ljot_")]
    assert left_behind == [], f"drains left {left_behind} behind"
    assert os.path.dirname(out) == os.path.join(
        str(tmp_path), f"spark_graft_scratch_{os.getpid()}")
    assert sorted((r.k, r.r_v) for r in joined.collect()) == \
        [(1, "x"), (2, None)]
    assert [r.v for r in single.collect()] == ["b"]
    assert sorted(r.v for r in spark.read.parquet(out).collect()) == \
        ["a", "b"]


def test_builder_default_checkpoint_lives_under_scratch_root(
        spark, tmp_path, monkeypatch):
    """A builder started without ``enable_state_log`` checkpoints under
    the process scratch root, not in a bare ``ljot_ck_*`` temp dir."""
    from left_join_on_timeout_spark.builder import LeftJoinOnTimeoutBuilder

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src = os.path.join(str(tmp_path), "in")
    spark.createDataFrame([(1, "a", TS(0))], SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (LeftJoinOnTimeoutBuilder(stream, stream, None, "1 second", on="k")
         .sink_to("memory", query_name="hygiene_builder_sink").start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    left_behind = [n for n in os.listdir(tmp_path) if n.startswith("ljot_")]
    assert left_behind == [], f"builder left {left_behind} behind"
    root = os.path.join(str(tmp_path), f"spark_graft_scratch_{os.getpid()}")
    assert [n for n in os.listdir(root) if n.startswith("ljot_ck_")]
