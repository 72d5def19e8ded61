"""Streaming checkpoint writes: the engine's session commits checkpoints
through Hadoop's ``FileSystem`` API (``session.CHECKPOINT_FILE_MANAGER``),
and a checkpoint written under Spark's default ``FileContext`` manager
restarts under it, and the other way round, with per-key exactly-once
output and the same files on disk.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os

from pyspark.sql import functions as F

from left_join_on_timeout_spark.session import CHECKPOINT_FILE_MANAGER
from left_join_on_timeout_spark.streaming.timeout_join import (
    left_join_on_timeout_stream,
)

KEY = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                        "checkpointing.FileContextBasedCheckpointFileManager")
MANAGERS = {"filecontext": FILE_CONTEXT_MANAGER,
            "filesystem": CHECKPOINT_FILE_MANAGER}
SCHEMA = "k BIGINT, v STRING, ts TIMESTAMP"
# eight keys that hash to all four of the test session's state partitions
KEYS = range(8, 16)


def TS(seconds: float) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=seconds)


def _manager_class(spark, path: str) -> str:
    """The class Spark's own factory picks for a checkpoint at ``path``
    under the session's current conf."""
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = (jvm.org.apache.spark.sql.execution.streaming.checkpointing
               .CheckpointFileManager.create(
                   jvm.org.apache.hadoop.fs.Path(path), hadoop_conf))
    return manager.getClass().getName()


@contextlib.contextmanager
def _manager(spark, name: str):
    """Run the block with the session's checkpoint manager set to
    ``name`` ("filecontext": the key unset, Spark's default), then
    restore the session's own setting."""
    if name == "filecontext":
        spark.conf.unset(KEY)
    try:
        yield
    finally:
        spark.conf.set(KEY, CHECKPOINT_FILE_MANAGER)


def test_session_writes_checkpoints_through_filesystem(spark, tmp_path):
    """The key is Spark-internal: an upgrade that drops or renames it (or
    the class) must fail here rather than silently fall back to the
    forking ``FileContext`` rename."""
    assert _manager_class(spark, str(tmp_path)) == CHECKPOINT_FILE_MANAGER


def _checkpoint_files(ckpt: str) -> set[str]:
    return {os.path.relpath(os.path.join(root, f), ckpt)
            for root, _, files in os.walk(ckpt) for f in files}


def _run_across_managers(spark, base: str, first: str, second: str):
    """Phase 1 under ``first``, a restart on the same checkpoint under
    ``second``. Returns (phase-1 checkpoint files, per-key output)."""
    ldir, rdir, ckpt, sink = (os.path.join(base, d)
                              for d in ("l", "r", "ck", "out"))

    def write(d, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
            .write.mode("append").parquet(d)

    def run(manager):
        with _manager(spark, manager):
            assert _manager_class(spark, ckpt) == MANAGERS[manager]
            out = left_join_on_timeout_stream(
                spark.readStream.schema(SCHEMA).parquet(ldir),
                spark.readStream.schema(SCHEMA).parquet(rdir),
                on="k", window="10 seconds",
                joiner=lambda l, r: F.concat_ws("+", l["v"], r["v"]))
            q = (out.writeStream.format("parquet").option("path", sink)
                 .outputMode("append").option("checkpointLocation", ckpt)
                 .start())
            try:
                q.processAllAvailable()
            finally:
                q.stop()

    # phase 1: even keys match at once, odd keys stay pending in state
    write(ldir, [(k, f"L{k}", TS(1 + k * 0.01)) for k in KEYS])
    write(rdir, [(k, f"R{k}", TS(2)) for k in KEYS if k % 2 == 0])
    run(first)
    layout = _checkpoint_files(ckpt)
    # phase 2: keys ≡ 1 (mod 4) match late but in window, the other odd
    # keys time out once the flush rows move the watermark
    write(ldir, [(-1, "flushL", TS(10_000))])
    write(rdir, [(k, f"R{k}", TS(3)) for k in KEYS if k % 4 == 1]
          + [(-2, "flushR", TS(10_000))])
    run(second)
    per_key: dict[int, list[str]] = {}
    for r in spark.read.parquet(sink).where(F.col("k") >= 0).collect():
        per_key.setdefault(r.k, []).append(r.joined)
    return layout, per_key


def test_checkpoints_restart_across_managers(spark, tmp_path):
    """A checkpoint written under either manager restarts under the
    other: pending state in every state partition crosses the restart,
    every key comes out exactly once, and the files phase 1 leaves are
    the same under both managers."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spread = spark.createDataFrame(
        [(k,) for k in KEYS], "k BIGINT").selectExpr(
        f"count(distinct pmod(hash(k), {n_parts})) AS p").head().p
    assert spread == n_parts, "keys must cover every state partition"
    expect = {k: [f"L{k}+R{k}" if k % 2 == 0 or k % 4 == 1 else f"L{k}"]
              for k in KEYS}
    layouts = {}
    for first, second in (("filecontext", "filesystem"),
                          ("filesystem", "filecontext")):
        layouts[first], per_key = _run_across_managers(
            spark, str(tmp_path / first), first, second)
        assert per_key == expect, f"{first} → {second}"
    assert layouts["filecontext"] == layouts["filesystem"]
    assert any(f.startswith("state/0/") for f in layouts["filesystem"])
