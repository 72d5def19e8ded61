"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every knob here is chosen so the same
plan shape survives a 1000-executor / 100 TB deployment:

* AQE on (runtime partition coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition count is always wrong for *some* stage.
* ``spark.sql.session.timeZone=UTC`` — deterministic timestamps and required
  for DuckDB-oracle comparison (DuckDB timestamps are UTC-naive).
* Arrow enabled — every Pandas UDF / ``mapInPandas`` batch transfer is
  Arrow-backed.
* Broadcast threshold left at default (10 MB): dimension tables (region,
  nation, supplier, part at these SFs) broadcast automatically; fact-fact
  joins shuffle on their keys.
* Codegen cache of 2000 compiled classes (Spark's default is 100): one
  index build alone generates about 100, so a session that runs many
  queries evicted and recompiled the same classes on every repeat.
* Streaming checkpoints are written through Hadoop's ``FileSystem`` API
  (``FileSystemBasedCheckpointFileManager``), not Spark's default
  ``FileContext`` manager. ``FileContext``'s rename reads the link status
  of source, destination and parent, and on a local filesystem without
  ``libhadoop`` each read forks a ``readlink`` process: about 100 forks per
  micro-batch, 37–42 ms per atomic 1 KB write against 12.5–13 ms through
  ``FileSystem`` (4 vCPUs). On local disk both managers check, then
  rename (Hadoop documents ``AbstractFileSystem.renameInternal``'s
  overwrite handling as non-atomic), and the files, ``.crc`` files and
  checkpoint checksums are the same, so a checkpoint written by either
  restarts under the other.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CHECKPOINT_FILE_MANAGER = ("org.apache.spark.sql.execution.streaming."
                           "checkpointing.FileSystemBasedCheckpointFileManager")


def get_spark(app_name: str = "left_join_on_timeout_spark",
              cpus: str | int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``shuffle_partitions`` defaults to the core count: right for local SFs;
    on a real cluster you'd size it to ~2-3× total cores and let AQE coalesce.
    That width is for batch plans. Join streams the library starts run one
    state-store instance per core instead
    (``streaming.timeout_join.state_partitions``).
    """
    cpus = str(cpus or DEFAULT_CPUS)
    shuffle = str(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.streaming.checkpointFileManagerClass",
                CHECKPOINT_FILE_MANAGER)
    )
    return builder.getOrCreate()
