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
* YARN's defaults are kept out of the Hadoop configuration. The driver
  JVM starts with ``hadoop_shadow/`` (a directory holding only an empty
  ``yarn-default.xml``) ahead of the Hadoop jars on its classpath, so
  ``sessionState.newHadoopConf()`` carries about 580 keys instead of
  about 1,100, 520 of which came from YARN's defaults that a ``local[N]``
  session never reads. Spark 4.1 serializes this configuration about 22
  times per stream-stream micro-batch: it plans every batch twice (once
  in ``queryPlanning``, again when ``SQLExecution`` builds the plan
  description through ``explainString``), the join node broadcasts a
  fresh copy each time a planner rule rebuilds it, and the scans and
  the sink task carry one each. One serialization drops from about 9 ms
  and 112 KB to 4.4 ms and 57 KB (4 vCPUs). Every ``core-default`` and
  ``mapred-default`` key keeps its name and value; the one exception is
  ``mapreduce.reduce.shuffle.fetch.retry.enabled``, whose default is
  ``${yarn.nodemanager.recovery.enabled}`` and now stays unresolved
  (``getBoolean`` falls back to its default, ``false`` as before; Spark
  never reads it). A ``yarn.*`` key set on the session still reads
  back. Unsetting the keys at runtime would not hold: the first parquet
  write registers ``hdfs-default.xml``, which reloads every default
  resource into every live configuration. A session whose JVM was
  launched outside ``get_spark`` keeps YARN's defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
CHECKPOINT_FILE_MANAGER = ("org.apache.spark.sql.execution.streaming."
                           "checkpointing.FileSystemBasedCheckpointFileManager")
HADOOP_SHADOW_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "hadoop_shadow")


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
        .config("spark.driver.extraClassPath", HADOOP_SHADOW_DIR)
    )
    return builder.getOrCreate()
