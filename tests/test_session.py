"""The Hadoop configuration a ``get_spark`` session hands to every scan,
write and stream: YARN's defaults are kept out of it (the empty
``yarn-default.xml`` in ``hadoop_shadow/`` shadows Hadoop's copy on the
driver classpath), every other default keeps its value, and the shadow
survives the default-resource reload the first parquet write triggers."""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import functions as F


def _hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def _sources(spark) -> dict[str, list[str]]:
    """Key → the resources it was read from, as Hadoop records them."""
    writer = spark._jvm.java.io.StringWriter()
    _hadoop_conf(spark).writeXml(writer)
    return {p.findtext("name"): [s.text for s in p.findall("source")]
            for p in ET.fromstring(writer.toString()).iter("property")}


def _yarn_default_keys(spark) -> list[str]:
    return sorted(k for k, srcs in _sources(spark).items()
                  if "yarn-default.xml" in srcs)


def _write_and_join_one_batch(spark, root: str) -> None:
    """A parquet write (it registers ``hdfs-default.xml``, which reloads
    every default resource) and one ``availableNow`` stream-stream join
    batch over the written files."""
    for name in ("l", "r"):
        (spark.range(20).withColumn("ts", F.timestamp_seconds("id"))
         .write.parquet(f"{root}/{name}"))
    schema = spark.read.parquet(f"{root}/l").schema

    def side(name):
        return (spark.readStream.schema(schema).parquet(f"{root}/{name}")
                .withWatermark("ts", "1 second").alias(name))

    joined = side("l").join(
        side("r"),
        F.expr("l.id = r.id AND "
               "r.ts BETWEEN l.ts AND l.ts + interval 1 second"),
        "left")
    q = (joined.writeStream.format("noop")
         .option("checkpointLocation", f"{root}/ck")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert q.lastProgress is not None


def test_hadoop_conf_has_no_yarn_defaults(spark):
    assert _yarn_default_keys(spark) == []


def test_yarn_defaults_stay_out_after_a_write_and_a_join_batch(
        spark, tmp_path):
    # the conf user code sets Hadoop keys on; newHadoopConf() copies it
    shared = spark.sparkContext._jsc.hadoopConfiguration()
    key = "yarn.resourcemanager.hostname"
    try:
        shared.set(key, "rm.example")
        assert _hadoop_conf(spark).get(key) == "rm.example"
        _write_and_join_one_batch(spark, str(tmp_path))
        assert _yarn_default_keys(spark) == []
        assert _hadoop_conf(spark).get(key) == "rm.example"
    finally:
        shared.unset(key)
    assert _hadoop_conf(spark).get(key) is None


def test_core_and_mapred_defaults_keep_their_values(spark):
    conf = _hadoop_conf(spark)
    sources = _sources(spark)
    for key, value, source in [
            ("fs.permissions.umask-mode", "022", "core-default.xml"),
            ("hadoop.security.authentication", "simple", "core-default.xml"),
            ("mapreduce.output.fileoutputformat.compress", "false",
             "mapred-default.xml"),
            ("mapreduce.job.committer.setup.cleanup.needed", "true",
             "mapred-default.xml")]:
        assert conf.get(key) == value, key
        assert source in sources[key], (key, sources[key])
    # Spark sets the committer version over mapred-default's 2
    assert conf.get("mapreduce.fileoutputcommitter.algorithm.version") == "1"
    assert conf.get("fs.defaultFS") == "file:///"
