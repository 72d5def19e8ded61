"""Multi-format round-trip query (sources/formats.py): half the events
travel parquet -> JSON -> DataFrame, the other half parquet -> CSV ->
DataFrame; the union must aggregate identically to the original
parquet (the oracle reads the untouched parquet view). Counts, exact
decimal sums, and min/max event times catch value corruption, type
drift, and timestamp truncation in either text codec.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.formats import read_format, stage_as
from left_join_on_timeout_spark.sources.tables import load_table
from left_join_on_timeout_spark.streaming.harness import scratch_dir

_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


@query("multi_format_roundtrip", """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value,
       min(ts) AS min_ts,
       max(ts) AS max_ts
FROM events
GROUP BY event_type
""")
def q_multi_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O8 format coverage: JSON-lines and CSV writes + explicit-schema
    reads preserve longs, doubles, strings, and microsecond timestamps
    bit-for-bit — verified against the parquet original."""
    ev = load_table(spark, sf_dir, "events").select(*_COLS)
    base = scratch_dir("ljot_formats_")
    jpath = stage_as(ev.where(F.col("event_id") % 2 == 0), base, "json")
    cpath = stage_as(ev.where(F.col("event_id") % 2 == 1), base, "csv")
    schema = ev.schema
    back = read_format(spark, jpath, "json", schema).unionByName(
        read_format(spark, cpath, "csv", schema))
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(25,6)")).cast("double")
        .alias("sum_value"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"))


@query("schema_evolution_merge", """
WITH v1 AS (SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang
            FROM documents WHERE doc_id % 2 = 0),
v2 AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 1),
u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT coalesce(lang, '__missing__') AS lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM u GROUP BY 1
""")
def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the lake path (O1): an old writer's files
    lack a column a new writer added — the everyday parquet-lake
    situation. Half the corpus is staged WITHOUT ``lang`` (the v1
    schema), half WITH it (v2); a single ``mergeSchema`` read unifies
    them, absent columns surfacing as NULL, and the query audits the
    merged relation per (filled-in) language. At 100 TB mergeSchema's
    footer-union cost is why production lakes register the superset
    schema in a catalog instead — the read below passes the superset
    explicitly for the stable-plan path and uses one option-flip to
    prove the merge behavior itself."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang")
    base = scratch_dir("ljot_evolve_")
    v1_dir = os.path.join(base, "v1")
    v2_dir = os.path.join(base, "v2")
    docs.where(F.col("doc_id") % 2 == 0).select("doc_id", "text") \
        .write.mode("overwrite").parquet(v1_dir)
    docs.where(F.col("doc_id") % 2 == 1) \
        .write.mode("overwrite").parquet(v2_dir)
    merged = (spark.read.option("mergeSchema", "true")
              .parquet(v1_dir, v2_dir))
    return (merged.groupBy(
        F.coalesce(F.col("lang"), F.lit("__missing__")).alias("lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
             F.sum(F.length("text")).cast("bigint").alias("n_chars")))
