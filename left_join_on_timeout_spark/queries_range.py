"""Interval-overlap range-join query (operators/range_join.py) over the
events fixture.

Fixture: the 50 busiest hours become "incident" intervals
[hour - 10 min, hour + 70 min]; each event is an interval
[ts, ts + floor(value) seconds]. The query counts events overlapping
each incident. The Spark side runs the chunked equi-join plan; the
DuckDB oracle is the plain inequality join — an independent
formulation, so a wrong chunk/allocation rule cannot pass.

floor(value) (not CAST) for the duration: Spark casts double->int by
truncation while DuckDB CAST rounds half-up; floor agrees everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from left_join_on_timeout_spark.operators.range_join import (
    interval_overlap_join,
)
from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import load_table


@query("range_overlap_incidents", """
WITH ev AS (
  SELECT event_id, value, ts AS e_start,
         ts + CAST(floor(value) AS BIGINT) * INTERVAL 1 SECOND AS e_end
  FROM events),
hours AS (
  SELECT date_trunc('hour', ts) AS h, count(*) AS n
  FROM events GROUP BY 1),
inc AS (
  SELECT h AS incident_hour, h - INTERVAL 10 MINUTE AS i_start,
         h + INTERVAL 70 MINUTE AS i_end
  FROM hours ORDER BY n DESC, h LIMIT 50)
SELECT inc.incident_hour AS incident_hour, count(*) AS n_events,
       CAST(sum(CAST(ev.value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM inc JOIN ev ON ev.e_start <= inc.i_end AND inc.i_start <= ev.e_end
GROUP BY 1
""")
def q_range_overlap_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless interval-overlap join, chunk-quantized: without the chunk
    trick Catalyst would plan BroadcastNestedLoopJoin (O(|E| x |I|));
    with it the candidates come from a hash join on the hour chunk and
    each pair is emitted exactly once by start-chunk allocation."""
    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_id", "value",
        F.col("ts").alias("e_start"),
        (F.col("ts") + F.make_interval(secs=F.floor("value")))
        .alias("e_end"))
    hours = (events.groupBy(F.date_trunc("hour", "ts").alias("h"))
             .agg(F.count("*").alias("n")))
    inc = (hours.orderBy(F.desc("n"), F.asc("h")).limit(50)
           .select(F.col("h").alias("incident_hour"),
                   (F.col("h") - F.expr("INTERVAL 10 MINUTES"))
                   .alias("i_start"),
                   (F.col("h") + F.expr("INTERVAL 70 MINUTES"))
                   .alias("i_end")))
    j = interval_overlap_join(
        ev, inc, left_start="e_start", left_end="e_end",
        right_start="i_start", right_end="i_end", chunk="1 hour")
    return (j.groupBy("incident_hour")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(25,6)"))
                 .cast("double").alias("sum_value")))
