"""As-of join query surface (operators/asof_join.py) over the events
fixture: each view pairs with its nearest purchase per user.

The DuckDB oracles use the engine's native ``ASOF LEFT JOIN`` — an
independent formulation of the same semantics, not a re-statement of
the union-window implementation — with the right side deduplicated to
one row per (user_id, ts) via max(event_id), matching the operator's
documented greatest-tiebreak-wins rule for duplicate timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from left_join_on_timeout_spark.operators.asof_join import (
    asof_join,
    asof_join_range,
)
from left_join_on_timeout_spark.registry import query
from left_join_on_timeout_spark.sources.tables import events_split

_BACKWARD_ORACLE = """
WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
r AS (SELECT user_id, ts, max(event_id) AS event_id
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT l.user_id AS user_id, l.event_id AS event_id, l.ts AS ts,
       CASE WHEN r.ts >= l.ts - INTERVAL 30 MINUTE THEN r.event_id END AS r_event_id,
       CASE WHEN r.ts >= l.ts - INTERVAL 30 MINUTE THEN r.ts END AS r_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@query("asof_backward_join", _BACKWARD_ORACLE)
def q_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of: each view joins the most recent purchase at or
    before it (per user), within 30 minutes — single-shuffle
    union-window plan, output exactly |views| rows."""
    left, right = events_split(spark, sf_dir)
    return asof_join(left, right, on="user_id", tolerance="30 minutes",
                     direction="backward")


@query("asof_forward_join", """
WITH l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
r AS (SELECT user_id, ts, max(event_id) AS event_id
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT l.user_id AS user_id, l.event_id AS event_id, l.ts AS ts,
       CASE WHEN r.ts <= l.ts + INTERVAL 30 MINUTE THEN r.event_id END AS r_event_id,
       CASE WHEN r.ts <= l.ts + INTERVAL 30 MINUTE THEN r.ts END AS r_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
""")
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each view joins the next purchase at or after it
    (per user) within 30 minutes — the attribution-lookahead direction."""
    left, right = events_split(spark, sf_dir)
    return asof_join(left, right, on="user_id", tolerance="30 minutes",
                     direction="forward")


@query("asof_range_join", _BACKWARD_ORACLE)
def q_asof_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The range-join twin of asof_backward_join (candidates then
    max_by) — hash-checked against the *same* oracle as the union-window
    plan, so the two physical strategies are proven result-identical."""
    left, right = events_split(spark, sf_dir)
    return asof_join_range(left, right, on="user_id",
                           tolerance="30 minutes")
