"""Where queries register: ``@query(name, oracle)`` adds ``fn(spark,
sf_dir) -> DataFrame`` to ``QUERIES`` and its DuckDB twin to ``ORACLE``.

A leaf module: every ``queries*`` module imports it, and it imports no
query module, so any of them can be imported first. ``queries.py``
imports them all and fixes the order the driver reads.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn
    return deco
