#!/usr/bin/env python
"""Capture .explain("formatted") for registered queries into
plans/<round>/<query>_<tag>.txt (the judge checks plan claims against these).

Usage: python tools/capture_plans.py <round> <tag> <query> [query ...]
e.g. ``python tools/capture_plans.py r15 after q3_shipping_priority``.
Streaming/multi-action queries capture the plan of the RETURNED frame
(the adjudicated output); their internal stages are documented in
that round's OPTIMIZATION_<round>.md instead.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from left_join_on_timeout_spark import queries as q  # noqa: E402
from left_join_on_timeout_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out = os.path.join(ROOT, "plans", sys.argv[1])
    tag, names = sys.argv[2], sys.argv[3:]
    os.makedirs(out, exist_ok=True)
    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = q.QUERIES[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
