#!/usr/bin/env python3
"""Benchmark for left_join_on_timeout_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload stream_watermark --seed 1 \
        --seconds 10 --trace 0

Workloads (see perfbench/README.md): ``stream_watermark`` and
``query_mix``. Each builds its inputs from the seed, sets up (session
start, input generation, warm-up), measures for about ``--seconds``,
checks every output against an independent oracle, and prints one JSON
object as the last line of stdout: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it is
``detail: {...}``: every metric the workload measured, by its own name,
with its unit.
"""

from __future__ import annotations

import argparse
import faulthandler
import importlib
import json
import math
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = {"stream_watermark": "stream", "query_mix": "querymix"}
RUN_LIMIT_S = 170


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _metric_block(pairs: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in pairs.items()}


def _per_layer_names(root: str) -> dict:
    """Per-layer metric names and units declared in BENCHMARK.json."""
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError:
        return {}
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main() -> int:
    a = _args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "left_join_on_timeout_spark",
                                       "__init__.py")):
        print("perfbench: run from the root of a left_join_on_timeout_spark "
              "checkout (package not found)", file=sys.stderr)
        return 2
    if a.seed < 0 or a.seconds <= 0:
        print("perfbench: --seed must be >= 0 and --seconds > 0",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    # a run must end within its time limit: past it, print every
    # thread's stack and exit (the JVM exits when our pipe to it closes)
    faulthandler.dump_traceback_later(RUN_LIMIT_S, exit=True)

    from common import Run, Tracer, cpu_ticks, steal_share

    run = Run(a.workload, a.seed, a.seconds, bool(a.trace))
    t0, ticks0 = time.time(), cpu_ticks()
    try:
        wl = importlib.import_module(WORKLOADS[a.workload])
        out = wl.run(run, Tracer(a.workload))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.stop()
    out["detail"]["run_wall_s"] = (time.time() - t0, "s")
    out["detail"]["host.steal_share"] = (steal_share(ticks0), "ratio")
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              **out["env"], "metrics": _metric_block(out["detail"])}
    print("detail: " + json.dumps(detail, sort_keys=True))
    if a.trace:
        # a layer the workload never calls reads zero
        declared = _per_layer_names(root) or {
            k: u for k, (_, u) in out["layers"].items()}
        metrics = {name: out["layers"].get(name, (0, unit))
                   for name, unit in declared.items()}
    else:
        metrics = out["e2e"]
    finite = all(math.isfinite(float(v)) for v, _ in metrics.values())
    metrics = {k: (v if math.isfinite(float(v)) else 0, u)
               for k, (v, u) in metrics.items()}
    correct = out["failed"] == 0 and out["valid"] and (finite or a.trace)
    print(json.dumps({"correct": bool(correct),
                      "attempted": int(out["attempted"]),
                      "failed": int(out["failed"]),
                      "metrics": _metric_block(metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
