"""``query_mix``: the driver contract's query mix, closed loop, 1 client.

Each pass runs the mix in a fixed order through the registry the
external driver uses (``__spark_entry__.queries()`` is
``queries.QUERIES``): the query function (its eager work: index builds,
persists, streaming drains), then a ``noop`` write (the lazy action).
The seed picks the generated tables. Every measured output is then
collected outside the timed region and compared with the query's DuckDB
oracle through the same ``compare`` the local driver gate
(``tools/check_oracle.py``) uses.

The mix covers the batch, watermarked-streaming-drain and exact-timer
tiers of the timeout join, the as-of join, two TPC-H queries and the
saved text index; the traced run adds the IVF2 and LSH index lifecycles
and the curation chain once each.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

import gen
from common import (Listener, cpu_ticks, fold_event_log, geomean,
                    index_tier_sizes, layer_metrics, median, pct, span_id_of,
                    steal_share, streaming_metrics)

MIX = [
    "timeout_left_join", "full_outer_timeout_join",
    "dynamic_timeout_left_join", "timeout_only",
    "asof_backward_join", "q3_shipping_priority",
    "q18_large_volume_customer",
    "stream_timeout_left_join", "timer_timeout_left_join",
    "text_bm25_saved",
]
# The queries whose output carries timed-out rows, one per tier: batch,
# full outer, per-row timeout, timeouts only, watermarked-stream drain
# and exact-timer drain.
TIMEOUT_TIER = ["timeout_left_join", "full_outer_timeout_join",
                "dynamic_timeout_left_join", "timeout_only",
                "stream_timeout_left_join", "timer_timeout_left_join"]
# Recorded once by the traced run, cheapest first, with the seconds a
# call takes on a quiet 4-core host: the LSH build/probe, the IVF2
# build/append/rebuild/search lifecycle and the curation chain (repeated
# in every pass they would not fit a run).
TRACE_ONCE = {"dedup_lsh_probe_saved": 3, "ann_rebuild_ivf2_saved": 9,
              "curation_pipeline_e2e": 16}
SF = 0.01
# One cold pass pays the one-off costs (JIT, code generation, Python
# workers). Every pass after it is measured, and each query reports its
# best wall over them (min-of-N, as bench.py reports min-of-3): on a
# shared host a slow stretch lengthens every call made in it, and the
# best of two or more passes is the one it touched least. A single pass
# after a second, discarded warm pass cost the same time, and its query
# geomean spread 17-44 % between runs. When no pass has yet run on a
# quiet host (other guests took more than QUIET_STEAL of its CPU time;
# a pass took 13 s at 3 % and 33 s at 26 %), passes go on until one has
# or PASS_DEADLINE_S is reached.
MIN_PASSES = 2
QUIET_STEAL = 0.05
# No measured pass starts later than PASS_DEADLINE_S into the run, and a
# traced extra only if twice its quiet cost ends by TRACE_ONCE_END_S, so
# a run on a busy host still ends within its limit: a pass takes about
# 13 s on a quiet 4-core host and up to twice that when other guests
# take 15-20 % of its CPU time.
PASS_DEADLINE_S = 100
TRACE_ONCE_END_S = 150
# Not compared with its oracle: at this scale DuckDB takes about 40 s
# for it, longer than the query itself.
UNCHECKED = {"curation_pipeline_e2e"}
# Run-to-run spread (quartile distance over median) of the best pass
# time across ten --trace 0 runs on 4 cores; a tracing overhead smaller
# than this cannot be told apart from noise.
PASS_SPREAD = 0.085


class Oracle:
    """Each query's DuckDB oracle over the generated tables."""

    def __init__(self, data_dir: str):
        import duckdb

        from left_join_on_timeout_spark.sources.tables import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{data_dir}/{t}.parquet'")
        self.expected: dict = {}

    def problems(self, name: str, pdf) -> list[str]:
        from left_join_on_timeout_spark.queries import ORACLE
        from tools.check_oracle import compare

        if name not in self.expected:
            self.expected[name] = self.con.execute(ORACLE[name]).fetchdf()
        return compare(name, pdf, self.expected[name])

    def detects_corruption(self, name: str, pdf) -> bool:
        """The check must fail on a correct output with one value of its
        first row changed (or, with no string or number in that row,
        with the row dropped)."""
        if len(pdf) == 0:
            return True
        bad, row = pdf.copy(), pdf.index[0]
        for col in sorted(bad.columns):
            v = bad.at[row, col]
            if isinstance(v, str):
                new = v + "#"
            elif isinstance(v, (bool, np.bool_)):
                new = not v
            elif isinstance(v, (int, float, np.integer, np.floating)) \
                    and v == v:
                new = v + 1
            else:
                continue
            bad[col] = bad[col].astype(object)
            bad.at[row, col] = new
            return bool(self.problems(name, bad))
        return bool(self.problems(name, bad.iloc[1:]))

    def close(self) -> None:
        self.con.close()


def timed_query(run, tracer, name: str, data_dir: str,
                oracle: Oracle | None = None) -> dict:
    """Run one registered query: its function, then a noop write, both
    timed; then, given an oracle, collect the output and compare."""
    from left_join_on_timeout_spark.queries import QUERIES

    rec = {"name": name, "failed": 0}
    try:
        with tracer.span(f"queries.{name}", "queries") as top:
            with tracer.span(f"queries.{name}.fn", "queries") as fn_span:
                df = QUERIES[name](run.spark, data_dir)
            with tracer.span(f"queries.{name}.action", "queries"):
                df.write.format("noop").mode("overwrite").save()
        pdf = None if oracle is None else df.toPandas()
        problems = [] if oracle is None else oracle.problems(name, pdf)
        if problems:
            print(f"perfbench: {name} wrong output: {problems[:3]}",
                  file=sys.stderr)
            rec["failed"] = 1
    except Exception as exc:
        print(f"perfbench: {name} failed: {exc!r}"[:2000], file=sys.stderr)
        rec["failed"] = 1
        return rec
    rec.update(start=top["start"], end=top["end"],
               wall_s=top["end"] - top["start"],
               eager_s=fn_span["end"] - fn_span["start"],
               span=top.get("id"), pdf=pdf)
    rec["action_s"] = rec["wall_s"] - rec["eager_s"]
    return rec


def _one_pass(run, tracer, data: str, oracle: Oracle) -> list[dict]:
    # a fixed order: with a seed-permuted one the run-to-run spread of
    # the per-query times doubled
    return [timed_query(run, tracer, q, data, oracle) for q in MIX]


def run(run, tracer) -> dict:
    t = time.time()
    run.start_spark()
    session_s = time.time() - t
    gens = []
    for r in range(3):
        t = time.time()
        data = gen.driver_tables(run.path("data", f"r{r}"), run.seed, SF)
        gens.append(time.time() - t)
    # The cold pass pays the one-off costs; every measured output is
    # checked below.
    t = time.time()
    warm = [timed_query(run, tracer, q, data) for q in MIX]
    warm_s = time.time() - t
    oracle = Oracle(data)
    env = run.env_record()

    # the traced run's untraced pass is only the base of its overhead
    min_passes = 1 if run.trace else MIN_PASSES
    passes, steals, recs, t0 = [], [], [], time.time()
    detects = None
    while not passes or (
            (len(passes) < min_passes or time.time() - t0 < run.seconds
             or (not run.trace and min(steals) > QUIET_STEAL))
            and run.elapsed() < PASS_DEADLINE_S):
        ticks = cpu_ticks()
        pr = _one_pass(run, tracer, data, oracle)
        steals.append(steal_share(ticks))
        if detects is None:
            # the output check must catch one corrupted row of each output
            detects = all(oracle.detects_corruption(r["name"], r["pdf"])
                          for r in pr if r.get("pdf") is not None)
        for r in pr:
            r.pop("pdf", None)
        passes.append(sum(r.get("wall_s", 0.0) for r in pr))
        recs += pr
    if not detects:
        print("perfbench: output check missed a corrupted row",
              file=sys.stderr)
    leaked = run.leaked_temp_dirs()
    ok = [r for r in recs if "wall_s" in r]
    walls = {q: [r["wall_s"] for r in ok if r["name"] == q] for q in MIX}
    failed = sum(r["failed"] for r in warm + recs) + int(not detects)
    attempted = len(warm) + len(recs)
    valid = all(walls.values())
    e2e = {"setup_s": (session_s + median(gens) + warm_s, "s")}
    if valid:
        best = {q: min(w) for q, w in walls.items()}
        e2e.update({
            "latency_p50_ms": (1000 * geomean(best.values()), "ms"),
            "latency_p90_ms": (1000 * pct([r["wall_s"] for r in ok], 90),
                               "ms"),
            "timeout_p50_ms": (
                1000 * geomean(best[q] for q in TIMEOUT_TIER), "ms"),
            "timeout_p90_ms": (1000 * pct(
                [w for q in TIMEOUT_TIER for w in walls[q]], 90), "ms"),
            "throughput_per_s": (len(MIX) / min(passes), "1/s"),
        })
    detail = dict(e2e)
    detail.update({
        "peak_rss_mb": (run.peak_rss_mb(), "MB"),
        "pass_s": (min(passes), "s"),
        "pass_median_s": (median(passes), "s"),
        "passes": (len(passes), "count"),
        "pass_steal_min": (min(steals), "ratio"),
        "session.start_ms": (1000 * session_s, "ms"),
        "input_generation_s": (median(gens), "s"),
        "warmup_s": (warm_s, "s"),
        "streaming.harness.leaked_dirs": (leaked, "count"),
        "check.detects_corruption": (int(detects), "bool"),
    })
    if valid:
        detail["query_geomean_s"] = (geomean(best.values()), "s")
    for q in MIX:
        mine = [r for r in ok if r["name"] == q]
        if mine:
            detail[f"query.{q}.eager_ms"] = (
                1000 * median(r["eager_s"] for r in mine), "ms")
            detail[f"query.{q}.action_ms"] = (
                1000 * median(r["action_s"] for r in mine), "ms")
    out = {"e2e": e2e, "detail": detail, "layers": {}, "env": env,
           "attempted": attempted, "failed": failed, "valid": valid}
    if run.trace:
        _traced(run, tracer, out, data, oracle, passes[0])
    oracle.close()
    return out


def run_once(run, tracer, names: list[str]) -> list[dict]:
    """Each of ``names`` once over freshly generated tables, checked."""
    data = gen.driver_tables(run.path("data", "once"), run.seed, SF)
    oracle = Oracle(data)
    try:
        recs = [timed_query(run, tracer, q, data, oracle) for q in names]
    finally:
        oracle.close()
    for r in recs:
        r.pop("pdf", None)
    return recs


def attach_jobs(recs: list[dict], jobs: list[dict], tracer) -> None:
    """Give each query record the Spark jobs of its span subtree, plus
    the streaming jobs its drains started while it ran."""
    by_span: dict[int, list] = {}
    for j in jobs:
        sid = span_id_of(j)
        if sid is not None:
            by_span.setdefault(sid, []).append(j)
    for r in recs:
        if r.get("span") is None:
            r["jobs"] = []
            continue
        mine = [j for s in tracer.descendants(r["span"])
                for j in by_span.get(s, [])]
        mine += [j for j in jobs if j["query"] is not None
                 and r["start"] <= j["t0"] <= r["end"]]
        r["jobs"] = mine


def query_records(recs: list[dict]) -> dict:
    """``query.<Q>.{eager_ms,action_ms,jobs}`` per record."""
    d = {}
    for r in recs:
        if "wall_s" not in r:
            continue
        d[f"query.{r['name']}.eager_ms"] = (1000 * r["eager_s"], "ms")
        d[f"query.{r['name']}.action_ms"] = (1000 * r["action_s"], "ms")
        d[f"query.{r['name']}.jobs"] = (len(r["jobs"]), "count")
    return d


def _traced(run, tracer, out: dict, data: str, oracle: Oracle,
            untraced_pass: float) -> None:
    """One traced pass plus ``TRACE_ONCE`` in a fresh context with the
    event log on; the event log is folded after the context stops."""
    t = time.time()
    spark = run.start_spark(event_log=True)
    t_session = time.time()
    listener = Listener()
    spark.streams.addListener(listener)
    tracer.enable(spark.sparkContext)
    tracer.record("session.get_spark", "session", t, t_session)
    try:
        recs = _one_pass(run, tracer, data, oracle)
        once, skipped = [], 0
        for q, cost_s in TRACE_ONCE.items():
            if run.elapsed() + 2 * cost_s > TRACE_ONCE_END_S:
                skipped += 1
                continue
            once.append(timed_query(run, tracer, q, data,
                                    None if q in UNCHECKED else oracle))
    finally:
        tracer.disable()
    for r in recs + once:
        r.pop("pdf", None)
    spark.streams.removeListener(listener)
    leaked = run.leaked_temp_dirs()
    tiers = index_tier_sizes(os.environ["SPARK_GRAFT_INDEX_DIR"])
    spark.stop()
    run.spark = None
    jobs = fold_event_log(run.events_dir)
    attach_jobs(recs + once, jobs, tracer)

    ops = [r for r in recs if "wall_s" in r]
    t_end = max(r["end"] for r in ops)
    wall = sum(r["wall_s"] for r in ops)
    layers = streaming_metrics(
        [p for p in listener.events if p["_t"] <= t_end], jobs)
    per_layer, fn_detail = layer_metrics(tracer, jobs)
    layers.update(per_layer)
    layers.update(query_records(recs))
    layers.update(tiers)
    layers.update({
        "trace.overhead_share": (wall / untraced_pass - 1, "ratio"),
        "trace.spans": (len(tracer.spans), "count"),
        "streaming.harness.leaked_dirs": (leaked, "count"),
    })
    out["layers"] = layers
    d = out["detail"]
    d.update(fn_detail)
    d.update(query_records(once))
    d["traced.pass_s"] = (wall, "s")
    d["trace.once_skipped"] = (skipped, "count")
    d["trace.overhead_resolved"] = (int(PASS_SPREAD <= 0.02), "bool")
    d["trace.noise_share"] = (PASS_SPREAD, "ratio")
    out["failed"] += sum(r["failed"] for r in recs + once)
    out["attempted"] += len(recs) + len(once)
