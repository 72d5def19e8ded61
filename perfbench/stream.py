"""``stream_watermark``: an open-loop timeout-join stream.

A generator thread writes one parquet file per side per tick on a fixed
wall-clock schedule, whether or not the job keeps up. Event time equals
creation time, so an event's lag is measured from the moment it existed.
The job is the user-facing path:
``LeftJoinOnTimeoutBuilder(...).sink_to("parquet").start()`` over two
``read_keyed_stream`` sources.

Timeline: warm-up ticks (excluded from the lags), the measured window,
a cool-down of one timeout so rows due in the window can be emitted
naturally, then one far-future flush file per side, which closes every
window. The drained sink must then equal DuckDB's left join with the
same range condition over the generated files.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import Counter

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import querymix
from common import (Listener, fold_event_log, index_tier_sizes,
                    layer_metrics, median, parse_ts, pct, streaming_metrics,
                    tree_size)

RATE = 5000          # events/s per side
TICK_S = 0.5
WINDOW_S = 2
TIMEOUT_S = 3
N_KEYS = 40_000      # about 0.5 in-window matches per left event
HOT_KEYS = 10
HOT_SHARE = 0.02
WARMUP_S = 6.0   # state reaches its steady size after window + timeout
COOLDOWN_S = float(TIMEOUT_S)
EPS_TOLERANCE = 0.10  # input_eps may differ from the offered rate by this
RIGHT_ID0 = 1_000_000_000
FLUSH_KEYS = {"l": -1, "r": -2}
SCHEMA = "key BIGINT, event_id BIGINT, ts TIMESTAMP"
PER_TICK = int(RATE * TICK_S)
TS_TYPE = pa.timestamp("us", tz="UTC")
# Recorded once by the traced run: the exact-timer tier's
# transformWithState adapter, next to this stream's watermarked join.
TRACE_ONCE = ["tws_timeout_left_join"]
# Run-to-run spread (quartile distance over median) of the match lag p50
# across ten --trace 0 runs on 4 cores; a tracing overhead smaller than
# this cannot be told apart from noise.
LAG_SPREAD = 0.17


def _tick_table(seed: int, side: str, i: int, t0: float) -> pa.Table:
    rng = np.random.default_rng([seed, ord(side), i])
    hot = rng.random(PER_TICK) < HOT_SHARE
    keys = np.where(hot, rng.integers(0, HOT_KEYS, PER_TICK),
                    rng.integers(HOT_KEYS, HOT_KEYS + N_KEYS, PER_TICK))
    ts = np.sort(t0 + i * TICK_S + rng.random(PER_TICK) * TICK_S)
    ids = i * PER_TICK + np.arange(PER_TICK, dtype=np.int64)
    if side == "r":
        ids += RIGHT_ID0
    return pa.table({
        "key": pa.array(keys.astype(np.int64)),
        "event_id": pa.array(ids),
        "ts": pa.array((ts * 1e6).astype(np.int64), TS_TYPE),
    })


class Generator(threading.Thread):
    """Writes tick ``i`` of both sides at ``t0 + (i + 1) * TICK_S``; each
    file appears atomically (written aside, then renamed in)."""

    def __init__(self, seed: int, dirs: dict, staging: str, t0: float,
                 n_ticks: int):
        super().__init__(daemon=True)
        self.seed, self.dirs, self.staging = seed, dirs, staging
        self.t0, self.n_ticks = t0, n_ticks
        self.lateness: list[float] = []
        self.written = 0
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i in range(self.n_ticks):
                due = self.t0 + (i + 1) * TICK_S
                time.sleep(max(0.0, due - time.time()))
                for side, d in self.dirs.items():
                    tmp = os.path.join(self.staging, f"{side}-{i:06d}.parquet")
                    pq.write_table(_tick_table(self.seed, side, i, self.t0), tmp)
                    os.rename(tmp, os.path.join(d, f"tick-{i:06d}.parquet"))
                    self.written += PER_TICK
                self.lateness.append(time.time() - due)
        except BaseException as exc:  # surfaced by the caller
            self.error = exc


def _write_flush(dirs: dict, staging: str, ts: float) -> None:
    for side, d in dirs.items():
        tmp = os.path.join(staging, f"{side}-flush.parquet")
        pq.write_table(pa.table({
            "key": pa.array([FLUSH_KEYS[side]], pa.int64()),
            "event_id": pa.array([-1 if side == "l" else -2], pa.int64()),
            "ts": pa.array([int(ts * 1e6)], TS_TYPE),
        }), tmp)
        os.rename(tmp, os.path.join(d, "tick-flush.parquet"))


def _seconds(col) -> np.ndarray:
    """Epoch seconds of a timestamp column of any unit (Spark's parquet
    sink writes INT96, which reads back as nanoseconds)."""
    return col.cast(TS_TYPE).cast(pa.int64()).fill_null(0).to_numpy() / 1e6


def _sink_rows(sink: str):
    """(event_id, r_event_id, due, commit, batch) per sink row. The commit
    time of micro-batch N is the mtime of the file sink's log entry N."""
    meta = os.path.join(sink, "_spark_metadata")
    entries = []
    for name in os.listdir(meta):
        stem = name.split(".")[0]
        if stem.isdigit():
            entries.append((int(stem), os.path.join(meta, name)))
    seen, parts = set(), []
    for batch, path in sorted(entries):
        commit = os.stat(path).st_mtime
        with open(path) as fh:
            lines = fh.read().splitlines()[1:]
        for line in lines:
            f = json.loads(line)
            p = f["path"]
            if f.get("action") != "add" or p in seen:
                continue
            seen.add(p)
            t = pq.read_table(p.removeprefix("file://"),
                              columns=["event_id", "r_event_id", "ts", "r_ts"])
            parts.append((batch, commit, t))
    ev, rev, due, com, bat = [], [], [], [], []
    for batch, commit, t in parts:
        e = t.column("event_id").to_numpy()
        r = t.column("r_event_id").to_numpy(zero_copy_only=False)
        matched = ~np.isnan(r.astype(np.float64))
        lts = _seconds(t.column("ts"))
        rts = _seconds(t.column("r_ts"))
        ev.append(e)
        rev.append(np.where(matched, np.nan_to_num(r.astype(np.float64), nan=-1),
                            -1).astype(np.int64))
        due.append(np.where(matched, np.maximum(lts, rts), lts + TIMEOUT_S))
        com.append(np.full(len(e), commit))
        bat.append(np.full(len(e), batch))

    def cat(xs, dt):
        return np.concatenate(xs) if xs else np.zeros(0, dt)
    return (cat(ev, np.int64), cat(rev, np.int64), cat(due, float),
            cat(com, float), cat(bat, np.int64))


def _oracle_pairs(dirs: dict) -> np.ndarray:
    con = duckdb.connect()
    try:
        got = con.execute(f"""
            SELECT l.event_id, coalesce(r.event_id, -1) AS r_event_id
            FROM read_parquet('{dirs["l"]}/tick-0*.parquet') l
            LEFT JOIN read_parquet('{dirs["r"]}/tick-0*.parquet') r
              ON l.key = r.key
             AND r.ts BETWEEN l.ts - INTERVAL {WINDOW_S} SECOND
                          AND l.ts + INTERVAL {WINDOW_S} SECOND
        """).fetchnumpy()
    finally:
        con.close()
    return np.stack([got["event_id"], got["r_event_id"]], axis=1)


def pair_mismatches(got: np.ndarray, want: np.ndarray) -> int:
    """Size of the multiset symmetric difference of two (n, 2) arrays."""
    a = Counter(map(tuple, got.tolist()))
    b = Counter(map(tuple, want.tolist()))
    return sum(((a - b) + (b - a)).values())


def check_detects_corruption(got: np.ndarray, want: np.ndarray) -> bool:
    """The output check must fail on a copy of a correct output with one
    row changed (its right-side id replaced by one that never exists)."""
    bad = got.copy()
    bad[0, 1] = -7 if bad[0, 1] != -7 else -8
    return pair_mismatches(bad, want) > 0


def input_eps(progress: list[dict], m0: float, m1: float) -> float:
    """Input rows per second processed from ``m0`` to ``m1``: the
    least-squares slope of cumulative input rows against each batch's
    start, over the batches that started in that span and read input.
    A batch reads every file present when it starts, so its start is
    when its input was all there; against batch ends, the slope drifted
    with batch durations (12 % above the offered rate in a run whose
    batches took 3 s)."""
    pts, total = [], 0
    for p in sorted(progress, key=lambda p: p["_t"]):
        total += p["numInputRows"]
        if m0 <= p["_t"] < m1 and p["numInputRows"] > 0:
            pts.append((p["_t"], total))
    if len(pts) < 3:
        return float("nan")
    t, n = np.array(pts).T
    return float(np.polyfit(t - t[0], n, 1)[0])


def run_phase(run, tracer, seed: int, seconds: float, tag: str,
              listener=None) -> dict:
    """One full stream: start, offer load, flush, drain, stop, check."""
    from pyspark.sql import functions as F

    from left_join_on_timeout_spark.builder import LeftJoinOnTimeoutBuilder
    from left_join_on_timeout_spark.sources.streams import read_keyed_stream

    spark = run.spark
    dirs = {s: run.path(tag, "in", s) for s in ("l", "r")}
    staging, sink = run.path(tag, "staging"), os.path.join(run.dir, tag, "sink")
    ckpt = os.path.join(run.dir, tag, "checkpoint")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    def joiner(l, r):
        return F.concat(l["event_id"].cast("string"), F.lit("+"),
                        F.coalesce(r["event_id"].cast("string"), F.lit("")))

    with tracer.span("sources.streams.read_keyed_stream", "sources.streams"):
        lhs = read_keyed_stream(spark, dirs["l"], SCHEMA)
        rhs = read_keyed_stream(spark, dirs["r"], SCHEMA)
    with tracer.span("builder.start", "builder"):
        query = (LeftJoinOnTimeoutBuilder(lhs, rhs, joiner,
                                          window=f"{WINDOW_S} seconds")
                 .timeout(f"{TIMEOUT_S} seconds")
                 .enable_state_log(ckpt)
                 .sink_to("parquet", path=sink, query_name=f"pb_{tag}")
                 .start())
    t0 = time.time() + 0.2
    n_ticks = int(round((WARMUP_S + seconds + COOLDOWN_S) / TICK_S))
    gen = Generator(seed, dirs, staging, t0, n_ticks)
    try:
        gen.start()
        gen.join()
        if gen.error is not None:
            raise gen.error
        t_end = t0 + n_ticks * TICK_S
        _write_flush(dirs, staging, t_end + 3600)
        with tracer.span("sinks.drain", "sinks"):
            deadline = time.time() + 60
            while True:
                if query.exception() is not None:
                    raise RuntimeError(str(query.exception()))
                lp = query.lastProgress
                wm = lp and lp.get("eventTime", {}).get("watermark")
                if wm and parse_ts(wm) > t_end + 60:
                    break
                if time.time() > deadline:
                    raise TimeoutError("stream did not drain after flush")
                time.sleep(0.1)
        progress = [json.loads(p.json) for p in query.recentProgress]
        query_id = str(query.id)
        files, size = tree_size(ckpt)
    finally:
        query.stop()

    m0 = t0 + WARMUP_S
    m1 = m0 + seconds
    ev, rev, due, commit, batch = _sink_rows(sink)
    real = ev >= 0
    got = np.stack([ev[real], rev[real]], axis=1)
    want = _oracle_pairs(dirs)
    failed = min(pair_mismatches(got, want), len(want))
    detects = check_detects_corruption(got, want)
    if not detects:
        print("perfbench: output check missed a corrupted row",
              file=sys.stderr)
        failed += 1

    in_win = real & (due >= m0) & (due < m1)
    lag_ms = (commit - due) * 1000.0
    matched = rev >= 0
    for p in progress:
        p["_t"] = parse_ts(p["timestamp"])
    # the cool-down ticks arrive at the same rate
    eps = input_eps(progress, m0, t_end)
    lateness = gen.lateness[int(WARMUP_S / TICK_S):]
    offered = 2 * n_ticks * PER_TICK
    valid = (bool(lateness) and max(lateness) <= TICK_S
             and gen.written == offered
             and abs(eps / (2 * RATE) - 1) <= EPS_TOLERANCE)
    if not valid:
        print(f"perfbench: {tag} invalid: generator late by "
              f"{max(lateness or [float('nan')]):.3f} s, wrote "
              f"{gen.written}/{offered}, input_eps {eps:.0f}",
              file=sys.stderr)
    if listener is not None:
        progress = [p for p in listener.events if p["id"] == query_id]
    return {
        "valid": valid, "failed": failed, "attempted": len(want),
        "detects": detects,
        "lat_match": lag_ms[in_win & matched],
        "lat_timeout": lag_ms[in_win & ~matched],
        "eps": eps, "offered_events": offered, "written_events": gen.written,
        "late_p99_ms": pct(lateness, 99) * 1000,
        "progress": progress, "window": (m0, m1),
        "trigger_ms": median(p["durationMs"]["triggerExecution"]
                             for p in progress if m0 <= p["_t"] < m1
                             and p["numInputRows"] > 0),
        "emitting_batches": {
            kind: len(np.unique(batch[in_win & (matched == (kind == "match"))]))
            for kind in ("match", "timeout")},
        "files": files, "bytes": size,
    }


def warm_up(run, tag: str, seed: int) -> None:
    """A bounded stream over two past ticks plus the flush: compiles and
    runs the join once so the measured stream starts warm."""
    from left_join_on_timeout_spark.builder import LeftJoinOnTimeoutBuilder
    from left_join_on_timeout_spark.sources.streams import read_keyed_stream

    dirs = {s: run.path(tag, "in", s) for s in ("l", "r")}
    staging = run.path(tag, "staging")
    t0 = time.time() - 60
    for i in range(2):
        for side, d in dirs.items():
            pq.write_table(_tick_table(seed, side, i, t0),
                           os.path.join(d, f"tick-{i:06d}.parquet"))
    _write_flush(dirs, staging, t0 + 3600)
    spark = run.spark
    query = (LeftJoinOnTimeoutBuilder(
        read_keyed_stream(spark, dirs["l"], SCHEMA),
        read_keyed_stream(spark, dirs["r"], SCHEMA), None,
        window=f"{WINDOW_S} seconds")
        .timeout(f"{TIMEOUT_S} seconds")
        .enable_state_log(os.path.join(run.dir, tag, "checkpoint"))
        .sink_to("parquet", path=os.path.join(run.dir, tag, "sink"))
        .start())
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            lp = query.lastProgress
            wm = lp and lp.get("eventTime", {}).get("watermark")
            if wm and parse_ts(wm) > t0 + 60:
                break
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            time.sleep(0.1)
        else:
            raise TimeoutError("warm-up stream did not drain")
    finally:
        query.stop()


def _lag_detail(ph: dict, prefix: str = "") -> dict:
    d = {}
    for kind in ("match", "timeout"):
        lat = ph[f"lat_{kind}"]
        d[f"{prefix}{kind}_lag_p50_ms"] = (pct(lat, 50), "ms")
        d[f"{prefix}{kind}_lag_p90_ms"] = (pct(lat, 90), "ms")
        d[f"{prefix}{kind}_lag_rows"] = (len(lat), "count")
        d[f"{prefix}{kind}_lag_batches"] = (ph["emitting_batches"][kind],
                                            "count")
    d[f"{prefix}input_eps"] = (ph["eps"], "1/s")
    return d


def run(run, tracer) -> dict:
    t = time.time()
    run.start_spark()
    session_s = time.time() - t
    rounds = []
    for r in range(3):
        t = time.time()
        warm_up(run, f"setup{r}", run.seed + 7919 * (r + 1))
        rounds.append(time.time() - t)
    env = run.env_record()
    ph = run_phase(run, tracer, run.seed, run.seconds, "measure")
    e2e = {
        "setup_s": (session_s + median(rounds), "s"),
        "throughput_per_s": (ph["eps"], "1/s"),
    }
    if ph["valid"]:
        e2e.update({
            "latency_p50_ms": (pct(ph["lat_match"], 50), "ms"),
            "latency_p90_ms": (pct(ph["lat_match"], 90), "ms"),
            "timeout_p50_ms": (pct(ph["lat_timeout"], 50), "ms"),
            "timeout_p90_ms": (pct(ph["lat_timeout"], 90), "ms"),
        })
    detail = dict(e2e)
    if ph["valid"]:
        detail.update(_lag_detail(ph))
    detail.update({
        "peak_rss_mb": (run.peak_rss_mb(), "MB"),
        "offered_eps": (2 * RATE, "1/s"),
        "update_ms": (ph["trigger_ms"], "ms"),
        "generator.late_p99_ms": (ph["late_p99_ms"], "ms"),
        "generator.offered_events": (ph["offered_events"], "count"),
        "generator.written_events": (ph["written_events"], "count"),
        "generator.valid": (int(ph["valid"]), "bool"),
        "session.start_ms": (1000 * session_s, "ms"),
        "warmup_round_s": (median(rounds), "s"),
        "check.detects_corruption": (int(ph["detects"]), "bool"),
    })
    out = {"e2e": e2e, "detail": detail, "layers": {}, "env": env,
           "attempted": ph["attempted"], "failed": ph["failed"],
           "valid": ph["valid"]}
    if run.trace:
        _traced(run, tracer, out, ph)
    return out


def _traced(run, tracer, out: dict, untraced: dict) -> None:
    """Traced twin of the measured phase in a fresh context with the
    event log on, then the single-thread baseline on ``local[1]``."""
    t = time.time()
    spark = run.start_spark(event_log=True)
    t_session = time.time()
    warm_up(run, "trace_warm", run.seed + 3)
    listener = Listener()
    spark.streams.addListener(listener)
    tracer.enable(spark.sparkContext)
    tracer.record("session.get_spark", "session", t, t_session)
    try:
        ph = run_phase(run, tracer, run.seed, run.seconds, "traced", listener)
        tws = querymix.run_once(run, tracer, TRACE_ONCE)
    finally:
        tracer.disable()
    spark.streams.removeListener(listener)
    leaked = run.leaked_temp_dirs()
    spark = run.start_spark(cpus=1)
    warm_up(run, "setup_l1", run.seed + 1)
    one = run_phase(run, tracer, run.seed, run.seconds, "local1")
    jobs = fold_event_log(run.events_dir)

    m0, m1 = ph["window"]
    layers = streaming_metrics(
        [p for p in ph["progress"] if m0 <= p["_t"] < m1], jobs)
    per_layer, fn_detail = layer_metrics(tracer, jobs)
    layers.update(per_layer)
    overhead = pct(ph["lat_match"], 50) / pct(untraced["lat_match"], 50) - 1
    layers.update({
        "trace.overhead_share": (overhead, "ratio"),
        "trace.spans": (len(tracer.spans), "count"),
        "streaming.harness.leaked_dirs": (leaked, "count"),
    })
    layers.update(index_tier_sizes(os.environ["SPARK_GRAFT_INDEX_DIR"]))
    out["layers"] = layers
    d = out["detail"]
    d["fsio.checkpoint.files"] = (ph["files"], "count")
    d["fsio.checkpoint.bytes"] = (ph["bytes"], "bytes")
    d.update(fn_detail)
    d.update(_lag_detail(ph, "traced."))
    d.update(_lag_detail(one, "local1."))
    d["local1.update_ms"] = (one["trigger_ms"], "ms")
    d["local1.valid"] = (int(one["valid"]), "bool")
    d["trace.overhead_resolved"] = (int(LAG_SPREAD <= 0.02), "bool")
    d["trace.noise_share"] = (LAG_SPREAD, "ratio")
    d["trace.listener_events"] = (len(listener.events), "count")
    querymix.attach_jobs(tws, jobs, tracer)
    d.update(querymix.query_records(tws))
    for ph_ in (ph, one):
        out["failed"] += ph_["failed"]
        out["attempted"] += ph_["attempted"]
    out["failed"] += sum(r["failed"] for r in tws)
    out["attempted"] += len(tws)
    out["valid"] = out["valid"] and ph["valid"]
