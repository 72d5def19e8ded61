"""Run environment, statistics and tracing shared by the workloads.

A run owns one directory under ``.perfbench_run/`` in the checkout. Its
temp dir, index root, Spark local dirs, checkpoints, event log and inputs
all live there, and the whole tree is removed when the run ends.

Tracing is off unless ``--trace 1``. A traced run first measures the
workload untraced, in a Spark context without an event log, exactly as a
``--trace 0`` run does. It then restarts the context with Spark's event
log switched on from outside the library (``spark.eventLog.*`` JVM system
properties, read by every new ``SparkConf``) and measures once more with
spans: every call the benchmark makes into a layer, and every call into a
public function or method of a layer module (wrapped for the traced phase
only), runs inside a span (name, layer, start, end, parent, workload).
The span id becomes the Spark job description, so after the context stops
the event log folds into per-span jobs, stages, tasks, executor time,
shuffle and spill.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.getcwd()
RUN_BASE = os.path.join(ROOT, ".perfbench_run")
PKG = "left_join_on_timeout_spark"
# The package's own modules, one layer each; ``queries`` is the registry
# (its spans are the benchmark's calls into the registered functions).
LAYERS = [
    "session", "sources.tables", "sources.streams", "builder", "sinks",
    "streaming.timeout_join", "streaming.harness", "streaming.timer_join",
    "streaming.timer_core", "operators.timeout_join", "operators.asof_join",
    "operators.ann_index", "operators.text_index", "operators.lsh_index",
    "fsio", "queries",
]
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def steal_share(since: tuple[int, int]) -> float:
    """Share of the CPU time since a ``cpu_ticks()`` reading that the
    hypervisor gave to other guests: the main source of run-to-run spread
    on a shared host."""
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(total - since[1], 1)


class Run:
    """Per-run directories and the environment the library reads.

    Must be created before pyspark is imported: the JVM, the Python
    workers and ``tempfile`` all pick up ``TMPDIR``/``SPARK_LOCAL_DIRS``
    from the environment at start."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.started = time.time()
        self.dir = os.path.join(RUN_BASE, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.tmp = self.path("tmp")
        self.events_dir = self.path("eventlog")
        os.environ.update({
            "TMPDIR": self.tmp,
            "SPARK_GRAFT_INDEX_DIR": self.path("index"),
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            # the host is shared; the workloads stay far below this
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options=-Djava.io.tmpdir={self.tmp} "
                "pyspark-shell"),
        })
        import tempfile
        tempfile.tempdir = None
        self.spark = None
        self.jvm_proc = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_spark(self, cpus: int | None = None, event_log: bool = False):
        """Start the library's session (stopping the current one first),
        at another width or with Spark's event log on if asked."""
        from pyspark import SparkContext

        from left_join_on_timeout_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            props = gw.jvm.java.lang.System
            for k, v in EVENT_LOG_CONF.items():
                if event_log:
                    props.setProperty(k, v)
                else:
                    props.clearProperty(k)
            if event_log:
                props.setProperty("spark.eventLog.dir",
                                  f"file://{self.events_dir}")
            else:
                props.clearProperty("spark.eventLog.dir")
        elif event_log:
            raise RuntimeError("start the untraced session first")
        spark = get_spark(app_name=f"perfbench-{self.workload}", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        self.spark = spark
        self.jvm_proc = getattr(SparkContext._gateway, "proc", None)
        return spark

    def env_record(self) -> dict:
        sc = self.spark.sparkContext
        return {"master": sc.master,
                "default_parallelism": int(sc.defaultParallelism),
                "cpus": cpu_count()}

    def elapsed(self) -> float:
        return time.time() - self.started

    def peak_rss_mb(self) -> float:
        """High-water resident set of the driver JVM plus this process."""
        pids = ["self"] + ([str(self.jvm_proc.pid)] if self.jvm_proc else [])
        kb = 0
        for pid in pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0

    def leaked_temp_dirs(self) -> int:
        return len(glob.glob(os.path.join(self.tmp, "ljot_*")))

    def stop(self) -> None:
        """Stop Spark, end the JVM and every child, remove the run tree."""
        try:
            if "pyspark" in sys.modules:
                self._stop_spark()
        finally:
            _reap_children()
            shutil.rmtree(self.dir, ignore_errors=True)
            try:
                os.rmdir(RUN_BASE)
            except OSError:
                pass

    def _stop_spark(self) -> None:
        from pyspark import SparkContext

        import subprocess

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            # The JVM exits when its stdin closes. (Shutting the Py4J
            # callback server down first can block forever once a
            # listener has used it.)
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None) if gw else None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _reap_children() -> None:
    pid = os.getpid()
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as fh:
            kids = fh.read().split()
    except OSError:
        return
    for k in kids:
        try:
            os.kill(int(k), 9)
            os.waitpid(int(k), 0)
        except (ProcessLookupError, ChildProcessError):
            pass


# -- statistics -------------------------------------------------------------

def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    pos = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else float("nan")


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


# -- tracing ----------------------------------------------------------------

class Tracer:
    """Spans around calls into the library.

    Disabled, ``span`` only times the call. Enabled, it also records the
    span and tags every Spark job the call starts with the span id (the
    job description, a thread-local property). The span stack is per
    thread: streaming callbacks run on their own threads."""

    def __init__(self, workload: str):
        self.workload = workload
        self.enabled = False
        self.sc = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patched: list[tuple] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def enable(self, sc) -> None:
        """Record spans and wrap every layer's public functions."""
        self.enabled, self.sc = True, sc
        self._wrap_layers()

    def disable(self) -> None:
        self.enabled = False
        for namespace, name, original in reversed(self._patched):
            if isinstance(namespace, type):
                setattr(namespace, name, original)
            else:
                namespace[name] = original
        self._patched = []

    @contextmanager
    def span(self, name: str, layer: str = "bench", **attrs):
        rec = {"name": name, "layer": layer, "workload": self.workload,
               **attrs}
        if not self.enabled:
            rec["start"] = time.time()
            yield rec
            rec["end"] = time.time()
            return
        stack = self._stack()
        sid = next(self._ids)
        rec.update(id=sid, parent=stack[-1] if stack else None)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty("spark.job.description", f"pb{sid}:{name}")
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty("spark.job.description", prev)
            self.spans.append(rec)

    def _wrapped(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(f"{layer}.{name}", layer=layer):
                return fn(*args, **kwargs)
        return traced

    def _wrap_layers(self) -> None:
        """Replace each public function of a layer module, wherever the
        package holds a reference to it, and each public method of a
        class the module defines, by a wrapper that opens a span."""
        swap: dict[int, tuple] = {}
        for layer in LAYERS[:-1]:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(
                        obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    swap[id(obj)] = (obj, self._wrapped(layer, name, obj))
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            self._patched.append((obj, m, fn))
                            setattr(obj, m, self._wrapped(
                                layer, f"{name}.{m}", fn))
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            namespace = vars(mod)
            for k, v in list(namespace.items()):
                hit = swap.get(id(v))
                if hit is not None and hit[0] is v:
                    self._patched.append((namespace, k, v))
                    namespace[k] = hit[1]

    def record(self, name: str, layer: str, start: float, end: float) -> None:
        """A span for a call made before tracing could start (the
        session that tracing needs)."""
        self.spans.append({"id": next(self._ids), "parent": None,
                           "name": name, "layer": layer, "start": start,
                           "end": end, "workload": self.workload})

    def by_id(self) -> dict[int, dict]:
        return {s["id"]: s for s in self.spans}

    def descendants(self, sid: int) -> set[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s.get("parent") is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(kids.get(cur, []))
        return out


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def fold_event_log(events_dir: str) -> list[dict]:
    """Spark event logs → one record per job: description, streaming
    query and batch id, wall interval and the summed metrics of the
    stages it ran."""
    out = []
    for path in sorted(glob.glob(os.path.join(events_dir, "*")),
                       key=os.path.getmtime):
        out.extend(_fold_one_log(path))
    return out


def _fold_one_log(path: str) -> list[dict]:
    """A stage is charged to the first job that lists it; later jobs
    that list it skip it."""
    jobs: dict[int, dict] = {}
    stage_owner: dict[int, int] = {}
    stages: list[tuple[int, dict]] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "desc": props.get("spark.job.description") or "",
                    "batch": props.get("streaming.sql.batchId"),
                    "query": props.get("sql.streaming.queryId"),
                    "t0": ev.get("Submission Time", 0) / 1000.0,
                    "t1": None, "stages": 0, "tasks": 0, "run_ms": 0,
                    "shuffle_bytes": 0, "spill_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_owner.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = \
                        ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value")
                       for a in info.get("Accumulables", [])}
                stages.append((info["Stage ID"], {
                    "tasks": _num(info.get("Number of Tasks")),
                    "run_ms": _num(acc.get("internal.metrics.executorRunTime")),
                    "shuffle_bytes": (
                        _num(acc.get("internal.metrics.shuffle.write.bytesWritten"))
                        + _num(acc.get("internal.metrics.shuffle.read.remoteBytesRead"))
                        + _num(acc.get("internal.metrics.shuffle.read.localBytesRead"))),
                    "spill_bytes": (
                        _num(acc.get("internal.metrics.memoryBytesSpilled"))
                        + _num(acc.get("internal.metrics.diskBytesSpilled"))),
                }))
    for sid, m in stages:
        job = jobs.get(stage_owner.get(sid))
        if job is None:
            continue
        job["stages"] += 1
        for k, v in m.items():
            job[k] += v
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return sorted(jobs.values(), key=lambda j: j["id"])


def span_id_of(job: dict) -> int | None:
    desc = job["desc"]
    if desc.startswith("pb") and ":" in desc:
        head = desc[2:desc.index(":")]
        if head.isdigit():
            return int(head)
    return None


def layer_metrics(tracer: Tracer, jobs: list[dict]) -> tuple[dict, dict]:
    """Per-layer and per-function records from the traced phase's spans.

    ``ms`` is the wall time inside a layer's outermost calls (a call
    made from inside the same layer is not counted again). ``jobs``,
    ``executor_run_ms`` and ``shuffle_bytes`` are charged to the
    innermost span whose thread started the job. Returns the per-layer
    metrics (every layer, zero when the workload never called it) and
    the per-function detail."""
    spans = tracer.by_id()
    own: dict[int, list] = {}
    for j in jobs:
        sid = span_id_of(j)
        if sid in spans:
            own.setdefault(sid, []).append(j)

    def nested_in_same_layer(s: dict) -> bool:
        p = s.get("parent")
        while p is not None:
            if spans[p]["layer"] == s["layer"]:
                return True
            p = spans[p].get("parent")
        return False

    zero = {"calls": 0, "ms": 0.0, "jobs": 0, "executor_run_ms": 0,
            "shuffle_bytes": 0}
    per_layer = {layer: dict(zero) for layer in LAYERS}
    per_fn: dict[str, dict] = {}
    for s in spans.values():
        if s["layer"] not in per_layer:
            continue
        mine = own.get(s["id"], [])
        outer = not nested_in_same_layer(s)
        fn_key = s["name"] if s["layer"] != "queries" else "queries.fn"
        for rec, counts_ms in ((per_layer[s["layer"]], outer),
                               (per_fn.setdefault(fn_key, dict(zero)),
                                True)):
            rec["calls"] += 1
            if counts_ms:
                rec["ms"] += 1000 * (s["end"] - s["start"])
            rec["jobs"] += len(mine)
            rec["executor_run_ms"] += sum(j["run_ms"] for j in mine)
            rec["shuffle_bytes"] += sum(j["shuffle_bytes"] for j in mine)
    units = {"calls": "count", "ms": "ms", "jobs": "count",
             "executor_run_ms": "ms", "shuffle_bytes": "bytes"}
    layers = {f"{layer}.{k}": (v, units[k])
              for layer, rec in per_layer.items()
              for k, v in rec.items() if k != "calls"}
    detail = {f"{layer}.calls": (rec["calls"], "count")
              for layer, rec in per_layer.items()}
    for name, rec in sorted(per_fn.items()):
        if name == "queries.fn":
            continue
        detail.update({f"fn.{name}.{k}": (v, units[k])
                       for k, v in rec.items()})
    return layers, detail


def tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, name))
                files += 1
            except OSError:
                pass
    return files, size


# Index tiers under the index root, by the directory names the saved
# index functions give them.
INDEX_TIERS = ("ivf2", "text", "lsh")


def index_tier_sizes(root: str) -> dict:
    """``fsio.<tier>.{files,bytes}`` of every saved-index tier."""
    sizes = {t: [0, 0] for t in INDEX_TIERS}
    if os.path.isdir(root):
        for name in os.listdir(root):
            tier = next((t for t in INDEX_TIERS if t in name.lower()), None)
            if tier is None:
                continue
            f, b = tree_size(os.path.join(root, name))
            sizes[tier][0] += f
            sizes[tier][1] += b
    out = {}
    for t, (f, b) in sizes.items():
        out[f"fsio.{t}.files"] = (f, "count")
        out[f"fsio.{t}.bytes"] = (b, "bytes")
    return out


# -- streaming progress -----------------------------------------------------

def parse_ts(s: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def Listener():
    """A StreamingQueryListener that keeps every progress event (as a
    dict, with its trigger start in epoch seconds under ``_t``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            p["_t"] = parse_ts(p["timestamp"])
            self.events.append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def streaming_metrics(progress: list[dict], jobs: list[dict]) -> dict:
    """Per-layer streaming metrics over micro-batch progress events
    (each with ``_t``): phase medians over batches that read input,
    no-data share, watermark gap, state size, and the Spark tasks and
    executor time of each batch's jobs (matched on query and batch id)."""
    data = [p for p in progress if p["numInputRows"] > 0]
    by_batch: dict[tuple, list] = {}
    for j in jobs:
        if j["batch"] is not None and j["query"] is not None:
            by_batch.setdefault((j["query"], int(j["batch"])), []).append(j)
    per_batch = [by_batch.get((p["id"], p["batchId"]), []) for p in data]

    def dur(p, *ks):
        return sum(p["durationMs"].get(k, 0) for k in ks)

    state = [s for p in progress for s in p.get("stateOperators", [])]
    wstate = [s for p in data for s in p.get("stateOperators", [])]
    # only for streams whose event time is wall time (not the bounded
    # drains over historical tables)
    gaps = [1000 * (p["_t"] - parse_ts(p["eventTime"]["watermark"]))
            for p in progress
            if p.get("eventTime", {}).get("watermark", "").startswith("2")
            and abs(p["_t"] - parse_ts(p["eventTime"]["watermark"])) < 3600]
    return {
        "streaming.trigger_ms": (median(dur(p, "triggerExecution") for p in data), "ms"),
        "streaming.add_batch_ms": (median(dur(p, "addBatch") for p in data), "ms"),
        "streaming.query_planning_ms": (median(dur(p, "queryPlanning") for p in data), "ms"),
        "streaming.offset_ms": (median(dur(p, "latestOffset", "getBatch") for p in data), "ms"),
        "streaming.wal_commit_ms": (median(dur(p, "walCommit", "commitOffsets") for p in data), "ms"),
        "state.commit_ms": (median(s.get("commitTimeMs", 0) for s in wstate), "ms"),
        "spark.tasks_per_batch": (median(sum(j["tasks"] for j in js) for js in per_batch), "count"),
        "spark.executor_run_ms_per_batch": (median(sum(j["run_ms"] for j in js) for js in per_batch), "ms"),
        "streaming.no_data_share": ((len(progress) - len(data)) / max(len(progress), 1), "ratio"),
        "streaming.watermark_gap_ms": (median(gaps), "ms"),
        "streaming.input_rows_per_batch": (median(p["numInputRows"] for p in data), "count"),
        "streaming.batches": (len(progress), "count"),
        "state.rows_total_max": (max([s.get("numRowsTotal", 0) for s in state] or [0]), "count"),
        "state.memory_bytes_max": (max([s.get("memoryUsedBytes", 0) for s in state] or [0]), "bytes"),
        "state.rows_dropped": (sum(s.get("numRowsDroppedByWatermark", 0) for s in state), "count"),
    }
