"""Shared benchmark plumbing: process environment, Spark session, memory
sampling, Spark status-store totals, span tracing and small statistics.

The benchmark measures the program from outside.  It times calls into the
layers' public functions, reads ``query.recentProgress`` and reads Spark's
own status store; nothing here reaches into ``singer_spark`` internals.
"""

from __future__ import annotations

import contextlib
import json
import os
import shlex
import sys
import threading
import time

CPUS = min(4, os.cpu_count() or 4)
DRIVER_MEM = "1g"


# ---------------------------------------------------------------------------
# Environment and session
# ---------------------------------------------------------------------------
def prepare_env(root: str, work: str) -> None:
    """Point every temporary file of the driver, the JVM and the Python
    workers into ``work`` and make the checkout importable by the workers.
    Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = os.environ
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = local
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(CPUS)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        f"--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={shlex.quote(os.path.join(work, 'warehouse'))} "
        "pyspark-shell")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(name: str):
    """The program's own session factory (``session.get_spark``)."""
    from singer_spark.session import get_spark

    spark = get_spark(f"perfbench_{name}", shuffle_partitions=2 * CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ---------------------------------------------------------------------------
# Memory: resident set of every process this one started (the driver JVM,
# the Python daemon, its workers and the streaming-source runner)
# ---------------------------------------------------------------------------
def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants_rss_mb() -> float:
    kids = children_map()
    todo, total_kb = list(kids.get(os.getpid(), [])), 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples :func:`descendants_rss_mb` every ``INTERVAL`` seconds in a
    thread; ``peak`` is the largest sum seen."""

    INTERVAL = 0.25

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_mb())
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, descendants_rss_mb())


# ---------------------------------------------------------------------------
# Spark status store (read through the JVM gateway)
# ---------------------------------------------------------------------------
def status_totals(spark) -> dict:
    """Cumulative runtime counters of the application so far: jobs, stages,
    tasks and their executor time, CPU, GC and shuffle bytes, from the
    status store's stage list.  Take the difference of two snapshots to
    cover a phase."""
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                             gw.jvm.java.util.Collections.emptyList())
    out = {"jobs": store.jobsList(None).size(), "stages": 0, "tasks": 0,
           "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        if str(s.status()) != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks()
        out["executor_run_s"] += s.executorRunTime() / 1e3
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
    return out


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before.get(k, 0) for k in after}


# ---------------------------------------------------------------------------
# Tracing: spans around calls into the layers, recorded only in the traced
# run.  A span is (id, parent, run, name, start, end); spans stay in memory
# and are written out when the benchmark ends.
# ---------------------------------------------------------------------------
class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run = 0
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def new_run(self) -> None:
        self.run += 1

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        # foreachBatch callbacks run on a py4j callback thread: their parent
        # is the open root span (the run_cycle call), if there is one
        parent = stack[-1] if stack else self._root
        with self._lock:
            rec = {"id": len(self.spans), "parent": parent, "run": self.run,
                   "name": name, "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(rec["id"])
        if parent is None:
            self._root = rec["id"]
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self._root == rec["id"]:
                self._root = None

    def wrap(self, owner: object, attr: str, name: str | None = None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper (undone by
        :meth:`unwrap_all`)."""
        fn = getattr(owner, attr)
        label = name or attr

        def traced(*args, **kwargs):
            with self.span(label):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name: each span's duration minus the
        union of its children's intervals."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------
def repeat(fn, seconds: float, min_runs: int) -> list:
    """Call ``fn`` at least ``min_runs`` times, and again while one more
    call, at the mean duration so far, would end within ``seconds``."""
    out = []
    t0 = time.perf_counter()
    while len(out) < min_runs or (
            (time.perf_counter() - t0) * (len(out) + 1) / len(out) <= seconds):
        out.append(fn())
    return out


def median(xs) -> float:
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def progress_phases(progress: list) -> dict:
    """Sum of ``durationMs`` phases and the times of the batches that read
    rows, over ``StreamingQueryProgress`` records (a query keeps its last
    100 in ``recentProgress``)."""
    out: dict[str, float] = {}
    batches = []
    for p in progress:
        d = p.get("durationMs") or {}
        for k, v in d.items():
            out[k] = out.get(k, 0.0) + float(v)
        if p.get("numInputRows"):
            batches.append(float(d.get("triggerExecution", 0)))
    out["_batch_ms"] = batches
    return out


ENGINE_PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
                 "latestOffset", "getBatch", "triggerExecution")


def engine_metrics(phases: list[dict]) -> dict:
    """Per-query medians of the summed ``durationMs`` phases, the batch count
    and the median batch time (``phases`` holds one record per query)."""
    out = {f"engine.{k}_ms": median(p.get(k, 0.0) for p in phases)
           for k in ENGINE_PHASES}
    out["engine.batches"] = median(len(p["_batch_ms"]) for p in phases)
    out["engine.batch_ms_p50"] = median(x for p in phases for x in p["_batch_ms"])
    return out


SPAN_NAMES = ("run_cycle", "build_source", "build_transforms", "kafka_write_batch",
              "write_batch_idempotent", "make_audit_df", "audit_append")


def span_metrics(selfs: dict, n: int) -> dict:
    return {f"self.{k}_s": selfs.get(k, 0.0) / n for k in SPAN_NAMES}
