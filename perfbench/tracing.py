"""Spans and counters for the traced run (``--trace 1``).

The tracer wraps calls into the program's public functions from the
benchmark's side: it swaps a module or class attribute for a wrapper
that opens a span, calls the original and closes the span. Nothing in
the program changes, and an untraced run installs nothing.

- A span has an id, a parent id, a name, a thread, a start and an end.
  Spans live in memory and are written out when the run ends.
- Spans nest per thread. A span opened on a thread with no open span
  (the server's handler thread) takes the innermost open span of the
  thread running the operation (the client's call) as its parent, so
  one operation forms one tree.
- A span's self time is its duration minus the time its children
  cover. The root's self time is the part of the operation no layer
  span covers; the layer spans' self times sum to the rest.
- py4j commands are counted per span and per operation, excluding the
  ``m\\nd\\n`` memory-delete commands: those are sent when Python's GC
  frees a JVM object reference, so their number depends on GC timing.
- Every operation runs under its own Spark job group, so the Spark
  status store can attribute jobs, stages, tasks and executor metrics
  to it (``spark_status``).
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

import py4j.clientserver

_MEMORY_DELETE = "m\nd\n"


class Span:
    __slots__ = ("id", "parent", "name", "thread", "t0", "t1", "py4j", "op")

    def __init__(self, sid, parent, name, op):
        self.id, self.parent, self.name, self.op = sid, parent, name, op
        self.thread = threading.get_ident()
        self.t0 = time.perf_counter()
        self.t1 = None
        self.py4j = 0

    def as_dict(self) -> dict:
        return {"id": self.id, "parent": self.parent, "name": self.name,
                "op": self.op, "thread": self.thread, "start": self.t0,
                "end": self.t1, "py4j": self.py4j}


class Tracer:
    """Collects spans, py4j counts and per-operation job groups."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op: int | None = None  # index of the operation in flight
        self.op_stack: list[Span] | None = None  # the op thread's open spans
        self.group: str | None = None
        self.last_df = None  # DataFrame the last Engine.sql returned
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        top = st or self.op_stack
        parent = top[-1].id if top else None
        s = Span(next(self._ids), parent, name, self.op)
        st.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def operation(self, index: int, name: str):
        """Root span of one timed operation, under its own job group."""
        self.op, self.last_df = index, None
        self.group = f"perfbench-op-{index}"
        self.set_job_group()
        with self.span(name) as root:
            self.op_stack = self._stack()
            try:
                yield root
            finally:
                self.op_stack = self.op = None

    def set_job_group(self) -> None:
        """Tag the calling thread's Spark jobs with the current op."""
        t0 = time.perf_counter()
        self._local.quiet = True
        try:
            self.spark.sparkContext.setJobGroup(self.group, self.group, False)
        finally:
            self._local.quiet = False
            self.bookkeeping_s += time.perf_counter() - t0

    # -- patches ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, before=None,
             on_return=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs inside a span;
        ``before()`` runs first, ``on_return(result)`` after."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before()
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def count_py4j(self) -> None:
        conn = py4j.clientserver.ClientServerConnection
        orig = conn.send_command
        tracer = self

        def send_command(self_, command, *args, **kwargs):
            if not command.startswith(_MEMORY_DELETE) and not getattr(
                tracer._local, "quiet", False
            ):
                st = tracer._stack()
                if st:
                    st[-1].py4j += 1
            return orig(self_, command, *args, **kwargs)

        self._patches.append((conn, "send_command", orig))
        conn.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    @contextmanager
    def quiet(self):
        """Run tracer-side JVM calls without counting them."""
        t0 = time.perf_counter()
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False
            self.bookkeeping_s += time.perf_counter() - t0

    # -- per-op derived numbers -----------------------------------------

    def catalyst_ms(self) -> dict[str, float] | None:
        """Catalyst phase times of the DataFrame the op's Engine.sql
        returned. Optimization and planning run here, after the op,
        on that DataFrame's own QueryExecution (the op itself planned
        a ``limit``/write wrapper of it)."""
        df, self.last_df = self.last_df, None
        if df is None or not hasattr(df, "_jdf"):
            return None
        with self.quiet():
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            it = qe.tracker().phases().iterator()
            out = {}
            while it.hasNext():
                t = it.next()
                out[str(t._1())] = float(t._2().durationMs())
        return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s.t0
        for c in sorted(kids.get(s.id, []), key=lambda c: c.t0):
            a, b = max(c.t0, end, s.t0), min(c.t1, s.t1)
            if b > a:
                covered += b - a
                end = b
        out[s.id] = (s.t1 - s.t0) - covered
    return out


def write_spans(path: str, spans: list[Span]) -> None:
    with open(path, "w") as f:
        for s in sorted(spans, key=lambda s: s.t0):
            f.write(json.dumps(s.as_dict()) + "\n")


# -- Spark status store (read through the UI's REST API) -------------------

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_total(value: str) -> float:
    """First number of a SQL-metric string, in bytes, seconds or units.

    Forms: ``"12"``, ``"1.5 MiB"``, ``"total (min, med, max (...))\\n
    3.1 MiB (...)"``, ``"0 ms"``.
    """
    body = value.split("\n", 1)[1] if "\n" in value else value
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", body)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def spark_status(spark) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and tasks run, executor metrics of
    those stages, and the SQL metrics of Python/Arrow exec nodes."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=60) as r:
            return json.load(r)

    jobs = get("/jobs")
    stages = {(s["stageId"], s["attemptId"]): s for s in get("/stages")}
    out: dict[str, dict[str, float]] = {}
    job_group: dict[int, str] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if not g:
            continue
        job_group[j["jobId"]] = g
        a = out.setdefault(g, _zero())
        a["jobs"] += 1
        a["tasks"] += j["numCompletedTasks"]
        a["stages"] += j["numCompletedStages"]
        run = [s for (sid, _), s in stages.items()
               if sid in j["stageIds"] and s["status"] == "COMPLETE"]
        for s in run:
            a["task_run_s"] += s["executorRunTime"] / 1e3
            a["task_cpu_s"] += s["executorCpuTime"] / 1e9
            a["gc_s"] += s["jvmGcTime"] / 1e3
            a["input_mb"] += s["inputBytes"] / 2**20
            a["shuffle_read_mb"] += s["shuffleReadBytes"] / 2**20
            a["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
            a["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 2**20
    for e in get("/sql?details=true&planDescription=false&length=1000000"):
        ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
        groups = {job_group[i] for i in ids if i in job_group}
        if len(groups) != 1:
            continue
        a = out[groups.pop()]
        nodes = {n["nodeId"]: n for n in e["nodes"]}
        py = {i for i, n in nodes.items()
              if re.search(r"Python|Pandas|Arrow", n["nodeName"])}
        for i in py:
            for m in nodes[i].get("metrics", []):
                name = m["name"].lower()
                if name == "data sent to python workers":
                    a["python_mb_in"] += _metric_total(m["value"]) / 2**20
                elif name == "time to run python workers":
                    a["python_s"] += _metric_total(m["value"])
                elif name == "number of output rows":
                    a["python_rows_out"] += _metric_total(m["value"])
    return out


def _zero() -> dict[str, float]:
    return dict.fromkeys(
        ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
         "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
         "python_rows_out", "python_mb_in", "python_s"), 0.0)


def jvm_memory(spark) -> dict[str, float]:
    """Heap peak (sum of heap pools' peaks) and GC seconds so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peak = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if str(p.getType().toString()) == "Heap memory")
    gc = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
    return {"heap_peak_mb": peak / 2**20, "gc_s": gc / 1e3}


def reset_jvm_peaks(spark) -> None:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for p in mf.getMemoryPoolMXBeans():
        p.resetPeakUsage()
