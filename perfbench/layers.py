"""Per-layer decomposition for the traced benchmark run.

Everything here observes the program from outside; nothing in the package is
changed on disk:

- :class:`Tracer` records a span (name, layer, start, end, parent, execution
  id, SQL executions started) around every call into a layer's public
  functions.  :func:`install` rebinds those functions under every name a
  package module holds them by, because the ``plans`` modules bind them at
  import (``from ..dedup.components import connected_components``).
- :class:`StatusProbe` reads Spark's status stores before and after one
  query execution: jobs, stages, tasks, executor time, shuffle, output and
  the Python-worker SQL metrics of every SQL execution in the window.
- :class:`StateListener` sums streaming progress (batches, rows, state-store
  commit time) per window.
"""

from __future__ import annotations

import functools
import importlib
import json
import pkgutil
import re
import sys
import threading
import time
import types

from py4j.protocol import Py4JJavaError

PKG = "acousticbrainz_server_spark"

# module prefix -> layer; the first match wins
LAYER_PREFIXES = (
    (f"{PKG}.sources.tables", "sources.read"),
    (f"{PKG}.sources.dumps", "sources.write"),
    (f"{PKG}.sources.archive", "sources.write"),
    (f"{PKG}.sources.layout", "sources.write"),
    (f"{PKG}.dedup.", "dedup"),
    (f"{PKG}.operators.", "operators"),
    (f"{PKG}.similarity.", "similarity"),
    (f"{PKG}.streaming.ingest_stream", "streaming"),
)

LAYER_PACKAGES = ("sources", "dedup", "operators", "similarity", "streaming")

PYTHON_METRICS = {
    "time to run Python workers": "pyworker.total_s",
    "time to start Python workers": "pyworker.boot_s",
    "time to initialize Python workers": "pyworker.boot_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_received",
}

_SEP = "\x1f"

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def layer_of(modname: str) -> str | None:
    for prefix, layer in LAYER_PREFIXES:
        if modname == prefix or modname.startswith(prefix):
            return layer
    return None


class Tracer:
    """In-memory span recorder.  ``sql_probe()`` returns the id of the newest
    SQL execution, so each span also counts the executions it started."""

    def __init__(self, sql_probe):
        self.sql_probe = sql_probe
        self.enabled = False
        self.exec_id = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, layer: str, name: str) -> dict:
        stack = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        span = {
            "id": sid,
            "parent": stack[-1]["id"] if stack else None,
            "exec": self.exec_id,
            "layer": layer,
            "name": name,
            "sql0": self.sql_probe(),
            "child_s": 0.0,
            "child_sql": 0,
            "t0": time.perf_counter(),
        }
        stack.append(span)
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        span["sql1"] = self.sql_probe()
        stack = self._stack()
        stack.pop()
        dur = span["t1"] - span["t0"]
        sql = span["sql1"] - span["sql0"]
        span["self_s"] = dur - span.pop("child_s")
        span["self_sql"] = sql - span.pop("child_sql")
        if stack:
            stack[-1]["child_s"] += dur
            stack[-1]["child_sql"] += sql
        with self._lock:
            self.spans.append(span)

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        span = self.begin(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(span)

    def layer_totals(self, exec_ids: set) -> dict[str, float]:
        """Self time, self SQL executions and call count per layer over the
        spans of the given executions."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["exec"] not in exec_ids:
                continue
            layer = s["layer"]
            out[f"{layer}.self_s"] = out.get(f"{layer}.self_s", 0.0) + s["self_s"]
            out[f"{layer}.self_sql"] = out.get(f"{layer}.self_sql", 0) + s["self_sql"]
            out[f"{layer}.calls"] = out.get(f"{layer}.calls", 0) + 1
            if layer == "plans":
                out["plans.eager_sql_execs"] = out.get("plans.eager_sql_execs", 0) + s["sql1"] - s["sql0"]
        return out

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Traced:
    """Callable stand-in for a layer function.  Pickles as the original
    function, so a UDF that closes over it ships the untraced function to
    the Python workers."""

    def __init__(self, fn, layer: str, tracer: Tracer):
        functools.update_wrapper(self, fn)
        self._fn = fn
        self._layer = layer
        self._tracer = tracer
        self._name = f"{fn.__module__.removeprefix(PKG + '.')}.{fn.__name__}"

    def __call__(self, *args, **kwargs):
        if not self._tracer.enabled:
            return self._fn(*args, **kwargs)
        return self._tracer.call(self._layer, self._name, self._fn, *args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


def install(tracer: Tracer) -> None:
    """Wrap every public function of every layer module and rebind it under
    each name any package module holds it by."""
    for sub in LAYER_PACKAGES:
        pkg = importlib.import_module(f"{PKG}.{sub}")
        for info in pkgutil.iter_modules(pkg.__path__, pkg.__name__ + "."):
            importlib.import_module(info.name)  # plans modules import some lazily
    wrapped: dict = {}
    mods = [(n, m) for n, m in list(sys.modules.items()) if m is not None and (n == PKG or n.startswith(PKG + "."))]
    for modname, mod in mods:
        layer = layer_of(modname)
        if layer is None:
            continue
        for name, obj in vars(mod).items():
            if not name.startswith("_") and isinstance(obj, types.FunctionType) and obj.__module__ == modname:
                wrapped[obj] = _Traced(obj, layer, tracer)
    for _, mod in mods:
        for name, obj in list(vars(mod).items()):
            if isinstance(obj, types.FunctionType) and obj in wrapped:
                setattr(mod, name, wrapped[obj])


def _parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric: the total on the line after the
    ``total (min, med, max ...)`` header, or the whole string for a sum."""
    if not text:
        return 0.0
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusProbe:
    """Before/after snapshots of Spark's status stores around one window."""

    STAGE_FIELDS = (
        ("executor.run_s", "executorRunTime", 1e-3),
        ("executor.cpu_s", "executorCpuTime", 1e-9),
        ("executor.gc_s", "jvmGcTime", 1e-3),
        ("shuffle.read_bytes", "shuffleReadBytes", 1),
        ("shuffle.write_bytes", "shuffleWriteBytes", 1),
        ("shuffle.spill_bytes", "memoryBytesSpilled", 1),
        ("writer.output_bytes", "outputBytes", 1),
        ("writer.output_records", "outputRecords", 1),
    )

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._sc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.listenerBus()
        gw = spark.sparkContext._gateway
        self._no_tasks = self._jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(self._jvm.double, 0)

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def sql_id(self) -> int:
        """Id of the newest SQL execution the status store has seen (-1 if
        none).  The store is bounded, so counting is not monotonic; the
        newest id is."""
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return self._sql.executionsList(int(n) - 1, 1).head().executionId()

    def snapshot(self) -> tuple[int, int]:
        # py4j hands the AtomicInteger back as a plain int
        return int(self._sc.dagScheduler().nextJobId()), self.sql_id()

    def window(self, before: tuple[int, int], t0: float, t1: float) -> dict[str, float]:
        """Deltas between ``before`` and now.  ``t0``/``t1`` are the window's
        epoch seconds, used for the no-stage share of wall time."""
        self.drain()
        job1, sql1 = self.snapshot()
        job0, sql0 = before
        out = dict.fromkeys(
            ("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "pyworker.total_s", "pyworker.boot_s",
             "pyworker.bytes_sent", "pyworker.bytes_received"), 0.0)
        out.update((k, 0.0) for k, _, _ in self.STAGE_FIELDS)
        out["scheduler.sql_execs"] = sql1 - sql0
        out["scheduler.jobs"] = job1 - job0
        stage_ids: set[int] = set()
        for j in range(job0, job1):
            try:
                job = self._store.job(j)
            except Py4JJavaError:  # evicted from the bounded store
                continue
            it = job.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        intervals = []
        for sid in sorted(stage_ids):
            try:
                attempts = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            except Py4JJavaError:
                continue
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                if st.status().toString() == "SKIPPED":
                    continue
                out["scheduler.stages"] += 1
                out["scheduler.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                for key, field, scale in self.STAGE_FIELDS:
                    out[key] += getattr(st, field)() * scale
                sub, comp = st.submissionTime(), st.completionTime()
                if sub.isDefined() and comp.isDefined():
                    intervals.append((sub.get().getTime() / 1000.0, comp.get().getTime() / 1000.0))
        for eid in range(sql0 + 1, sql1 + 1):
            ex = self._sql.execution(eid)
            if not ex.isDefined():
                continue
            # One py4j call each: Scala's mkString instead of per-element
            # calls.  An execution's values come from its own tasks only, so
            # they are summed over executions; accumulator ids are shared
            # across the micro-batches of one stream and repeat within one
            # execution's plan (AQE re-plans), so the map is per execution.
            wanted = {}
            for item in ex.get().metrics().mkString(_SEP).split(_SEP):
                m = re.fullmatch(r"SQLPlanMetric\((.*),(\d+),([^,]*)\)", item, re.S)
                if m and m.group(1) in PYTHON_METRICS:
                    wanted[m.group(2)] = PYTHON_METRICS[m.group(1)]
            if not wanted:
                continue
            for item in self._sql.executionMetrics(eid).mkString(_SEP).split(_SEP):
                acc, _, text = item.partition(" -> ")
                if acc in wanted:
                    out[wanted[acc]] += _parse_metric(text)
        out["scheduler.no_stage_s"] = max(0.0, (t1 - t0) - _covered(intervals, t0, t1))
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def make_state_listener():
    """A StreamingQueryListener that sums progress into ``totals`` until
    :meth:`take` resets it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StateListener(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._reset()

        def _reset(self):
            self.totals = dict.fromkeys(
                ("state.batches", "state.input_rows", "state.commit_ms", "state.add_batch_ms"), 0.0)
            self._rows_total: dict[str, int] = {}

        def take(self) -> dict[str, float]:
            with self._lock:
                out = dict(self.totals)
                out["state.rows_total"] = float(sum(self._rows_total.values()))
                self._reset()
            return out

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            with self._lock:
                self.totals["state.batches"] += 1
                self.totals["state.input_rows"] += p.numInputRows or 0
                self.totals["state.add_batch_ms"] += (p.durationMs or {}).get("addBatch", 0)
                self.totals["state.commit_ms"] += sum(op.commitTimeMs or 0 for op in ops)
                if ops:
                    self._rows_total[str(p.id)] = sum(op.numRowsTotal or 0 for op in ops)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StateListener()
