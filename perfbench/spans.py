"""Spans and Spark counters for the traced run.

A :class:`Tracer` wraps the program's public functions at their module
attributes (every module that bound the same function object is patched,
so the program's own internal calls are traced too) and records one span
per call: name, layer, start, end, parent and run id.  After every job
it reads the Spark status store for that job's group: stage metrics from
``AppStatusStore.lastStageAttempt`` and the Python-worker SQL metrics
from the SQL status store.  ``uninstall()`` restores every attribute, so
untraced passes run the pristine program.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import re
import sys
import time

from py4j.protocol import Py4JJavaError

#: layer -> (module name, which public functions).  ``None`` means every
#: public function defined in that module.
WRAPPED = {
    "session": ("p2_mapreduce_spark.session", ("get_spark", "load_table")),
    "entry.shared": ("__spark_entry__", "_shared_"),
    "operators.graph": ("p2_mapreduce_spark.operators.graph", None),
    "operators.dedup": ("p2_mapreduce_spark.operators.dedup", None),
    "mapreduce": ("p2_mapreduce_spark.mapreduce", ("run_mapreduce", "run_mapreduce_by_name")),
    "sources.read": ("p2_mapreduce_spark.sources.readers", ("read_text_records", "read_table")),
    "sources.write": ("p2_mapreduce_spark.sources.writers", None),
}

#: SQL metric display names of Spark's PythonSQLMetrics.
PY_TIME = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")

_UNIT = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value, e.g. ``'1.2 s'`` or
    ``'total (min, med, max (stageId: taskId))\\n3.4 MiB (...)'``."""
    line = text.strip().splitlines()[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "B", 1)


class Span:
    __slots__ = ("name", "layer", "start", "end", "parent", "run", "children", "extra")

    def __init__(self, name, layer, start, parent, run):
        self.name, self.layer, self.start, self.end = name, layer, start, None
        self.parent, self.run, self.children, self.extra = parent, run, [], {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.run = None
        self._undo: list = []

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(name, layer, time.perf_counter(), parent, self.run)
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()

    def _wrapper(self, fn, layer):
        tracer = self
        shared = layer == "entry.shared"
        writer = layer == "sources.write"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if shared:
                import __spark_entry__ as entry

                before = set(entry._DEDUP_STAGE_MEMO)
            with tracer.span(fn.__name__, layer) as s:
                out = fn(*args, **kwargs)
            if shared:
                s.extra["new_keys"] = len(set(entry._DEDUP_STAGE_MEMO) - before)
            if writer:
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
                s.extra["path"] = path
            return out

        return traced

    # -- patching ------------------------------------------------------
    def install(self) -> None:
        index: dict[int, list] = {}
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == "__spark_entry__" or mname.startswith("p2_mapreduce_spark")):
                continue
            for attr, val in list(vars(mod).items()):
                if callable(val):
                    index.setdefault(id(val), []).append((mod, attr, val))
        for layer, (mname, which) in WRAPPED.items():
            mod = sys.modules.get(mname)
            if mod is None:
                __import__(mname)
                mod = sys.modules[mname]
            for attr, fn in list(vars(mod).items()):
                if not inspect.isfunction(fn) or fn.__module__ != mname:
                    continue
                if which is None:
                    ok = not attr.startswith("_")
                elif isinstance(which, str):
                    ok = attr.startswith(which)
                else:
                    ok = attr in which
                if not ok:
                    continue
                w = self._wrapper(fn, layer)
                for m, a, v in index.get(id(fn), [(mod, attr, fn)]):
                    setattr(m, a, w)
                    self._undo.append((m, a, v))

    def uninstall(self) -> None:
        while self._undo:
            m, a, v = self._undo.pop()
            setattr(m, a, v)

    def dump(self, path: str) -> None:
        """Write every span as JSON; ``parent`` is an index into the list."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        with open(path, "w") as f:
            json.dump([
                {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
                 "parent": index.get(id(s.parent)), "run": s.run}
                for s in self.spans
            ], f)


class SparkCounters:
    """Per-job-group reads of the status stores (call right after each
    job: ``spark.ui.retainedStages`` ages old stages out)."""

    KEYS = (
        "jobs", "stages", "task_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "input_bytes", "failed_tasks",
        "python_s", "python_boot_s", "python_bytes",
    )

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.skip_past()

    def skip_past(self) -> None:
        """Forget the SQL executions so far (call before a traced pass)."""
        lst = self.sql.executionsList()
        self.next_exec = lst.last().executionId() + 1 if lst.size() else 0

    def read(self, group: str) -> dict:
        self.bus.waitUntilEmpty()
        out = dict.fromkeys(self.KEYS, 0.0)
        jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
        out["jobs"] = len(jobs)
        stage_ids = set()
        for j in jobs:
            info = self.sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # never ran (skipped) or aged out
                continue
            if str(st.status().toString()) in ("SKIPPED", "PENDING"):
                continue
            out["stages"] += 1
            out["task_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            out["failed_tasks"] += st.numFailedTasks()
        # SQL executions started since the last read: Python-worker metrics
        eid = self.next_exec
        while not self.sql.execution(eid).isEmpty():
            ex = self.sql.execution(eid).get()
            eid += 1
            plan = ex.physicalPlanDescription() or ""
            if "Python" not in plan and "Pandas" not in plan:
                continue  # no Python worker in this plan
            names = {}
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                names[m.accumulatorId()] = m.name()
            vit = self.sql.executionMetrics(eid - 1).iterator()
            while vit.hasNext():
                kv = vit.next()
                name = names.get(kv._1())
                if name == PY_TIME:
                    out["python_s"] += parse_metric(kv._2())
                elif name in PY_BOOT:
                    out["python_boot_s"] += parse_metric(kv._2())
                elif name in PY_BYTES:
                    out["python_bytes"] += parse_metric(kv._2())
        self.next_exec = eid
        return out
