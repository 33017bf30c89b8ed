"""Traced mode: spans around the package's public functions, py4j counts and
the Spark event log, all attached from outside the package.

- :func:`install` replaces every public function of ``tables``,
  ``operators.*``, ``functions.*``, ``streaming.*`` and the
  ``util.pipeline_cache`` family, in every module that binds it, with a
  wrapper that records a span while the tracer is active and calls straight
  through otherwise.  Callables a wrapped factory returns (``.transform``
  closures, ``foreachBatch`` writers) are wrapped in turn.  It must run
  before ``__spark_entry__`` is imported, whose ``from ... import`` lines
  bind the functions at import time.
- :class:`Tracer` keeps the spans (per-thread stacks, per-layer self time),
  tags Spark job groups ``<query>|<phase>|<layer>`` when the innermost layer
  changes, and counts py4j round trips per phase by wrapping the gateway
  client's ``send_command``.
- :func:`parse_event_log` folds the uncompressed event log into per-tag job,
  stage, task and SQL-execution figures.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from collections import Counter, defaultdict

PKG = "akka_stream_contrib_spark"
CACHE_FUNCS = ("pipeline_cache", "release_pipeline_cache", "drop_stale_caches",
               "retain_pipeline_caches")

#: the active tracer; ``None`` in Python workers, where wrappers pass through
TRACER = None


def layer_of(module: str, name: str) -> str | None:
    if module == f"{PKG}.tables":
        return "tables"
    if module == f"{PKG}.util":
        return "cache" if name in CACHE_FUNCS else None
    for layer in ("operators", "functions", "streaming"):
        if module == f"{PKG}.{layer}" or module.startswith(f"{PKG}.{layer}."):
            return layer
    return None


def _wrap(fn, layer: str, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = TRACER
        if tracer is None or not tracer.active:
            return fn(*args, **kwargs)
        tracer.enter(layer, name)
        try:
            out = fn(*args, **kwargs)
        finally:
            tracer.exit()
        # a factory's product (a .transform closure, a foreachBatch writer)
        # does the factory's real work later; a pandas UDF keeps its own
        # attributes, so it is left alone
        if inspect.isfunction(out) and not hasattr(out, "evalType"):
            out = _wrap(out, layer, f"{name}.<returned>")
        return out
    traced.__perfsuite_wrapped__ = True
    return traced


def install(tracer: "Tracer") -> int:
    """Import every package module, wrap the public functions of the traced
    layers wherever they are bound, and make ``tracer`` the active one.
    Returns the number of functions wrapped."""
    global TRACER
    TRACER = tracer
    pkg = importlib.import_module(PKG)
    for sub in ("operators", "functions", "streaming"):
        spkg = importlib.import_module(f"{PKG}.{sub}")
        for info in pkgutil.iter_modules(spkg.__path__):
            importlib.import_module(f"{PKG}.{sub}.{info.name}")
    importlib.import_module(f"{PKG}.tables")
    importlib.import_module(f"{PKG}.util")
    del pkg
    wrappers: dict[int, object] = {}
    for modname, mod in list(sys.modules.items()):
        if not (modname == PKG or modname.startswith(PKG + ".")) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(val) \
                    or getattr(val, "__perfsuite_wrapped__", False):
                continue
            layer = layer_of(val.__module__, val.__name__)
            if layer is None:
                continue
            w = wrappers.get(id(val))
            if w is None:
                w = wrappers[id(val)] = _wrap(val, layer, val.__name__)
            setattr(mod, attr, w)
    return len(wrappers)


class Tracer:
    """Spans and counts of one traced run.  ``active`` switches recording
    on and off without unwrapping, so plain and traced passes can alternate
    in one process."""

    def __init__(self):
        self.active = False
        self.sc = None
        self.query = "-"
        self.phase = "-"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._tag = None
        self._internal = False
        self.self_s: Counter = Counter()      # layer -> self time
        self.calls: Counter = Counter()       # function name -> calls
        self.durations: dict[str, list[float]] = defaultdict(list)
        self.py4j: Counter = Counter()        # phase -> round trips
        self.table_loads = 0
        self.table_hits = 0

    # -- wiring ------------------------------------------------------------
    def attach(self, spark) -> None:
        """Count py4j round trips from this Python process to the JVM."""
        self.sc = spark.sparkContext
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self.active and not self._internal:
                with self._lock:
                    self.py4j[self.phase] += 1
            return send(*args, **kwargs)

        client.send_command = counted

    def _set_tag(self, layer: str) -> None:
        tag = f"{self.query}|{self.phase}|{layer}"
        if tag == self._tag or self.sc is None:
            return
        self._internal = True
        try:
            self.sc.setJobGroup(tag, tag)
        finally:
            self._internal = False
        self._tag = tag

    def begin(self, query: str, phase: str) -> None:
        self.query, self.phase = query, phase
        self._set_tag(phase)

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def enter(self, layer: str, name: str) -> None:
        st = self._stack()
        if layer == "tables" and name == "load":
            from akka_stream_contrib_spark import tables
            cache_size = len(tables._LOAD_CACHE)
        else:
            cache_size = None
        st.append([layer, name, time.perf_counter(), 0.0, cache_size])
        if threading.current_thread() is threading.main_thread():
            self._set_tag(layer)

    def exit(self) -> None:
        st = self._stack()
        layer, name, t0, child, cache_size = st.pop()
        dur = time.perf_counter() - t0
        with self._lock:
            self.self_s[layer] += dur - child
            self.calls[name] += 1
            self.durations[name].append(dur)
            if cache_size is not None:
                from akka_stream_contrib_spark import tables
                self.table_loads += 1
                self.table_hits += len(tables._LOAD_CACHE) == cache_size
        if st:
            st[-1][3] += dur
        if threading.current_thread() is threading.main_thread():
            self._set_tag(st[-1][0] if st else self.phase)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def _tag_parts(tag: str | None) -> tuple[str, str, str] | None:
    if not tag or tag.count("|") != 2:
        return None
    q, phase, layer = tag.split("|")
    return q, phase, layer


def _job_tag(group: str | None) -> tuple[str, str, str] | None:
    """A job's tag; a streaming query runs its batches under a job group of
    its own run id, tagged ``(<run id>, "stream", "stream")``."""
    if not group:
        return None
    return _tag_parts(group) or (group, "stream", "stream")


def read_events(log_dir: str) -> list[dict]:
    """Events of every log under ``log_dir``: a single-file log or a rolling
    ``eventlog_v2_*`` directory of ``events_<n>_*`` parts."""
    def part_no(path):
        name = os.path.basename(path)
        return int(name.split("_")[1]) if name.startswith("events_") else 0
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")]
    events = []
    for path in sorted(files, key=lambda p: (os.path.dirname(p), part_no(p))):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                events.append(json.loads(line))
    return events


def parse_event_log(events: list[dict]) -> dict:
    """Fold events into per-tag figures.

    Returns ``{"jobs": [...], "stages": {...}, "tasks": [...],
    "executions": {...}}`` where every job, stage, task and SQL execution
    carries the ``(query, phase, layer)`` tag of the job group it ran in
    (an execution without a tagged description takes its first job's).
    """
    stage_tag: dict[int, tuple] = {}
    jobs, tasks = [], []
    executions: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tag = _job_tag(props.get("spark.jobGroup.id"))
            exec_id = props.get("spark.sql.execution.id")
            jobs.append({"tag": tag, "submit": ev.get("Submission Time", 0) / 1000})
            for sid in ev.get("Stage IDs", []):
                stage_tag.setdefault(sid, tag)
            if exec_id and int(exec_id) in executions \
                    and executions[int(exec_id)]["tag"] is None:
                executions[int(exec_id)]["tag"] = tag
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
            stages[info["Stage ID"]] = {
                "tag": stage_tag.get(info["Stage ID"]),
                "submit": info.get("Submission Time", 0) / 1000, "acc": acc}
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            tasks.append({
                "tag": stage_tag.get(ev.get("Stage ID")),
                "launch": info.get("Launch Time", 0) / 1000,
                "finish": info.get("Finish Time", 0) / 1000,
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            executions[ev["executionId"]] = {
                "tag": _tag_parts(ev.get("description")),
                "start": ev["time"] / 1000, "replans": 0}
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if ev["executionId"] in executions:
                executions[ev["executionId"]]["replans"] += 1
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "executions": executions}


def busy_wall(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def python_bytes(acc: dict) -> float:
    """Bytes moved between the JVM and Python workers, from a stage's SQL
    metric accumulables."""
    total = 0.0
    for name, val in acc.items():
        if name and "Python" in name and "data" in name:
            try:
                total += float(val)
            except (TypeError, ValueError):
                pass
    return total
