"""Tracing for the per-layer run, kept entirely in the benchmark's files.

* Spans: every public function (and public method of a public class)
  defined in a layer module is replaced by a wrapper that records
  ``(layer, name, start, end, parent, op)``. The benchmark drives one
  client, so one process-wide stack nests spans correctly even when a
  streaming ``foreachBatch`` callback runs on a py4j callback thread while
  its caller blocks. Spans stay in memory until the run ends.
* py4j: ``ClientServerConnection.send_command`` is wrapped to count
  Python→JVM round trips per op.
* Spark: ops are tagged with ``SparkContext.setJobGroup`` and the event
  log (enabled for traced runs only) is folded into task metrics per op.

:func:`install` must run before ``__spark_entry__`` (or any module that
binds layer functions with ``from … import``) is imported; it also
rebinds such names in package modules that are already loaded.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict

#: module → layer name. ``sources.commitfs`` reports under sources.manifest.
LAYERS = {
    "tibame_project_spark.session": "session",
    "tibame_project_spark.catalog": "catalog",
    "tibame_project_spark.sources.manifest": "sources.manifest",
    "tibame_project_spark.sources.commitfs": "sources.manifest",
    "tibame_project_spark.streaming.incremental": "streaming.incremental",
    "tibame_project_spark.plans.warehouse": "plans.warehouse",
    "tibame_project_spark.operators.joins": "operators.joins",
    "tibame_project_spark.operators.dedup": "operators.dedup",
    "tibame_project_spark.operators.similarity": "operators.similarity",
    "tibame_project_spark.operators.analytics": "operators.analytics",
    "tibame_project_spark.operators.corrections": "operators.corrections",
    "tibame_project_spark.functions.textstats": "functions.textstats",
}
#: layers whose spans build lazy plans; an op's executor time is charged
#: to the one whose call was outermost in it (see ``Tracer.op_owner``)
PLAN_LAYERS = [
    "operators.joins", "operators.dedup", "operators.similarity",
    "operators.analytics", "operators.corrections", "functions.textstats",
]


class Span:
    __slots__ = ("layer", "name", "start", "end", "parent", "op", "raised",
                 "child_s")

    def __init__(self, layer, name, start, parent, op):
        self.layer, self.name, self.start = layer, name, start
        self.parent, self.op = parent, op
        self.end = start
        self.raised = False
        self.child_s = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self.enabled = False
        self.op: str | None = None
        self.py4j: dict[str, int] = defaultdict(int)
        self.captured: dict[str, object] = {}

    # -- spans ---------------------------------------------------------------
    def _enter(self, layer: str, name: str) -> Span:
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            span = Span(layer, name, time.perf_counter(), parent, self.op)
            self._stack.append(span)
            self.spans.append(span)
            return span

    def _exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        with self._lock:
            if span in self._stack:
                # a span abandoned by an exception deeper down is closed too
                while self._stack and self._stack.pop() is not span:
                    pass
            if span.parent is not None:
                span.parent.child_s += span.end - span.start

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer._enter(layer, name)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                span.raised = True
                raise
            finally:
                tracer._exit(span)
            if name in tracer.captured:
                tracer.captured[name] = out
            return out

        return functools.wraps(fn)(traced)

    def install(self) -> None:
        """Wrap every layer's public functions and methods, then rebind
        names already imported elsewhere in the package."""
        import py4j.clientserver

        swapped: dict[int, object] = {}
        for mod_name, layer in LAYERS.items():
            mod = importlib.import_module(mod_name)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod_name:
                    continue
                if inspect.isfunction(obj):
                    w = self._wrap(layer, attr, obj)
                    swapped[id(obj)] = w
                    setattr(mod, attr, w)
                elif inspect.isclass(obj):
                    for m, fn in list(vars(obj).items()):
                        if not m.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, m, self._wrap(layer, f"{attr}.{m}", fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("tibame_project_spark") and mod is not None:
                for attr, obj in list(vars(mod).items()):
                    if id(obj) in swapped:
                        setattr(mod, attr, swapped[id(obj)])

        conn = py4j.clientserver.ClientServerConnection
        send = conn.send_command
        tracer = self

        def send_command(self_, command):
            if tracer.enabled:
                with tracer._lock:
                    tracer.py4j[tracer.op] += 1
            return send(self_, command)

        conn.send_command = send_command

    @staticmethod
    def op_owner(spans: list[Span]) -> str | None:
        """The plan layer of the op's last top-level plan-building call:
        the transform applied last wraps the others, so it is outermost in
        the plan that runs."""
        for s in reversed(spans):
            if s.parent is None and s.layer in PLAN_LAYERS:
                return s.layer
        return None


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """``(jobs, tasks_by_job)`` from every Spark event log under ``log_dir``:
    ``jobs[id] = {group, start_ms, end_ms, stages}``, and per job the
    summed task metrics."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    metrics: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    for i, path in enumerate(sorted(glob.glob(f"{log_dir}/*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = (i, ev["Job ID"])
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start_ms": ev["Submission Time"],
                        "end_ms": ev["Submission Time"],
                        "stages": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((i, sid), jid)
                elif kind == "SparkListenerJobEnd":
                    jid = (i, ev["Job ID"])
                    if jid in jobs:
                        jobs[jid]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get((i, ev["Stage Info"]["Stage ID"]))
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get((i, ev["Stage ID"]))
                    tm = ev.get("Task Metrics")
                    if jid is None or not tm:
                        continue
                    m = metrics[jid]
                    m["tasks"] += 1
                    m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    m["spill_bytes"] += (
                        tm.get("Memory Bytes Spilled", 0)
                        + tm.get("Disk Bytes Spilled", 0)
                    )
                    sr = tm.get("Shuffle Read Metrics", {})
                    m["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    sw = tm.get("Shuffle Write Metrics", {})
                    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    im = tm.get("Input Metrics", {})
                    m["input_bytes"] += im.get("Bytes Read", 0)
                    m["input_records"] += im.get("Records Read", 0)
                    m["output_bytes"] += tm.get("Output Metrics", {}).get(
                        "Bytes Written", 0
                    )
    return jobs, metrics


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
