"""Tracing for the benchmark's traced run, from outside the program and
through public Spark interfaces only:

- ``Tracer`` wraps the public functions of the library's layers in span
  recorders and labels the Spark jobs launched inside a span through
  the ``callSite.short`` local property;
- ``JobCounter`` counts a gate's jobs, stages and tasks through
  ``SparkContext.statusTracker()``;
- ``StreamListener`` counts micro-batches through a
  ``StreamingQueryListener``;
- ``read_event_log`` rolls up an uncompressed Spark event log.
"""

from __future__ import annotations

import importlib
import itertools
import json
import pkgutil
import sys
import threading
import types
from dataclasses import dataclass, field
from datetime import datetime
from time import perf_counter

# Library packages whose public functions become spans.  The gate call
# itself (the ``workload`` layer) is a span the harness records.
LAYERS = ("functions", "operators", "extended", "sources", "convert", "streaming", "concurrency")
_PKG = "pandasy_spark"
# Column-expression constructors launch no jobs and run thousands of times
# per pass; they get spans but no job label (a label costs two JVM
# round trips).
_UNLABELLED = {"functions"}


def layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if len(parts) >= 2 and parts[0] == _PKG and parts[1] in LAYERS:
        return parts[1]
    return None


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    t0: float
    t1: float
    sample: int | None


@dataclass
class Tracer:
    sc: object
    spans: list = field(default_factory=list)
    sample: int | None = None  # the gate sample in flight (closed loop: one)
    enabled: bool = True

    def __post_init__(self):
        self._ids = itertools.count()
        self._local = threading.local()

    def __reduce__(self):
        # a wrapped function pickled into a Python worker carries a
        # disabled tracer: spans are recorded on the driver only
        return (types.SimpleNamespace, (), {"enabled": False})

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, fn, layer: str, name: str):
        tracer, label = self, layer not in _UNLABELLED

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            if label:
                prev = tracer.sc.getLocalProperty("callSite.short")
                tracer.sc.setLocalProperty("callSite.short", name)
            t0 = perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = perf_counter()
                if label:
                    tracer.sc.setLocalProperty("callSite.short", prev)
                stack.pop()
                tracer.spans.append(Span(sid, parent, layer, name, t0, t1, tracer.sample))

        traced.__name__ = fn.__name__
        traced.__qualname__ = fn.__qualname__
        traced.__module__ = fn.__module__
        traced.__doc__ = fn.__doc__
        traced.__wrapped__ = fn
        return traced

    def install(self) -> int:
        """Replace every reference to a public layer function, in every
        loaded module of the library, by its span-recording wrapper.
        Returns the number of functions wrapped."""
        for layer in LAYERS:
            pkg = importlib.import_module(f"{_PKG}.{layer}")
            for info in pkgutil.walk_packages(getattr(pkg, "__path__", []), f"{_PKG}.{layer}."):
                importlib.import_module(info.name)
        wrappers: dict[int, object] = {}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == _PKG or mod_name.startswith(_PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if not isinstance(val, types.FunctionType) or val.__name__.startswith("_"):
                    continue
                layer = layer_of(val.__module__)
                if layer is None:
                    continue
                w = wrappers.get(id(val))
                if w is None:
                    name = f"{val.__module__[len(_PKG) + 1:]}.{val.__name__}"
                    w = wrappers[id(val)] = self.wrap(val, layer, name)
                setattr(mod, attr, w)
        return len(wrappers)


class JobCounter:
    """Jobs of one gate sample: its job group's ids plus the ungrouped
    ids first seen during it (``concurrency`` pool threads drop the
    group).  Streaming micro-batches run under their query's own group
    and are counted by ``StreamListener`` instead."""

    def __init__(self, sc):
        self.sc = sc
        self.st = sc.statusTracker()
        self.seen_ungrouped = set(self.st.getJobIdsForGroup(None))

    def jobs(self, group: str) -> set[int]:
        ungrouped = set(self.st.getJobIdsForGroup(None))
        new = ungrouped - self.seen_ungrouped
        self.seen_ungrouped |= ungrouped
        return set(self.st.getJobIdsForGroup(group)) | new

    def stages_tasks(self, job_ids) -> tuple[int, int]:
        stages = tasks = 0
        for jid in job_ids:
            info = self.st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = self.st.getStageInfo(sid)
                if stage is not None:  # skipped stages never ran
                    stages += 1
                    tasks += stage.numTasks
        return stages, tasks


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps one tuple per
    micro-batch: (trigger epoch s, query id, batch id, input rows,
    trigger ms, state rows, state bytes)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            self.batches.append((
                _iso_epoch(p.timestamp), str(p.id), p.batchId, p.numInputRows,
                (p.durationMs or {}).get("triggerExecution", 0),
                sum(o.numRowsTotal for o in ops), sum(o.memoryUsedBytes for o in ops),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamListener()


@dataclass
class LogJob:
    job_id: int
    group: str | None
    label: str | None
    submit_s: float
    end_s: float
    stages: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    empty_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


def read_event_log(path: str) -> tuple[dict[int, LogJob], dict[int, StageTotals]]:
    """Jobs (with group, ``callSite.short`` label and wall interval in
    epoch seconds) and per-stage task totals from an uncompressed event
    log.  Uses the standard library only."""
    jobs: dict[int, LogJob] = {}
    stages: dict[int, StageTotals] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = LogJob(
                    ev["Job ID"], props.get("spark.jobGroup.id"), props.get("callSite.short"),
                    ev["Submission Time"] / 1000, ev["Submission Time"] / 1000, list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(ev["Stage ID"], StageTotals())
                inp = (m.get("Input Metrics") or {})
                srd = (m.get("Shuffle Read Metrics") or {})
                swr = (m.get("Shuffle Write Metrics") or {})
                st.tasks += 1
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ns += m.get("Executor CPU Time", 0)
                st.gc_ms += m.get("JVM GC Time", 0)
                st.input_bytes += inp.get("Bytes Read", 0)
                st.shuffle_read_bytes += srd.get("Remote Bytes Read", 0) + srd.get("Local Bytes Read", 0)
                st.shuffle_write_bytes += swr.get("Shuffle Bytes Written", 0)
                if not inp.get("Records Read", 0) and not srd.get("Total Records Read", 0):
                    st.empty_tasks += 1
    return jobs, stages
