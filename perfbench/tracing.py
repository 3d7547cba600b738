"""Tracing for the traced run: spans, entry-point wrappers, Spark
event-log parsing and a streaming progress listener.

Every measurement is taken from outside the program, at its public
boundaries:

- spans around each query and its build / plan / action steps
  (recorded by the runner),
- wrappers around ``catalog.load_table``, the ``TxTable`` methods,
  ``ecs.World.run_system`` / ``ecs.Schedule.run`` and the
  ``streaming.pipeline.run_*`` functions; a module that imported one of
  them by name is rebound too,
- Catalyst planning: the optimizer and physical-planning phases that
  each query execution's own ``QueryPlanningTracker`` records, read by
  a ``QueryExecutionListener``,
- the Spark event log (jobs, stages, task metrics, SQL plan metrics),
  written by Spark's own writer, which is on the listener bus only
  while the traced passes run,
- a ``StreamingQueryListener`` for micro-batch progress.

Spans stay in memory; ``Tracer.dump`` writes them out at the end.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass
from datetime import datetime


def _schedule_systems(schedule, *_args, **_kwargs) -> int:
    return sum(len(stage) for stage in schedule.stages())


# wrapped entry points: (module, attribute path, layer, units of work
# per call, or None for one)
ENTRY_POINTS = [
    ("zmaxion_spark.catalog", "load_table", "catalog", None),
    ("zmaxion_spark.ecs", "World.run_system", "ecs", None),
    ("zmaxion_spark.ecs", "Schedule.run", "ecs", _schedule_systems),
    ("zmaxion_spark.streaming.pipeline", "run_available_now", "pipeline", None),
    ("zmaxion_spark.streaming.pipeline", "run_to_parquet", "pipeline", None),
    ("zmaxion_spark.streaming.pipeline", "run_foreach_batch", "pipeline", None),
]
TXLOG_CLASS = ("zmaxion_spark.txlog", "TxTable")

# SQL plan nodes that run Python workers (UDFs, pandas/arrow maps,
# Python data sources)
_PY_NODE_MARKERS = ("Python", "Pandas", "Arrow")
_PY_METRICS = {
    "data sent to Python workers": "sent",
    "data returned from Python workers": "returned",
    "number of output rows": "rows",
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    qid: str | None
    n: int = 1  # units of work the call did (e.g. ECS systems run)


class Tracer:
    """Collects spans; ``enabled`` gates recording so the wrappers can
    stay installed for the whole run and cost one flag test when off.

    Each thread keeps its own stack of open spans. A span opened on
    another thread with nothing open there (a ``foreachBatch`` callback
    runs on a py4j callback thread) takes as parent the innermost span
    open on the thread that created the tracer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.qid: str | None = None
        self._main = threading.get_ident()
        self._stacks: dict[int, list[int]] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._stacks.setdefault(threading.get_ident(), [])
        outer = stack or self._stacks.get(self._main) or [None]
        s = Span(len(self.spans), name, layer, time.time(), 0.0, outer[-1], self.qid)
        self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()

    def wrap(self, fn, name: str, layer: str, count=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer) as s:
                if count is not None:
                    s.n = count(*args, **kwargs)
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every entry point (once per process) and rebind each
        module global that held the original by name."""
        for mod_name, path, layer, count in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            owner_path, _, attr = path.rpartition(".")
            owner = getattr(mod, owner_path) if owner_path else mod
            orig = getattr(owner, attr)
            wrapped = self.wrap(orig, path, layer, count)
            setattr(owner, attr, wrapped)
            if not owner_path:
                _rebind(orig, wrapped)
        mod_name, cls_name = TXLOG_CLASS
        cls = getattr(importlib.import_module(mod_name), cls_name)
        for attr, orig in list(vars(cls).items()):
            if attr.startswith("_") or not inspect.isfunction(orig):
                continue
            setattr(cls, attr, self.wrap(orig, f"{cls_name}.{attr}", "txlog"))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _rebind(orig, wrapped) -> None:
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("zmaxion_spark"):
            continue
        for k, v in list(vars(mod).items()):
            if v is orig:
                setattr(mod, k, wrapped)


# ---------------------------------------------------------------- streaming


class ProgressListener:
    """Keeps each micro-batch's durationMs phases and state-store
    figures; appends only, as listener callbacks must not block."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._listener = None

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                ops = p.stateOperators or []
                events.append({
                    "t": datetime.fromisoformat(p.timestamp).timestamp(),
                    "input_rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs or {}),
                    "state_commit_ms": sum(o.commitTimeMs for o in ops),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                })

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def detach(self, spark) -> None:
        """Stop listening; call after ``drain``."""
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None


def drain(spark) -> None:
    """Wait until every listener has handled every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# ---------------------------------------------------------------- planning

_PLAN_PHASES = ("optimization", "planning")


class PlanListener:
    """Records the optimizer and physical-planning phases of every query
    execution that succeeds, as (phase, start, end) in epoch seconds.

    The timings are the execution's own (its ``QueryPlanningTracker``),
    so a query is planned once, by the action that runs it. A py4j
    listener cannot be unregistered (each call passes a new proxy), so
    ``detach`` only stops the recording."""

    def __init__(self) -> None:
        self.phases: list[tuple[str, float, float]] = []
        self.recording = False

    def attach(self, spark) -> None:
        """Register the listener (once per session) and start recording."""
        from pyspark.java_gateway import ensure_callback_server_started

        self.recording = True
        ensure_callback_server_started(spark.sparkContext._gateway)
        outer = self

        class _L:
            def onSuccess(self, func_name, qe, duration_ns) -> None:
                if not outer.recording:
                    return
                ph = qe.tracker().phases()
                for k in _PLAN_PHASES:
                    if ph.contains(k):
                        p = ph.apply(k)
                        outer.phases.append((k, p.startTimeMs() / 1e3, p.endTimeMs() / 1e3))

            def onFailure(self, func_name, qe, exception) -> None:
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        spark._jsparkSession.listenerManager().register(_L())

    def detach(self) -> None:
        """Stop recording; call after ``drain``."""
        self.recording = False


# ---------------------------------------------------------------- event log


class EventLogWriter:
    """Spark's event-log writer, put on the listener bus by hand so that
    only the traced passes pay for it (``spark.eventLog.enabled`` would
    log the whole run). Writes uncompressed JSON lines under ``log_dir``."""

    def __init__(self, spark, log_dir: str) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        conf = self._sc.conf().clone().set("spark.eventLog.compress", "false")
        self._writer = sc._jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._sc.applicationId(), sc._jvm.scala.Option.apply(None),
            sc._jvm.java.io.File(log_dir).toURI(), conf, sc._jsc.hadoopConfiguration())

    def start(self) -> None:
        self._writer.start()
        self._sc.addSparkListener(self._writer)

    def stop(self) -> None:
        """Remove the writer and close its file; call after ``drain``."""
        self._sc.removeSparkListener(self._writer)
        self._writer.stop()


@dataclass
class EventLog:
    jobs: list[dict]   # {id, submit, end}
    stages: list[dict]  # {id, submit, n_tasks}
    tasks: list[dict]  # task-end figures, times in s
    py_ids: dict[int, str]  # accumulator id -> sent/returned/rows


def read_event_log(log_dir: str) -> EventLog:
    """Parse every event-log file under ``log_dir`` (Spark writes one
    JSON object per line; the file is complete after
    ``EventLogWriter.stop``)."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    tasks: list[dict] = []
    py_ids: dict[int, str] = {}
    # Spark 4 writes a directory per application holding rolled files
    # events_<n>_<app>; read them in <n> order
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(("appstatus", "."))]
    paths.sort(key=lambda p: (os.path.dirname(p), _roll_index(p)))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"id": ev["Job ID"],
                                          "submit": ev["Submission Time"] / 1e3,
                                          "end": None}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if si.get("Submission Time") is not None:
                        stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                            "id": si["Stage ID"],
                            "submit": si["Submission Time"] / 1e3,
                            "n_tasks": si["Number of Tasks"],
                        }
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task_figures(ev))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _python_metric_ids(ev.get("sparkPlanInfo") or {}, py_ids)
    return EventLog(sorted(jobs.values(), key=lambda j: j["submit"]),
                    list(stages.values()), tasks, py_ids)


def _roll_index(path: str) -> int:
    parts = os.path.basename(path).split("_")
    return int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0


def _task_figures(ev: dict) -> dict:
    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
    sr, sw = tm.get("Shuffle Read Metrics") or {}, tm.get("Shuffle Write Metrics") or {}
    im = tm.get("Input Metrics") or {}
    return {
        "launch": ti["Launch Time"] / 1e3,
        "finish": ti["Finish Time"] / 1e3,
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "bytes_read": im.get("Bytes Read", 0),
        "rows_read": im.get("Records Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
        "spill": tm.get("Disk Bytes Spilled", 0) + tm.get("Memory Bytes Spilled", 0),
        "accums": {a["ID"]: a.get("Update") for a in ti.get("Accumulables") or []},
    }


def _python_metric_ids(node: dict, out: dict[int, str]) -> None:
    if any(m in node.get("nodeName", "") for m in _PY_NODE_MARKERS):
        for m in node.get("metrics") or []:
            kind = _PY_METRICS.get(m.get("name"))
            if kind:
                out[m["accumulatorId"]] = kind
    for child in node.get("children") or []:
        _python_metric_ids(child, out)


# ---------------------------------------------------------------- self time


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: Σ (span duration − the part its children cover)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out
