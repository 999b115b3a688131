"""Span recording from outside the program.

``Tracer.wrap`` replaces a module function or class method of the
package with a wrapper that records a span around each call: name,
start, end, parent span and request id. Spans stay in memory and are
written once, at the end of a run. Nothing here edits the package; the
wrappers are installed by the benchmark's own processes before the
server or the workload starts.

``spark_stats`` reads what Spark already keeps for an executed
DataFrame: the QueryExecution tracker's phase times and the SQL metrics
of the executed plan (scan rows and bytes, shuffle bytes, rows through
Python operators).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    """In-memory spans. A thread records while its request says so
    (``set_request(req, on=…)``), and otherwise while ``enabled``."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = False
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    # -- request context (per thread)
    def set_request(self, req: str | None, on: bool | None = None) -> None:
        """Tag this thread's spans with ``req``; ``on`` switches
        recording for this thread alone (``None``: follow ``enabled``)."""
        self._local.req = req
        self._local.on = on

    def recording(self) -> bool:
        on = getattr(self._local, "on", None)
        return self.enabled if on is None else on

    def request(self) -> str | None:
        return getattr(self._local, "req", None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.recording():
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "req": self.request(),
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Record ``name`` around every call of ``owner.attr``;
        ``after(span, result, args)`` may annotate the span."""
        inner = getattr(owner, attr)
        tracer = self

        @functools.wraps(inner)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                result = inner(*args, **kwargs)
                if rec is not None and after is not None:
                    after(rec, result, args)
                return result

        setattr(owner, attr, wrapper)

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as fh:
            json.dump(spans, fh, default=str)


# ------------------------------------------------------------ span maths
def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the time its direct children cover."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: max(0.0, s["end"] - s["start"] - child_time.get(s["id"], 0.0)) for s in spans}


def by_name(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


# ------------------------------------------------------------ spark side
_PYTHON_NODES = ("MapInPandas", "MapInArrow", "PythonMapInArrow", "ArrowEvalPython",
                 "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                 "AggregateInPandas", "WindowInPandas")


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def _walk(node):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _walk(node.executedPlan())
        return
    if "QueryStage" in name:
        yield from _walk(node.plan())
        return
    yield name, node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def spark_stats(df, result_rows: int) -> dict:
    """Phase times and executed-plan metrics of a collected DataFrame."""
    out = {"result_rows": result_rows}
    try:
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        scan_rows = scan_bytes = shuffle_bytes = python_rows = 0
        for name, node in _walk(qe.executedPlan()):
            if name.startswith("Scan") or name in ("InMemoryTableScan", "LocalTableScan"):
                scan_rows += _metric(node, "numOutputRows")
                scan_bytes += _metric(node, "filesSize")
            elif name == "Exchange":
                shuffle_bytes += _metric(node, "dataSize")
            elif name.startswith(_PYTHON_NODES):
                python_rows += _metric(node, "pythonNumRowsReceived")
        out.update(scan_rows=scan_rows, scan_bytes=scan_bytes,
                   shuffle_bytes=shuffle_bytes, python_rows=python_rows)
    except Exception as exc:  # noqa: BLE001 — stats are best effort; record why
        out["error"] = f"{type(exc).__name__}: {exc}"
    return out


def job_stats(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            stage = tracker.getStageInfo(sid)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def storage_mb(sc) -> float:
    """Block-manager memory held by cached / checkpointed RDD blocks."""
    return sum(info.memSize() for info in sc._jsc.sc().getRDDStorageInfo()) / 1e6


def install_spark_tracing(tracer: Tracer, dataframe_cls) -> None:
    """Wrap the DataFrame actions the package uses, recording per-action
    Spark statistics on the span (only while tracing is enabled)."""

    def after_collect(rec, result, args):
        rows = len(result) if hasattr(result, "__len__") else 0
        rec["attrs"].update(spark_stats(args[0], rows))

    for action in ("collect", "toPandas"):
        tracer.wrap(dataframe_cls, action, "spark.collect", after=after_collect)
