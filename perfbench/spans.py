"""Spans and counters for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into
each layer's public functions; nothing inside ``yuki_spark`` changes.
:func:`install` rebinds the layer entry points where their callers look
them up:

- ``catalog.load`` in every ``yuki_spark`` module that did
  ``from ..catalog import load``;
- ``artifact_store.deposit_or_reuse`` in every module that imported it
  (the ``*_family`` modules, ``curation``) and on ``artifact_store``
  itself (``docs`` imports it at call time);
- ``ImpressionStore.write`` / ``read`` / ``exists`` and its metadata
  methods, and ``StatusStore.record``, on their classes;
- the pyspark calls that run jobs (``collect``, ``count``, writes, ...)
  on their classes, as ``spark`` spans.

A pipeline task's function is wrapped by the caller that builds the
pipeline (:func:`traced_task`).

A span is (id, name, start, end, parent, attrs), kept in memory and
written out when the run ends. A span opened on a thread that has no
open span of its own (a program-side thread pool) takes the latest
span still open as its parent.
"""
from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from typing import Any


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open: list[int] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs: Any):
        if not self.enabled:
            yield attrs
            return
        st = self._stack()
        with self._lock:
            # a thread with no open span of its own (a program-side
            # pool) hangs its spans under the latest span still open
            parent = st[-1] if st else (self._open[-1] if self._open else None)
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "start": time.perf_counter(),
                   "end": None, "parent": parent, "attrs": attrs}
            self.spans.append(rec)
            self._open.append(sid)
        st.append(sid)
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            st.pop()
            with self._lock:
                self._open.remove(sid)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


TRACER = Tracer()


def self_times(spans: list[dict[str, Any]]) -> dict[str, float]:
    """Self time per span name over ``spans``: each span's duration
    minus the union of its child spans' intervals (children looked up
    among every recorded span, clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in TRACER.spans:
        if s["parent"] is not None and s["end"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, 0.0, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
    return out


def span_cost_s(n: int = 2000) -> float:
    """Seconds one span costs the traced thread (calibrated here)."""
    t = Tracer()
    t.enabled = True
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def dir_bytes(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def _traced(fn, name: str, **attrs: Any):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with TRACER.span(name, **attrs):
            return fn(*a, **kw)

    return wrapper


# pyspark calls that run Spark jobs from the driver: each becomes a
# ``spark`` span wherever the engine makes it
_SPARK_ACTIONS = {
    "DataFrame": ("collect", "count", "toPandas", "take", "toLocalIterator",
                  "localCheckpoint", "checkpoint"),
    "DataFrameWriter": ("save", "parquet", "saveAsTable", "insertInto"),
}


def install() -> None:
    """Rebind every layer entry point to a span-recording wrapper."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from yuki_spark import catalog
    from yuki_spark.pipeline.impressions import ImpressionStore
    from yuki_spark.pipeline.status import StatusStore
    from yuki_spark.queries import artifact_store

    load = catalog.load

    @functools.wraps(load)
    def traced_load(spark, sf_dir, name, *a, **kw):
        with TRACER.span("catalog", table=name):
            return load(spark, sf_dir, name, *a, **kw)

    dor = artifact_store.deposit_or_reuse

    @functools.wraps(dor)
    def traced_deposit(spark, root, key, version, dep_ids, builder, computes, name):
        before = computes.get(name, 0)
        with TRACER.span("artifact_store", key=key) as attrs:
            out = dor(spark, root, key, version, dep_ids, builder, computes, name)
            attrs["built"] = computes.get(name, 0) > before
        return out

    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("yuki_spark") or mod is None:
            continue
        if getattr(mod, "load", None) is load:
            mod.load = traced_load
        if getattr(mod, "deposit_or_reuse", None) is dor:
            mod.deposit_or_reuse = traced_deposit

    for cls in (DataFrame, DataFrameWriter):
        for meth in _SPARK_ACTIONS[cls.__name__]:
            setattr(cls, meth, _traced(getattr(cls, meth), "spark"))

    write = ImpressionStore.write

    def traced_write(self, imp_id, df, *a, **kw):
        if not TRACER.enabled:
            return write(self, imp_id, df, *a, **kw)
        # the written DataFrame is planned once more on its own, so the
        # Catalyst phases show apart from the write's execution
        with TRACER.span("catalyst") as phases:
            df._jdf.queryExecution().executedPlan()
        with TRACER.span("impressions.write") as attrs:
            out = write(self, imp_id, df, *a, **kw)
        with TRACER.span("trace.bookkeeping"):
            phases.update(catalyst_phases(df))
            attrs["bytes"], attrs["files"] = dir_bytes(self._dir(imp_id))
        return out

    ImpressionStore.write = traced_write
    ImpressionStore.read = _traced(ImpressionStore.read, "impressions.read")
    ImpressionStore.exists = _traced(ImpressionStore.exists, "impressions.exists")
    for meth in ("is_archived", "meta", "logs", "write_logs"):
        setattr(ImpressionStore, meth, _traced(getattr(ImpressionStore, meth), "impressions.meta"))
    StatusStore.record = _traced(StatusStore.record, "pipeline.status")


def traced_task(fn):
    """A pipeline task's function, timed as the ``queries`` layer (the
    task builds its plan on the driver)."""
    return _traced(fn, "queries")


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase from the query's own tracker."""
    out: dict[str, float] = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def job_stats(sc, group: str) -> tuple[int, int]:
    """(jobs, stages) Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return len(jobs), len(stages)


_SHUFFLE_READ = (
    "internal.metrics.shuffle.read.remoteBytesRead",
    "internal.metrics.shuffle.read.localBytesRead",
)
_SPILL = ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled")
STAGE_METRICS = (
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "python_bytes_sent",
)


def _metric(name: str) -> str | None:
    if name in _SHUFFLE_READ:
        return "shuffle_read_bytes"
    if name in _SPILL:
        return "spill_bytes"
    return {
        "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
        "internal.metrics.executorRunTime": "executor_run_s",
        "data sent to Python workers": "python_bytes_sent",
    }.get(name)


def _event_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a single-file log, or the
    ``events_<n>_<app>`` parts of a rolling ``eventlog_v2_*`` dir."""
    out = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for fn in files:
            if fn.startswith((".", "appstatus_")):
                continue
            n = int(fn.split("_")[1]) if fn.startswith("events_") else 0
            out.append((dirpath, n, os.path.join(dirpath, fn)))
    return [p for *_, p in sorted(out)]


def stage_records(log_dir: str) -> list[dict[str, Any]]:
    """One record per completed stage in the application's JSON event
    log: its job's group and submission time (ms since the epoch), and
    its task count, shuffle, spill, run-time and Python-UDF metrics."""
    stage_job: dict[int, tuple[str, float]] = {}
    out: list[dict[str, Any]] = []
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = (group, ev.get("Submission Time", 0))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group, submit = stage_job.get(info["Stage ID"], ("", 0))
                    m = {"tasks": float(info.get("Number of Tasks", 0))}
                    for acc in info.get("Accumulables", []):
                        key = _metric(acc.get("Name", ""))
                        try:
                            val = float(acc.get("Value"))
                        except (TypeError, ValueError):
                            continue
                        if key is not None:
                            if key == "executor_run_s":
                                val /= 1000.0
                            m[key] = m.get(key, 0.0) + val
                    out.append({"group": group, "submit_ms": submit, "metrics": m})
    return out
