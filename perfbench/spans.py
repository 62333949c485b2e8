"""Spans around the engine's public entry points, and the Spark event
log folded into them.

A span has a name, a start, an end and a parent. While a span is open
its name is the thread's Spark job group, so every job, stage and task
that Spark runs inside it is attributed to it from the event log
(``spark.eventLog.compress=false``; the log is read after the session
stops). Streaming queries set their own job group, the query's run id;
``Tracer.name_group`` maps it back to a span name.

Spans are kept in memory and written once, at the end of a run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# Plan nodes that run a Python worker (Arrow or pickled batches).
PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    thread: str


class Tracer:
    """Records spans; inert (no spans, no job groups) when disabled."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self.group_alias: dict[str, str] = {}
        self.t0 = time.perf_counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        # Inside a streaming drain, foreachBatch callbacks run on
        # callback-server threads; Spark has already set the job group
        # to the query's run id there, so spans leave it alone.
        self.streaming = False

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        set_group = not self.streaming
        if set_group:
            self.sc.setLocalProperty("spark.jobGroup.id", name)
        stack.append(name)
        start = time.perf_counter() - self.t0
        try:
            yield
        finally:
            end = time.perf_counter() - self.t0
            stack.pop()
            if set_group:
                self.sc.setLocalProperty("spark.jobGroup.id", parent)
            with self._lock:
                self.spans.append(Span(
                    name, start, end, parent,
                    threading.current_thread().name,
                ))

    def child(self, label: str) -> str:
        """Name for a span opened under the current one."""
        stack = self._stack()
        return f"{stack[-1]}/{label}" if stack else label

    def name_group(self, group: str, span_name: str) -> None:
        self.group_alias[group] = span_name

    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace ``owner.attr`` with a wrapper that opens a span named
        ``name_of(*args, **kwargs)`` around each call."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def span_s(self, name: str) -> float:
        """Total seconds of the spans called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def label_s(self, *labels: str) -> float:
        """Total seconds of the spans whose last name component is one
        of ``labels``."""
        return sum(
            s.end - s.start for s in self.spans if s.name.rsplit("/", 1)[-1] in labels
        )


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    single_task_stages: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    py_bytes_sent: int = 0
    py_bytes_received: int = 0
    py_rows_received: int = 0
    py_worker_s: float = 0.0


def _python_accumulators(plan: dict, out: dict[int, str]) -> None:
    """Accumulator id -> metric name for every Python eval node."""
    if any(m in plan.get("nodeName", "") for m in PYTHON_NODE_MARKERS):
        for metric in plan.get("metrics", []):
            out[metric["accumulatorId"]] = metric["name"]
    for child in plan.get("children", []):
        _python_accumulators(child, out)


def summarise_event_log(log_dir: str, alias: dict[str, str]) -> dict[str, GroupStats]:
    """Fold job group -> job -> stage -> task metrics of the one event
    log in ``log_dir`` into per-group stats (keyed by span name)."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    stage_group: dict[int, str] = {}
    stage_tasks: dict[int, int] = {}
    py_acc: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                raw = props.get("spark.jobGroup.id") or "(none)"
                group = alias.get(raw, raw)
                stats[group].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stats[stage_group.get(sid, "(none)")]
                stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
                st.tasks += 1
                m = ev.get("Task Metrics") or {}
                st.task_s += m.get("Executor Run Time", 0) / 1000.0
                st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                st.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = py_acc.get(acc.get("ID"))
                    if name is None:
                        continue
                    upd = int(acc.get("Update") or 0)
                    if name == "data sent to Python workers":
                        st.py_bytes_sent += upd
                    elif name == "data returned from Python workers":
                        st.py_bytes_received += upd
                    elif name == "number of output rows":
                        st.py_rows_received += upd
                    elif name == "time to run Python workers":
                        st.py_worker_s += upd / 1000.0
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
    for sid, n in stage_tasks.items():
        st = stats[stage_group.get(sid, "(none)")]
        st.stages += 1
        st.single_task_stages += n == 1
    return dict(stats)
