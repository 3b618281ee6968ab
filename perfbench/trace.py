"""Spans, counters and logs for the traced run.

The engine is not instrumented. In a traced run the benchmark wraps the
engine's public functions (``Tracer.wrap``), reads Spark's JVM metric
counters around each op (``JvmCounters``), listens to streaming progress
(``StreamProgress``) and folds Spark's JSON event log afterwards
(``fold_event_log``). Spans are kept in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Optional


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[int]


class Tracer:
    """Records nested spans; each names its parent and the current op."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: Optional[int] = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            sp = Span(sid, name, time.time(), 0.0, stack[-1] if stack else None, self.op)
            self.spans.append(sp)
        stack.append(sid)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def total(self, name: str) -> float:
        """Summed duration (s) of spans called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        """Summed self time (s): each span minus the part of its interval
        covered by its child spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = 0.0
        for s in self.spans:
            if s.name != name:
                continue
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, ())]
            )
            out += (s.end - s.start) - covered
        return out

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.name == name]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class JvmCounters:
    """Process-wide Spark metric counters, read over py4j: files found by
    file listing, file-status cache hits, and whole-stage-codegen
    compilations with their summed compile time."""

    def __init__(self, spark) -> None:
        src = spark.sparkContext._jvm.org.apache.spark.metrics.source
        self._hive = src.HiveCatalogMetrics
        self._codegen = src.CodegenMetrics
        self._arrays = spark.sparkContext._jvm.java.util.Arrays

    def read(self) -> dict[str, float]:
        hist = self._codegen.METRIC_COMPILATION_TIME()
        n = hist.getCount()
        snap = hist.getSnapshot()
        # the histogram keeps every sample until its 1028-slot reservoir
        # fills; past that, estimate the sum from the sampled mean
        total = (
            float(self._arrays.stream(snap.getValues()).sum())
            if n <= snap.size() else snap.getMean() * n
        )
        return {
            "files_discovered": float(self._hive.METRIC_FILES_DISCOVERED().getCount()),
            "file_cache_hits": float(self._hive.METRIC_FILE_CACHE_HITS().getCount()),
            "codegen_compiles": float(n),
            "codegen_compile_ms": total,
        }


def query_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded by a DataFrame's query
    execution tracker: analysis, optimization and planning."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for key in ("analysis", "optimization", "planning"):
        opt = phases.get(key)
        out[key] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def streaming_listener_class():
    """A StreamingQueryListener subclass that keeps every progress event
    (imported lazily: pyspark is only importable inside the worker)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.started = 0
            self.terminated = 0
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            with self._lock:
                self.started += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "duration_ms": dict(p.durationMs),
                "state_rows": sum(int(s.numRowsTotal) for s in p.stateOperators),
                "state_mem": sum(int(s.memoryUsedBytes) for s in p.stateOperators),
            }
            with self._lock:
                self.progress.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self.terminated += 1

        def settle(self, timeout: float = 30.0) -> None:
            """Wait until every started query's events have arrived."""
            deadline = time.time() + timeout
            while time.time() < deadline:
                with self._lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.005)
            raise TimeoutError("streaming listener events did not arrive")

        def take(self) -> list[dict]:
            """Progress events of executed micro-batches since the last call."""
            with self._lock:
                out, self.progress = self.progress, []
            return [r for r in out if "addBatch" in r["duration_ms"]]

    return StreamProgress


@dataclass
class Job:
    id: int
    submit_ms: float
    stage_ids: list[int]


@dataclass
class StageStats:
    submit_ms: float = 0.0
    end_ms: float = 0.0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: float = 0.0
    shuffle_read: float = 0.0
    spill: float = 0.0
    peak_mem: float = 0.0


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict[int, StageStats] = field(default_factory=dict)


def fold_event_log(path: str) -> EventLog:
    """Jobs with their stages, and per-stage task totals, from an
    uncompressed Spark JSON event log."""
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs.append(Job(ev["Job ID"], float(ev["Submission Time"]), list(ev["Stage IDs"])))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], StageStats())
                st.submit_ms = float(info.get("Submission Time") or 0)
                st.end_ms = float(info.get("Completion Time") or 0)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                st = log.stages.setdefault(ev["Stage ID"], StageStats())
                st.tasks += 1
                if not m:
                    continue
                st.run_ms += m.get("Executor Run Time", 0)
                st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                st.gc_ms += m.get("JVM GC Time", 0)
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st.peak_mem = max(st.peak_mem, m.get("Peak Execution Memory", 0))
    return log


def jobs_in(log: EventLog, windows: list[tuple[float, float]]) -> list[Job]:
    """Jobs submitted inside any of the (start, end) windows (epoch s)."""
    return [j for j in log.jobs if any(s <= j.submit_ms / 1000.0 <= e for s, e in windows)]


def exec_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Stage and task totals over ``jobs``; a stage shared by several
    jobs counts once."""
    stage_ids = {sid for j in jobs for sid in j.stage_ids if sid in log.stages}
    stages = [log.stages[s] for s in stage_ids if log.stages[s].tasks > 0]
    return {
        "jobs": float(len(jobs)),
        "stages": float(len(stages)),
        "tasks": float(sum(s.tasks for s in stages)),
        "run_ms": sum(s.run_ms for s in stages),
        "cpu_ms": sum(s.cpu_ms for s in stages),
        "gc_ms": sum(s.gc_ms for s in stages),
        "shuffle_write": sum(s.shuffle_write for s in stages),
        "shuffle_read": sum(s.shuffle_read for s in stages),
        "spill": sum(s.spill for s in stages),
        "peak_mem": max((s.peak_mem for s in stages), default=0.0),
        "busy_s": union_length(
            [(s.submit_ms / 1000.0, s.end_ms / 1000.0) for s in stages if s.end_ms]
        ),
    }


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    files = [
        os.path.join(log_dir, f) for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]
