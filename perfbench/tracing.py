"""Spans, Spark counters and streaming progress for the traced run.

Spans are recorded by the benchmark around each call it makes into a
layer of the engine; nothing inside the engine is changed. Spark's own
counters come from the event log (read after the session stops) and
are attributed to the innermost span open when each job was submitted.
Per-trigger phases come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    pass_no: int | None = None
    call: int | None = None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """In-memory span recorder. Disabled, ``span`` only yields."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_no: int | None = None
        self.call: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), parent=parent, run=self.run_id,
                               pass_no=self.pass_no, call=self.call))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span minus what its children cover
        (children of one span never overlap: there is one client)."""
        child_time = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.layer] += (s.end - s.start) - child_time[i]
        return dict(out)

    def total_seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def innermost(self, t: float) -> Span | None:
        """The deepest span open at wall time ``t``."""
        best, depth = None, -1
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end:
                d, p = 0, s.parent
                while p is not None:
                    d, p = d + 1, self.spans[p].parent
                if d > depth:
                    best, depth = s, d
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


@contextlib.contextmanager
def patched(targets):
    """Temporarily wrap module attributes: ``targets`` is a list of
    ``(module, attr, wrapper_factory)``; every attribute is restored."""
    saved = []
    try:
        for mod, attr, make in targets:
            original = getattr(mod, attr)
            saved.append((mod, attr, original))
            setattr(mod, attr, make(original))
        yield
    finally:
        for mod, attr, original in reversed(saved):
            setattr(mod, attr, original)


def spanned(tracer: Tracer, name: str):
    """Wrapper factory for ``patched``: time every call as span ``name``."""
    def make(fn):
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)
        return wrapper
    return make


# ------------------------------------------------------------ event log

@dataclass
class Counters:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """Jobs (id, submission time, stage ids, tags) and task metrics per
    stage, from every uncompressed event-log file under ``log_dir``."""
    jobs, tasks = [], defaultdict(list)
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    files += sorted(glob.glob(os.path.join(log_dir, "local-*")))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs.append({
                        "id": e["Job ID"],
                        "submit": e["Submission Time"] / 1000.0,
                        "stages": e["Stage IDs"],
                        "tags": props.get("spark.job.tags") or "",
                    })
                elif kind == "SparkListenerTaskEnd" and "Task Metrics" in e:
                    tasks[e["Stage ID"]].append(e["Task Metrics"])
    return jobs, tasks


def attribute(tracer: Tracer, jobs, tasks) -> tuple[dict[str, Counters], int]:
    """Spark counters per layer: each job goes to the innermost span
    open at its submission; each stage counts once, for its first job.
    Also returns how many tagged jobs landed in a span of another call
    than their tag names (0 unless the attribution is wrong)."""
    per_layer: dict[str, Counters] = defaultdict(Counters)
    seen_stages: set[int] = set()
    mismatched = 0
    for job in jobs:
        span = tracer.innermost(job["submit"])
        tag = re.search(r"perfbench-p(-?\d+)-c(\d+)", job["tags"])
        if tag and (span is None or (span.pass_no, span.call) != (int(tag[1]), int(tag[2]))):
            mismatched += 1
        if span is None:
            continue
        c = per_layer[span.layer]
        c.jobs += 1
        for sid in job["stages"]:
            if sid in seen_stages or sid not in tasks:
                continue
            seen_stages.add(sid)
            c.stages.add(sid)
            for m in tasks[sid]:
                c.tasks += 1
                c.task_ms += m.get("Executor Run Time", 0)
                c.cpu_ns += m.get("Executor CPU Time", 0)
                c.gc_ms += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                c.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                c.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                c.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                c.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                c.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return dict(per_layer), mismatched


# ------------------------------------------------------------ streaming

class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress event, and the ids of the
    queries that have terminated."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "id": str(p.id),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
            "start": dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.add(str(event.id))

    def wait_terminated(self, n: int, timeout: float = 10.0) -> bool:
        """Listener events arrive asynchronously: wait until ``n``
        queries have reported their end."""
        deadline = time.monotonic() + timeout
        while len(self.terminated) < n and time.monotonic() < deadline:
            time.sleep(0.05)
        return len(self.terminated) >= n
