"""Spans, Spark job attribution and the event-log reader.

The benchmark times the engine from outside: a ``Span`` is recorded
around every call into a layer, with the span that caused it, and the
Spark jobs a span triggers carry a job group named after the span
(``pb/<pass>/<op index>/<phase>``). Micro-batch jobs of a streaming
query run under the stream's own job group; they are attributed through
the ``sql.streaming.queryId`` property to the op that started the query.

Stage totals come from the ``internal.metrics.*`` accumulables of
``SparkListenerStageCompleted`` in Spark's own event log, written
uncompressed (``spark.eventLog.compress=false``) so no codec module
is needed to read it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("build", "exec", "write", "stream")

_ACCUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.resultSize": "result_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_mem",
    "internal.metrics.diskBytesSpilled": "spill_disk",
    "internal.metrics.input.recordsRead": "scan_rows",
    "internal.metrics.input.bytesRead": "scan_bytes",
    "internal.metrics.output.recordsWritten": "write_rows",
    "internal.metrics.output.bytesWritten": "write_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log also uses
    end: float = 0.0
    parent: int | None = None
    op_id: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Spans:
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op_id: str | None = None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), parent=parent, op_id=op_id)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_times(self) -> dict[str, float]:
        """Per span name, split into warm-up and timed passes: duration
        minus the time its children cover (children never overlap: ops
        run one at a time)."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = sum(c.dur for c in self.children(i))
            key = s.name
            if s.op_id is not None:
                key = f"{'warm' if s.op_id.startswith('warm') else 'timed'}.{s.name}"
            out[key] = out.get(key, 0.0) + s.dur - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class StreamRecorder(StreamingQueryListener):
    """Python listener: which op started each streaming query, and each
    micro-batch's trigger latency and input rows."""

    def __init__(self) -> None:
        self.current_op: str | None = None
        self.query_op: dict[str, str] = {}
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.query_op[str(event.id)] = self.current_op or "?"

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.progress.append(
                {
                    "query": str(p.id),
                    "run": str(p.runId),
                    "batch": p.batchId,
                    "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                    "rows": p.numInputRows,
                }
            )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated.add(str(event.id))

    def drain(self, timeout: float = 20.0) -> None:
        """Wait until every started query's terminated event arrived;
        the listener bus is ordered, so its progress events are in."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                if set(self.query_op) <= self.terminated:
                    return
            time.sleep(0.05)


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the single application under ``log_dir``, in
    order; handles both the rolling (``eventlog_v2_*/events_N_*``) and
    the single-file layout."""
    files = []
    for d in glob.glob(os.path.join(log_dir, "eventlog_v2_*")):
        parts = glob.glob(os.path.join(d, "events_*"))
        parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
        files += parts
    if not files:
        files = sorted(
            p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
        )
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


@dataclass
class Stage:
    group: str
    query: str | None
    tasks: int
    failed_tasks: int
    start: float
    end: float
    m: dict[str, float]


def stages(events: list[dict]) -> tuple[list[Stage], dict[str, int]]:
    """Completed stages with their job group / streaming query id,
    failed task count and accumulable totals; and the number of jobs
    per job group (streaming jobs keyed ``q:<queryId>``)."""
    props: dict[tuple[int, int], dict] = {}
    failed: dict[tuple[int, int], int] = {}
    out: list[Stage] = []
    jobs: dict[str, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            q = p.get("sql.streaming.queryId")
            key = f"q:{q}" if q else p.get("spark.jobGroup.id", "")
            jobs[key] = jobs.get(key, 0) + 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            props[(info["Stage ID"], info["Stage Attempt ID"])] = e.get("Properties") or {}
        elif kind == "SparkListenerTaskEnd":
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                key = (e["Stage ID"], e["Stage Attempt ID"])
                failed[key] = failed.get(key, 0) + 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            p = props.get(key, {})
            m: dict[str, float] = {}
            for acc in info.get("Accumulables", []):
                name = _ACCUMS.get(acc.get("Name"))
                if name is not None:
                    try:
                        v = float(acc.get("Value", 0))
                    except (TypeError, ValueError):
                        continue
                    m[name] = m.get(name, 0.0) + v
            out.append(
                Stage(
                    group=p.get("spark.jobGroup.id", ""),
                    query=p.get("sql.streaming.queryId"),
                    tasks=info.get("Number of Tasks", 0),
                    failed_tasks=failed.get(key, 0),
                    start=info.get("Submission Time", 0) / 1000.0,
                    end=info.get("Completion Time", 0) / 1000.0,
                    m=m,
                )
            )
    return out, jobs


def idle_time(span_start: float, span_end: float, intervals: list[tuple[float, float]]) -> float:
    """Part of [span_start, span_end] during which no interval runs."""
    busy, cursor = 0.0, span_start
    for s, e in sorted(intervals):
        s, e = max(s, cursor), min(e, span_end)
        if e > s:
            busy += e - s
            cursor = e
    return (span_end - span_start) - busy
