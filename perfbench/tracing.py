"""In-memory span tracer for the traced benchmark run.

A span wraps one call from the benchmark into a layer's public function
(``kind="build"``: the call returns a lazy plan or runs eager per-round
jobs) or the action that materialises a layer's output
(``kind="action"``). Spans nest; each records name, start, end and
parent, the py4j round trips sent while it was innermost, and a Spark job
group, so jobs, tasks, task-seconds and shuffle bytes are attributed per
span after the measured pass, off the clock.

Untraced runs use ``NullTracer``: the same call sites, no bookkeeping.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    attrs: dict = field(default_factory=dict)


class Py4jCounter:
    """Counts commands sent by the py4j gateway client, excluding the
    memory-release (``m``) commands the Python garbage collector sends at
    unpredictable times. ``paused()`` hides the tracer's own calls."""

    def __init__(self, gateway_client):
        self.calls = 0
        self._paused = 0
        self._lock = threading.Lock()
        original = gateway_client.send_command

        def send_command(command, *args, **kwargs):
            if not self._paused and not command.startswith("m\n"):
                with self._lock:
                    self.calls += 1
            return original(command, *args, **kwargs)

        gateway_client.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1


class NullTracer:
    """Tracing off: spans cost one context-manager entry and nothing else."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "build", **attrs):
        yield None

    def wrap(self, fn, name: str, kind: str = "build"):
        return fn

    def collect_jobs(self, spark) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.py4j = Py4jCounter(spark.sparkContext._gateway._gateway_client)
        self._pending: list[Span] = []
        self._sc = spark.sparkContext

    def _set_group(self, span: Span | None) -> None:
        with self.py4j.paused():
            self._sc.setLocalProperty(
                "spark.jobGroup.id", None if span is None else f"pb-{span.id}"
            )

    @contextlib.contextmanager
    def span(self, name: str | None, kind: str = "build", **attrs):
        parent = self._stack[-1] if self._stack else None
        if name is None:  # an action inherits its stage's layer
            name = parent.name if parent else "pass"
        s = Span(len(self.spans), name, kind, parent.id if parent else None,
                 time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._set_group(s)
        calls0 = self.py4j.calls
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            s.py4j = self.py4j.calls - calls0
            self._set_group(parent)
            self._pending.append(s)

    def wrap(self, fn, name: str | None, kind: str = "build"):
        def traced(*args, **kwargs):
            with self.span(name, kind):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def collect_jobs(self, spark) -> None:
        """Attribute jobs/tasks/task-seconds/shuffle bytes to the spans
        closed since the last call: status tracker for job and stage ids,
        the status store for per-stage task metrics. Only spans closed
        since the previous call are read, so the cost stays per pass."""
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        with self.py4j.paused():
            # the status store is fed by the listener bus; let it catch up
            # with the jobs that just ended before reading it
            sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            for s in self._pending:
                for jid in tracker.getJobIdsForGroup(f"pb-{s.id}"):
                    info = tracker.getJobInfo(jid)
                    if info is None:
                        continue
                    s.jobs += 1
                    for sid in info.stageIds:
                        if tracker.getStageInfo(sid) is None:
                            continue  # skipped (reused) stage
                        try:
                            sd = store.lastStageAttempt(sid)
                        except Exception:  # noqa: BLE001 — evicted stage
                            continue
                        s.tasks += sd.numCompleteTasks()
                        s.task_s += sd.executorRunTime() / 1000.0
                        s.shuffle_mb += (
                            sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                        ) / 1e6
            self._pending = []

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "kind": s.kind,
                "parent": s.parent, "start": s.start, "end": s.end,
                "py4j": s.py4j, "jobs": s.jobs, "tasks": s.tasks,
                "task_s": s.task_s, "shuffle_mb": s.shuffle_mb, **s.attrs,
            }
            for s in self.spans
        ]
