"""In-memory span tracer for the benchmark's traced run.

Spans are recorded from the benchmark's own files: :meth:`Tracer.patch`
wraps public entry points of the program (``run_entity``,
``SnapshotTable.write``, ``FileLedger.unprocessed``/``mark``) for the
duration of a ``with`` block and restores them afterwards. Each span
sets a Spark job group in the thread that opens it, so a job is
attributed to the innermost span that its submitting thread has open.
Jobs that carry no span's group (a streaming query's micro-batches run
under the stream's own group, a thread pool's workers start with none)
go by submission time to the innermost *window* span open at that
moment. Per-stage executor metrics are read once, at the end, from the
driver's local status REST API (``/api/v1/applications/<id>/jobs`` and
``/stages``) and summed per span.

Under ``run_all(parallel=True)`` each entity's ``run_entity`` span is
opened in the pool thread that runs it, so its jobs, stages and
executor time are that entity's own; its wall time overlaps the other
entities' and is not the entity's cost.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=lambda: dict.fromkeys(SPARK_FIELDS, 0))
    wall: float = 0.0  # time.time() at open, for submission-time attribution

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.perf_counter()) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its
    children cover (children may overlap each other; their union is
    subtracted once, clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end if c.end is not None else c.start, end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (end - s.start) - covered
    return out


class Tracer:
    """Collects spans in memory; ``sc`` is the SparkContext whose job
    group each span sets (``None`` records wall time only)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._owner_stack = self._stack()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> Span | None:
        # a worker thread with nothing open nests under the span the
        # creating thread has open (run_all's fan-out pool)
        stack = self._stack() or self._owner_stack
        return stack[-1] if stack else None

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"pb-{span.id}", span.name)

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def open(self, name: str, **attrs) -> Span:
        parent = self._parent()
        with self._lock:
            span = Span(len(self.spans), name, parent.id if parent else None,
                        time.perf_counter(), attrs=dict(attrs), wall=time.time())
            self.spans.append(span)
        self._stack().append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        while stack and stack[-1] is not span:
            stack.pop().end = span.end  # runner.stats, or a child a raise left open
        if stack:
            stack.pop()
        self._set_group(stack[-1] if stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    @staticmethod
    @contextlib.contextmanager
    def patch(owner, attr: str, make_wrapper):
        """Replace ``owner.attr`` by ``make_wrapper(original)`` while the
        block runs, and restore the original afterwards."""
        orig = getattr(owner, attr)
        setattr(owner, attr, make_wrapper(orig))
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    # -- Spark attribution -------------------------------------------------

    def attribute_spark(self, timeout_s: float = 60.0) -> int:
        """Sum per-stage executor metrics into the span whose job group
        ran them, or else into the innermost span opened with
        ``window=True`` that was open when the job was submitted.
        Returns the number of jobs attributed."""
        sc = self.sc
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

        def get(path: str):
            with urllib.request.urlopen(base + path, timeout=timeout_s) as r:
                return json.load(r)

        by_id = {s.id: s for s in self.spans}
        windows = [s for s in self.spans if s.attrs.get("window")]
        stage_owner: dict[int, Span] = {}
        n = 0
        for job in sorted(get("/jobs"), key=lambda j: j["jobId"]):
            group = job.get("jobGroup") or ""
            if group.startswith("pb-"):
                span = by_id.get(int(group[3:]))
            else:
                span = self._window_at(windows, job.get("submissionTime"))
            if span is None:
                continue
            span.spark["jobs"] += 1
            n += 1
            for sid in job["stageIds"]:
                stage_owner.setdefault(sid, span)
        for st in get("/stages"):
            span = stage_owner.get(st["stageId"])
            if span is None or st["status"] not in ("COMPLETE", "FAILED"):
                continue
            m = span.spark
            m["stages"] += 1
            m["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            m["executor_run_s"] += st["executorRunTime"] / 1000.0
            m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            m["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            m["input_bytes"] += st["inputBytes"]
        return n

    @staticmethod
    def _window_at(windows: list[Span], submitted: str | None) -> Span | None:
        """Innermost window span open at a REST API submission time
        (``2024-05-01T10:00:00.123GMT``, millisecond resolution)."""
        if not submitted:
            return None
        t = datetime.strptime(submitted.replace("GMT", "+0000"),
                              "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
        open_then = [s for s in windows if s.wall - 1e-3 <= t <= s.wall + s.duration + 1e-3]
        return max(open_then, key=lambda s: s.wall, default=None)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and all its descendants."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        todo, out = [root], []
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def subtree_spark(self, root: Span) -> dict:
        """Spark metrics of ``root`` plus all its descendants."""
        return {k: sum(s.spark[k] for s in self.subtree(root)) for k in SPARK_FIELDS}

    def to_json(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_s": round(s.start - self.spans[0].start, 6),
                "duration_s": round(s.duration, 6),
                "self_s": round(selfs[s.id], 6),
                "attrs": s.attrs,
                "spark": s.spark,
            }
            for s in self.spans
        ]
