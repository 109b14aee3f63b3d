"""Outside-in measurement of the engine: nothing here edits the package.

Three sources, all read from outside the program:

- ``StatusStore``: Spark's status store (``sc.statusStore()``), read as JSON
  through the JVM's own Jackson mapper so one snapshot costs one py4j call.
  Jobs and stages are attributed to an op by id ranges taken before and
  after the op.  Ops run one at a time, so that window also catches jobs a
  streaming gate starts on its stream thread.
- ``EpochListener``: a ``StreamingQueryListener`` that keeps every
  micro-batch progress event.
- ``Tracer``: spans around calls into each layer's public functions, put in
  place by patching the function in its defining module and in every
  loaded module that bound it with ``from ... import``.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming.listener import StreamingQueryListener


class StatusStore:
    """Snapshots of the jobs and stages Spark has run since the last call."""

    def __init__(self, spark):
        jvm = spark._jvm
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._array_list = jvm.java.util.ArrayList
        self._last_job = self._last_stage = -1
        self.since_last()

    def since_last(self) -> tuple[list[dict], list[dict]]:
        """(jobs, stages) started since the previous call."""
        # The store is fed from the listener bus, after the action returns.
        self._bus.waitUntilEmpty()
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._no_quantiles, self._array_list())
            )
        )
        new_jobs = [j for j in jobs if j["jobId"] > self._last_job]
        new_stages = [s for s in stages if s["stageId"] > self._last_stage]
        self._last_job = max([self._last_job] + [j["jobId"] for j in jobs])
        self._last_stage = max([self._last_stage] + [s["stageId"] for s in stages])
        return new_jobs, new_stages


def stage_counts(jobs: list[dict], stages: list[dict], wall_s: float) -> dict[str, float]:
    """The ``spark.*`` layer numbers of one op from its jobs and stages."""
    mb = 1024.0 * 1024.0
    task_s = sum(s["executorRunTime"] for s in stages) / 1000.0
    intervals = [
        (s["submissionTime"], s.get("completionTime") or s["submissionTime"])
        for s in stages
        if s.get("submissionTime")
    ]
    busy_s = _union_length(intervals) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "spark.task_s": task_s,
        "spark.no_task_s": max(0.0, wall_s - busy_s),
        "spark.input_mb": sum(s["inputBytes"] for s in stages) / mb,
        "spark.input_rows": sum(s["inputRecords"] for s in stages),
        "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
        "spark.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / mb,
    }


def _union_length(intervals) -> float:
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class EpochListener(StreamingQueryListener):
    """Keeps each micro-batch's progress: durations in ms and input rows."""

    def __init__(self):
        self._lock = threading.Lock()
        self._epochs: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        epoch = {
            "trigger_ms": p.durationMs.get("triggerExecution", 0),
            "add_batch_ms": p.durationMs.get("addBatch", 0),
            "rows": p.numInputRows,
        }
        with self._lock:
            self._epochs.append(epoch)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> list[dict]:
        with self._lock:
            out, self._epochs = self._epochs, []
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans; ``self_times`` turns them into per-layer totals."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_root: int | None = None
        self.op_id = -1

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # A span opened on a thread of its own (a stream's batch callback)
        # hangs under the op that is running, since ops run one at a time.
        parent = stack[-1] if stack else self._op_root
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id, attrs))
        stack.append(idx)
        try:
            yield idx
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    @contextmanager
    def op(self, op_id: int, name: str):
        self.op_id = op_id
        with self.span("op", op=name) as root:
            self._op_root = root
            try:
                yield
            finally:
                self._op_root = None

    def wrap(self, name: str, fn, before=None, after=None):
        """``fn`` with a span named ``name`` around each call.

        ``before(bound_args)`` returns a context for ``after(bound_args,
        result, span, context)``; both run outside the span, so the
        bookkeeping they do is not charged to the layer.  A call made while
        a span of the same name is open on this thread (one layer function
        calling another) passes straight through."""
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            if any(self.spans[i].name == name for i in stack):
                return fn(*args, **kwargs)
            bound = sig.bind(*args, **kwargs) if before or after else None
            ctx = before(bound) if before else None
            with self.span(name) as idx:
                result = fn(*args, **kwargs)
            if after:
                after(bound, result, self.spans[idx], ctx)
            return result

        return traced

    def self_times(self, op_id: int | None = None) -> dict[str, float]:
        """Summed self time per span name (of one op, or of all): each
        span's duration minus the part of it that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if op_id is not None and s.op_id != op_id:
                continue
            clipped = [(max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])]
            covered = _union_length([(a, b) for a, b in clipped if b > a])
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


@contextmanager
def patched(replacements: dict[tuple[str, str], object]):
    """Replace ``module.attr`` for each ((module, attr), new) item, in the
    defining module and in every loaded module bound to the same object;
    restore all of them on exit."""
    undo: list[tuple[object, str, object]] = []
    try:
        for (mod_name, attr), new in replacements.items():
            original = getattr(sys.modules[mod_name], attr)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__dict__", {}).get(attr) is original:
                    undo.append((mod, attr, original))
                    setattr(mod, attr, new)
        yield
    finally:
        for mod, attr, original in reversed(undo):
            setattr(mod, attr, original)
