"""Span tracing around the calls into each layer of ``gcp_etl_spark``.

The tracer wraps the public functions of the layer modules from outside
(the program itself is not edited), keeps every span in memory, and
derives per-layer self times and job counts from them:

- a span is ``(name, layer, start, end, parent, op, jobs)``, where
  ``jobs`` counts the Spark jobs submitted between start and end;
- a span's self value is its own value minus the part its direct
  children cover, so nested layers (an ``llm`` function calling an
  ``operators`` function) are never counted twice;
- per-operation engine counters come from Spark's own status store
  (stages, tasks, run/CPU/GC time, input, shuffle and spill bytes).
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

# module prefix -> layer name; ``tables``/``io``/``pipeline`` are single
# modules, the others are packages whose submodules all belong to them
LAYER_MODULES = {
    "gcp_etl_spark.tables": "tables",
    "gcp_etl_spark.io": "io",
    "gcp_etl_spark.pipeline": "pipeline",
    "gcp_etl_spark.llm": "llm",
    "gcp_etl_spark.functions": "functions",
    "gcp_etl_spark.operators": "operators",
    "gcp_etl_spark.streaming": "streaming",
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    jobs: int = 0


def self_values(spans: list[Span], value) -> list[float]:
    """Each span's ``value(span)`` minus its direct children's values."""
    out = [value(s) for s in spans]
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= value(s)
    return out


def self_times(spans: list[Span]) -> list[float]:
    return self_values(spans, lambda s: s.end - s.start)


def layer_of(module: str) -> str | None:
    for prefix, layer in LAYER_MODULES.items():
        if module == prefix or module.startswith(prefix + "."):
            return layer
    return None


class Tracer:
    """In-memory span recorder. ``job_counter`` returns the number of
    Spark jobs submitted so far (0 when no session is attached)."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.op: int | None = None
        self.job_counter = lambda: 0
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------
    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        parents = self._parents()
        jobs0 = self.job_counter()
        span = Span(name, layer, self.clock(), 0.0, parents[-1] if parents else None, self.op)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        parents.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            parents.pop()
            span.end = self.clock()
            span.jobs = self.job_counter() - jobs0

    # -- wrapping the program's layers -----------------------------------
    def install(self) -> int:
        """Wrap every public function of the layer modules and rebind
        every module global that refers to one (this covers names that
        query modules imported with ``from ... import``). Returns the
        number of wrapped functions."""
        modules = {
            name: mod
            for name, mod in list(sys.modules.items())
            if name.startswith("gcp_etl_spark") and mod is not None
        }
        self.uninstall()
        wrapped: dict[int, object] = {}
        for name, mod in modules.items():
            layer = layer_of(name)
            if layer is None:
                continue
            for attr, fn in list(vars(mod).items()):
                if attr.startswith("_") or not _traceable(fn, name):
                    continue
                wrapped[id(fn)] = self._wrap(fn, f"{layer}.{attr}", layer)
        for mod in modules.values():
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, w)
        return len(wrapped)

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return tracer.call(name, layer, fn, *args, **kwargs)

        return traced

    # -- output ----------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


def _traceable(fn, module: str) -> bool:
    """Plain functions defined in ``module``. Spark UDF objects (which
    carry ``evalType``) are left alone: they are called to build columns
    and must keep their attributes for registration."""
    return (
        inspect.isfunction(fn)
        and fn.__module__ == module
        and not hasattr(fn, "evalType")
    )


class StageCounters:
    """Per-operation deltas read from Spark's status store.

    ``mark()`` returns the next stage id; ``since(mark)`` drains the
    listener bus and sums the stages submitted after the mark."""

    FIELDS = (
        "stages",
        "tasks",
        "single_task_stages",
        "task_run_s",
        "task_cpu_s",
        "gc_s",
        "failed_tasks",
        "input_mb",
        "shuffle_write_mb",
        "shuffle_read_mb",
        "spill_mb",
    )

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def jobs(self) -> int:
        return int(self._dag.nextJobId())

    def mark(self) -> int:
        return int(self._dag.nextStageId())

    def since(self, mark: int) -> dict[str, float]:
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(self.FIELDS, 0.0)
        mb = 1024.0 * 1024.0
        for sid in range(mark, self.mark()):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage id the job never submitted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            n = sd.numTasks()
            out["stages"] += 1
            out["tasks"] += n
            out["single_task_stages"] += n == 1
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["failed_tasks"] += sd.numFailedTasks()
            out["input_mb"] += sd.inputBytes() / mb
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / mb
            out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb
        return out
