"""Span recorder for the traced run, kept entirely on the benchmark side.

:func:`instrument` replaces the public functions of the engine's layers
with :class:`Traced` wrappers in every ``pyspark_caffe_spark`` module
namespace that holds them (query modules import several of them by
name).  While :attr:`Recorder.enabled` is set, each call records a span
-- layer, name, start, end, parent span and the operator execution it
belongs to -- in memory; :meth:`Recorder.dump` writes them out with
their self time when the run ends.

:func:`wrapper_cost_s` measures what one recorded span costs, so the
tracing overhead of a pass can be estimated from its span count.

:class:`StageReader` reads Spark's status store for the stages an
operator submitted, right after the operator finishes.
"""

from __future__ import annotations

import functools
import inspect
import json
import operator
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

PACKAGE = "pyspark_caffe_spark"


class Recorder:
    """In-memory spans; one recorder per run."""

    def __init__(self) -> None:
        self.enabled = False
        self.request = None  # id shared by the spans of one operator execution
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str):
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "request": self.request,
            "layer": layer,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(span)
        self._stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()

    def layer_totals(self) -> dict[str, tuple[int, float]]:
        """``layer -> (calls, seconds)``, counting only calls that did not
        come from inside the same layer, so a layer's nested calls are not
        counted twice."""
        totals: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            p = s["parent"]
            while p is not None and self.spans[p]["layer"] != s["layer"]:
                p = self.spans[p]["parent"]
            if p is not None:
                continue
            calls, secs = totals.get(s["layer"], (0, 0.0))
            totals[s["layer"]] = (calls + 1, secs + s["end"] - s["start"])
        return totals

    def _self_seconds(self) -> list[float]:
        """Each span's duration minus the part its child spans cover."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def self_times(self) -> dict[str, float]:
        """Self seconds summed per layer."""
        out: dict[str, float] = {}
        for s, own in zip(self.spans, self._self_seconds()):
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        rows = [dict(s, self_s=own) for s, own in zip(self.spans, self._self_seconds())]
        with open(path, "w") as f:
            json.dump(rows, f)


class Traced:
    """Callable stand-in for a layer function.

    Pickles as the wrapped function itself, so a Python UDF that closes
    over a patched name ships the original to the Spark workers."""

    def __init__(self, recorder: Recorder, layer: str, fn) -> None:
        functools.update_wrapper(self, fn)
        self._recorder = recorder
        self._layer = layer
        self._fn = fn

    def __call__(self, *args, **kwargs):
        if not self._recorder.enabled:
            return self._fn(*args, **kwargs)
        with self._recorder.span(self._layer, self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ((self._fn,),)


def wrapper_cost_s(calls: int = 20_000, repeats: int = 5) -> float:
    """Seconds an enabled :class:`Traced` wrapper adds to one call of a
    function that does nothing, over calling it bare; the least of
    ``repeats`` timings of ``calls`` calls each."""
    def bare():
        return None

    rec = Recorder()
    rec.enabled = True
    traced = Traced(rec, "probe", bare)
    best = float("inf")
    for _ in range(repeats):
        rec.spans.clear()
        t0 = time.perf_counter()
        for _ in range(calls):
            bare()
        t1 = time.perf_counter()
        for _ in range(calls):
            traced()
        t2 = time.perf_counter()
        best = min(best, (t2 - t1) - (t1 - t0))
    return max(best, 0.0) / calls


def public_functions(module) -> list[str]:
    return [
        name
        for name, value in vars(module).items()
        if inspect.isfunction(value)
        and value.__module__ == module.__name__
        and not name.startswith("_")
    ]


def instrument(recorder: Recorder, targets: list[tuple[str, object, list[str]]]) -> None:
    """Wrap ``module.name`` for every ``(layer, module, names)`` target,
    in every loaded package module that holds the function."""
    wrappers = {}
    for layer, module, names in targets:
        for name in names:
            fn = getattr(module, name)
            wrappers[id(fn)] = (fn, Traced(recorder, layer, fn))
    for mod_name, module in list(sys.modules.items()):
        if module is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
            continue
        for attr, value in list(vars(module).items()):
            hit = wrappers.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(module, attr, hit[1])


STAGE_FIELDS = ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes")


class StageReader:
    """Per-operator stage metrics from the driver's status store."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.read_s = 0.0  # driver time spent in mark() and since()

    def mark(self) -> tuple[int, int]:
        """Next job and stage ids; everything submitted after this call
        gets an id at or above them."""
        t = time.perf_counter()
        ids = self._dag.nextJobId(), self._dag.nextStageId()
        self.read_s += time.perf_counter() - t
        return ids

    def since(self, mark: tuple[int, int]) -> dict[str, float]:
        """Sum the metrics of the jobs and stages submitted since ``mark``."""
        job0, stage0 = mark
        job1, stage1 = self.mark()
        t = time.perf_counter()
        self._bus.waitUntilEmpty()  # status store sees every finished task
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        out["jobs"] = job1 - job0
        for sid in range(stage0, stage1):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # never submitted (AQE re-planned it away)
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.diskBytesSpilled()  # spilled bytes written to disk
        self.read_s += time.perf_counter() - t
        return out
