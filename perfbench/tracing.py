"""Spans around the engine's public layer functions, with Spark work
attributed to them.

A :class:`Tracer` that is installed replaces every public function of
the layer modules below (and the public methods of ``Graph`` and
``VersionedTable``) with a wrapper that records a span, and rebinds the
same function wherever a package module imported it by name, so calls
made from ``plans`` are seen too. Each span sets a Spark job group, so
the jobs it launches can be read back from the status tracker; the
per-stage work of those jobs comes from the status store.

Spans time only the work a function does before it returns. Lazy work
runs at the caller's action, which the benchmark records as its own
span.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "anti_money_laundering_spark"

#: layer name -> modules whose public functions are wrapped
LAYER_MODULES = {
    "graph": ("graph", "graph.algorithms", "graph.components", "graph.motif", "graph.pregel"),
    "linkage": ("linkage",),
    "dedup": ("dedup",),
    "vector": ("vector",),
    "streaming": ("streaming",),
    "sources.versioned": ("sources.versioned",),
}

#: layer name -> (module, class) whose public methods are wrapped
LAYER_CLASSES = {
    "graph": ("graph", "Graph"),
    "sources.versioned": ("sources.versioned", "VersionedTable"),
}


_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced pass, kept in memory until :meth:`dump`."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        #: wall seconds spent in span bookkeeping, job-group calls included
        self.overhead_s = 0.0
        #: (candidates frame, verified frame) per jaccard_pairs call that
        #: verified a given candidate list
        self.verified: list[tuple[object, object]] = []

    # -- spans --------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        t_enter = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans) + 1, name, layer, parent.id if parent else None, 0.0)
            self.spans.append(sp)
        # the job group is a thread-local Spark property: restore the
        # caller's afterwards (a streaming thread carries its query's)
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(sp.group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            for k, v in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.overhead_s += (sp.start - t_enter) + (time.perf_counter() - sp.end)

    # -- wrapping -----------------------------------------------------
    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if name == "jaccard_pairs":
                pairs = kwargs.get("pairs")
                if pairs is not None:
                    tracer.verified.append((pairs, out))
            return out

        return wrapper

    def install(self) -> "Tracer":
        replace: dict[object, object] = {}
        for layer, mods in LAYER_MODULES.items():
            for rel in mods:
                mod = importlib.import_module(f"{PKG}.{rel}")
                for name, obj in vars(mod).items():
                    if (
                        not name.startswith("_")
                        and inspect.isfunction(obj)
                        and obj.__module__ == mod.__name__
                    ):
                        replace[obj] = self._wrap(layer, name, obj)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in replace:
                    self._undo.append((mod, name, obj))
                    setattr(mod, name, replace[obj])
        for layer, (rel, cls_name) in LAYER_CLASSES.items():
            cls = getattr(importlib.import_module(f"{PKG}.{rel}"), cls_name)
            for name, obj in list(vars(cls).items()):
                if not name.startswith("_") and inspect.isfunction(obj):
                    self._undo.append((cls, name, obj))
                    setattr(cls, name, self._wrap(layer, f"{cls_name}.{name}", obj))
        return self

    def uninstall(self) -> None:
        for owner, name, obj in reversed(self._undo):
            setattr(owner, name, obj)
        self._undo.clear()

    # -- read-back ----------------------------------------------------
    def attribute_jobs(self) -> None:
        st = self.sc.statusTracker()
        for sp in self.spans:
            sp.jobs = sorted(st.getJobIdsForGroup(sp.group))

    def outermost(self, *names: str) -> list[Span]:
        """Spans called one of ``names`` with no ancestor called one."""
        out = []
        for sp in self.spans:
            if sp.name not in names:
                continue
            p = sp.parent
            while p is not None and self.spans[p - 1].name not in names:
                p = self.spans[p - 1].parent
            if p is None:
                out.append(sp)
        return out

    def inclusive_jobs(self, root: Span) -> set[int]:
        ids = {root.id}
        jobs = set(root.jobs)
        for sp in self.spans:  # parents precede children
            if sp.parent in ids:
                ids.add(sp.id)
                jobs.update(sp.jobs)
        return jobs

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.id,
                        "name": s.name,
                        "layer": s.layer,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "jobs": s.jobs,
                    }
                    for s in self.spans
                ],
                f,
            )


def _scala_seq(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def job_ids(sc) -> set[int]:
    """Ids of every job the status store still holds."""
    return {j.jobId() for j in _scala_seq(sc._jsc.sc().statusStore().jobsList(None))}


def stage_work(sc, jobs: set[int]) -> dict[str, float]:
    """Sum the status store's per-stage metrics over the stages of
    ``jobs`` that ran (skipped stages are excluded)."""
    st = sc.statusTracker()
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(), False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = dict(
        stages=0, tasks=0, executor_run_s=0.0, shuffle_read_bytes=0, shuffle_write_bytes=0,
        spill_bytes=0, input_bytes=0,
    )
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    max_sum = med_sum = 0.0
    for sd in _scala_seq(stages):
        if sd.stageId() not in stage_ids or sd.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["input_bytes"] += sd.inputBytes()
        if sd.numTasks() >= 2:
            summary = store.taskSummary(sd.stageId(), sd.attemptId(), quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med_sum += run.apply(0)
                max_sum += run.apply(1)
    out["jobs"] = len(jobs)
    # critical path over typical task, summed across multi-task stages
    out["task_skew"] = max_sum / med_sum if med_sum > 0 else 1.0
    return out


class ProgressListener:
    """Collects every streaming progress report as a dict."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        collected: list[dict] = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                collected.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.progress = collected
        self._listener = _Listener()

    def __enter__(self) -> "ProgressListener":
        self.spark.streams.addListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self.spark.streams.removeListener(self._listener)

    def wait_for(self, n: int, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously: wait until ``n`` are in."""
        deadline = time.monotonic() + timeout
        while len(self.progress) < n and time.monotonic() < deadline:
            time.sleep(0.05)


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    add = [p["durationMs"]["addBatch"] for p in progress if "addBatch" in p["durationMs"]]
    last: dict[str, dict] = {}
    for p in progress:
        last[p["id"]] = p
    state = [op for p in last.values() for op in p.get("stateOperators", [])]
    q = statistics.quantiles(trig, n=10, method="inclusive") if len(trig) >= 2 else trig * 9
    return {
        "batch_ms_p50": statistics.median(trig) if trig else 0.0,
        "batch_ms_p90": q[8] if trig else 0.0,
        "add_batch_ms": statistics.median(add) if add else 0.0,
        "batches": len(progress),
        "empty_batches": sum(1 for p in progress if p.get("numInputRows", 0) == 0),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in state),
        "state_bytes": sum(op.get("memoryUsedBytes", 0) for op in state),
    }
