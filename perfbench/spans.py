"""Spans around the engine's layer boundaries, recorded from outside.

``Tracer.install`` wraps the public entry points of each
``ankaflow_spark`` layer (module attributes and class methods, so the
engine's own code is untouched) and records one span per call: name,
start, end and parent. Only calls on the main thread are recorded;
calls made from Spark callback threads (``foreachBatch``) fall inside
whichever main-thread span is waiting on them.

Spark work is read afterwards from the JVM status store in one bulk
read (``spark_jobs``/``spark_stages``) and attached to the tree by
submission time: a job belongs to the deepest span open when it was
submitted. ``self_times`` splits one item's wall into per-layer self
time so that the parts sum to the item's duration exactly.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional["Span"] = None
    children: List["Span"] = field(default_factory=list)
    jobs: List[dict] = field(default_factory=list)
    files: int = 0  # files an item left under its output dirs


class Tracer:
    def __init__(self) -> None:
        self.roots: List[Span] = []
        self._stack: List[Span] = []
        self._patched: List[Tuple[object, str, object]] = []
        self.enabled = True

    # -- recording --------------------------------------------------------
    def begin(self, name: str) -> Optional[Span]:
        if not self.enabled or threading.current_thread() is not threading.main_thread():
            return None
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), parent=parent)
        (parent.children if parent else self.roots).append(sp)
        self._stack.append(sp)
        return sp

    def end(self, sp: Optional[Span]) -> None:
        if sp is None:
            return
        sp.end = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.begin(name)
        try:
            yield sp
        finally:
            self.end(sp)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # re-entrant calls (a subclass sink calling its base sink,
            # a recursive render) stay inside the outer span
            top = tracer._stack[-1] if tracer._stack else None
            if not tracer.enabled or (top is not None and top.name == name):
                return fn(*args, **kwargs)
            sp = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(sp)

        return wrapper

    def patch(self, owner, attr: str, name: str) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, raw))
        if isinstance(raw, classmethod):
            setattr(owner, attr, classmethod(self._wrap(raw.__func__, name)))
        else:
            setattr(owner, attr, self._wrap(raw, name))

    def install(self) -> None:
        """Wrap every layer boundary the benchmark reports on."""
        from ankaflow_spark import session
        from ankaflow_spark.functions import fn
        from ankaflow_spark.models import core
        from ankaflow_spark.operators import registry
        from ankaflow_spark.plans import flow, renderer
        from ankaflow_spark.sources import file as file_sources
        from ankaflow_spark.sqlfront import rewrite

        self.patch(fn, "register_engine_functions", "functions.register")
        self.patch(session.SparkEngine, "sql", "session.sql")
        self.patch(session.SparkEngine, "write_bucketed", "session.write_bucketed")
        raw_register = session.SparkEngine.register
        self._patched.append((session.SparkEngine, "register", raw_register))
        traced_register = self._wrap(raw_register, "session.materialize")

        def register(engine, name, df, materialize=False):
            # only eager registrations (tap cache + count) do work
            if materialize:
                return traced_register(engine, name, df, materialize=True)
            return raw_register(engine, name, df)

        session.SparkEngine.register = register
        self.patch(core.Stages, "load", "models.load")
        self.patch(renderer.Renderer, "render", "plans.render")
        self.patch(rewrite, "rewrite_sql", "sqlfront.rewrite")
        for kind in list(flow.HANDLERS):
            label = getattr(kind, "value", str(kind))
            self._patched.append((flow.HANDLERS, kind, flow.HANDLERS[kind]))
            flow.HANDLERS[kind] = self._wrap(flow.HANDLERS[kind], f"plans.stage.{label}")
        for cls in vars(file_sources).values():
            if isinstance(cls, type) and cls.__module__ == file_sources.__name__:
                for attr in ("tap", "sink"):
                    if attr in cls.__dict__:
                        self.patch(cls, attr, f"sources.{attr}")
        raw_get = registry.get_operator
        self._patched.append((registry, "get_operator", raw_get))

        def get_operator(name):
            return self._wrap(raw_get(name), "operators.build")

        registry.get_operator = get_operator

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            if isinstance(owner, dict):
                owner[attr] = raw
            else:
                setattr(owner, attr, raw)
        self._patched.clear()


def progress_listener(batches: list):
    """A streaming listener that appends every micro-batch's progress
    (``timestamp``, ``durationMs``) to ``batches``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            batches.append({"timestamp": p.timestamp, "durationMs": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


# -- Spark status store ---------------------------------------------------
def _mapper(spark):
    jvm = spark._jvm
    scala_mod = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(scala_mod)
    return mapper


def drain_listeners(spark) -> None:
    """Block until the listener bus has delivered every queued event, so
    the status store and streaming listeners are up to date."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def spark_jobs(spark) -> List[dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    return json.loads(_mapper(spark).writeValueAsString(store.jobsList(None)))


def spark_stages(spark) -> List[dict]:
    store = spark.sparkContext._jsc.sc().statusStore()
    quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    raw = store.stageList(None, False, False, quantiles, None)
    return json.loads(_mapper(spark).writeValueAsString(raw))


def attach_jobs(root: Span, jobs: List[dict]) -> None:
    """Give each job submitted inside ``root`` to the deepest span open
    at its submission time."""
    lo, hi = root.start * 1000.0, root.end * 1000.0
    for job in jobs:
        sub = job.get("submissionTime")
        if sub is None or not (lo <= sub <= hi):
            continue
        node = root
        while True:
            inner = [c for c in node.children if c.start * 1000.0 <= sub <= c.end * 1000.0]
            if not inner:
                break
            node = inner[0]
        node.jobs.append(job)


def union(intervals: List[Tuple[float, float]]) -> List[Tuple[float, float]]:
    out: List[Tuple[float, float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def minus(a: List[Tuple[float, float]], b: List[Tuple[float, float]]) -> float:
    """Length of the union ``a`` minus the union ``b`` (both disjoint)."""
    total = length(a)
    for x0, x1 in a:
        for y0, y1 in b:
            total -= max(0.0, min(x1, y1) - max(x0, y0))
    return total


def self_times(root: Span, out: Dict[str, float]) -> None:
    """Add each span's self time to ``out[name]`` and the time spent in
    Spark jobs not covered by a child span to ``out['spark.job']``.

    For every span: self + job time + children = duration, so the
    values added for one item sum to the item's duration."""
    kids = union([(c.start, c.end) for c in root.children])
    job_iv = union(
        [
            (max(root.start, j["submissionTime"] / 1000.0), min(root.end, j["completionTime"] / 1000.0))
            for j in root.jobs
            if j.get("completionTime") is not None
        ]
    )
    job_s = minus(job_iv, kids)
    dur = root.end - root.start
    out[root.name] = out.get(root.name, 0.0) + dur - length(kids) - job_s
    out["spark.job"] = out.get("spark.job", 0.0) + job_s
    for c in root.children:
        self_times(c, out)


def walk(root: Span):
    yield root
    for c in root.children:
        yield from walk(c)
