"""Spans around calls into the engine's layers, recorded from outside it.

A span has a name, a parent, a start and an end, and its own Spark job
group, so the jobs a span runs (and their tasks, shuffle writes and
spills) can be attributed to it through the status store. Spans stay in
memory; ``spark_counters`` reads a span's Spark work after it ends.

``install`` replaces functions with span-opening wrappers at module
attribute level: in the defining module and in every engine module (or
the query registry) that imported the function by name. Nothing inside
the engine changes.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool = True):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: dict[int, Span] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, parent.sid if parent else None, time.perf_counter(), group=f"perfbench-{sid}")
        if parent:
            parent.children.append(sid)
        self.spans[sid] = sp
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__perfbench_original__ = fn
        return traced

    # -- reading spans back ---------------------------------------------------

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], list(sp.children)
        while todo:
            child = self.spans[todo.pop()]
            out.append(child)
            todo.extend(child.children)
        return out

    def by_name(self, name: str, within: Span | None = None) -> list[Span]:
        pool = self.descendants(within) if within else self.spans.values()
        return [s for s in pool if s.name == name]

    def self_seconds(self, sp: Span) -> float:
        return sp.seconds - sum(self.spans[c].seconds for c in sp.children)

    def spark_counters(self, spans: list[Span]) -> dict[str, int]:
        """Jobs, tasks, shuffle-write bytes and spilled bytes of the
        jobs run under the given spans' groups."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {"spark_jobs": 0, "spark_tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        seen_stages: set[int] = set()
        for sp in spans:
            for jid in tracker.getJobIdsForGroup(sp.group):
                out["spark_jobs"] += 1
                info = tracker.getJobInfo(jid)
                for stage in info.stageIds if info else []:
                    if stage in seen_stages:
                        continue
                    seen_stages.add(stage)
                    try:
                        data = store.lastStageAttempt(stage)
                    except Exception:  # noqa: BLE001 — a stage skipped by shuffle reuse has no attempt
                        continue
                    if str(data.status()) == "SKIPPED":
                        continue
                    out["spark_tasks"] += data.numCompleteTasks()
                    out["shuffle_write_bytes"] += data.shuffleWriteBytes()
                    out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
        return out


def install(tracer: Tracer, targets: list[tuple[str, str, str]]) -> None:
    """Wrap ``module.attr`` (``attr`` may be ``Class.method``) as span
    ``name`` for every (module, attr, name) target."""
    for mod_name, attr, name in targets:
        mod = importlib.import_module(mod_name)
        owner, _, leaf = attr.rpartition(".")
        holder = getattr(mod, owner) if owner else mod
        original = getattr(holder, leaf)
        traced = tracer.wrap(name, original)
        setattr(holder, leaf, traced)
        if owner:
            continue
        for other in list(sys.modules.values()):
            other_name = getattr(other, "__name__", "")
            if not other_name.startswith(("usajobs_etl_service_spark", "__spark_entry__")):
                continue
            for k, v in list(vars(other).items()):
                if v is original:
                    setattr(other, k, traced)
