"""Spans and counts recorded around the benchmark's calls into each layer.

A span carries a name, start, end (seconds since the run started), the index
of the span that caused it, and attributes. Spans stay in memory and are
written out once, when the run ends. Counts are taken at the same call
boundaries: Spark jobs, stages and tasks of the job group the benchmark set,
Catalyst phase times from the returned DataFrame's planning tracker, and the
number of persisted RDDs.

Calls inside the package are traced from outside: ``wrap`` replaces a
function or method, wherever the loaded package binds it, by one that times
each call. A run traces the same calls it makes untraced.

``NullTracer`` is what an untraced run uses: the same calls, no recording.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def group(self, spark, name: str) -> None:
        pass

    def add(self, metric: str, value: float) -> None:
        pass

    def set(self, metric: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.metrics: dict[str, float] = defaultdict(float)
        self.items: dict[str, dict] = {}   # per entry / per table counts
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self.op_index = 0

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": self._now(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = self._now()
            self._stack.pop()
            self.metrics[f"{name}_s"] += rec["end"] - rec["start"]

    def add(self, metric: str, value: float) -> None:
        self.metrics[metric] += value

    def set(self, metric: str, value: float) -> None:
        self.metrics[metric] = value

    # -- calls into the package ----------------------------------------------

    def wrap(self, owner, attr: str, name: str, *, record: bool = True,
             count=None) -> None:
        """Time every call of ``owner.attr`` as layer ``name``.

        ``owner`` is a class (its method is replaced) or a module (the
        function is replaced in every loaded module of its package that
        imported it by name). With ``record`` each call is a span; without
        it, for functions called per column or per table, only the layer's
        time adds up. ``count(tracer, args, result)`` records counts.
        """
        fn = getattr(owner, attr)
        tracer = self
        metric = f"{name}_s"

        if record:
            @functools.wraps(fn)
            def timed(*args, **kwargs):
                with tracer.span(name):
                    out = fn(*args, **kwargs)
                if count:
                    count(tracer, args, out)
                return out
        else:
            @functools.wraps(fn)
            def timed(*args, **kwargs):
                t = time.perf_counter()
                out = fn(*args, **kwargs)
                tracer.metrics[metric] += time.perf_counter() - t
                if count:
                    count(tracer, args, out)
                return out

        if isinstance(owner, type):
            setattr(owner, attr, timed)
            return
        package = owner.__name__.split(".")[0]
        for mod_name, mod in list(sys.modules.items()):
            if (mod_name == package or mod_name.startswith(package + ".")) \
                    and getattr(mod, attr, None) is fn:
                setattr(mod, attr, timed)

    # -- Spark counts ------------------------------------------------------

    def group(self, spark, name: str) -> None:
        """Tag the jobs that follow with a job group named after the item
        and the operation, so that each operation's jobs count once."""
        group = f"{name}@{self.op_index}"
        spark.sparkContext.setJobGroup(group, group)

    def spark_counts(self, spark, name: str) -> dict:
        """Jobs, distinct stages run and tasks completed under the item's
        job group in this operation, read after the listener bus has
        delivered every event so far."""
        t = time.perf_counter()
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(f"{name}@{self.op_index}"))
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n_stages = n_tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += info.numCompletedTasks
        self.overhead_s += time.perf_counter() - t
        return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}

    def persisted_rdds(self, spark) -> int:
        t = time.perf_counter()
        n = spark.sparkContext._jsc.getPersistentRDDs().size()
        self.overhead_s += time.perf_counter() - t
        return n

    def catalyst_phases(self, df) -> dict:
        """Seconds per planning phase of ``df``'s own query execution."""
        t = time.perf_counter()
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            opt = phases.get(phase)
            out[phase] = opt.get().durationMs() / 1000.0 \
                if opt.isDefined() else 0.0
        self.overhead_s += time.perf_counter() - t
        return out

    # -- summary -----------------------------------------------------------

    def uncovered_s(self, op_span: str = "op") -> float:
        """Time inside the operation spans that no child span covers."""
        total = 0.0
        for i, s in enumerate(self.spans):
            if s["name"] != op_span:
                continue
            children = sum(c["end"] - c["start"] for c in self.spans
                           if c["parent"] == i)
            total += (s["end"] - s["start"]) - children
        return total

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "items": self.items,
                       "metrics": dict(self.metrics), **extra},
                      fh, indent=1, sort_keys=True)
