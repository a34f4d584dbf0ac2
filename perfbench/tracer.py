"""Span tracing of the engine's layers, done from outside the engine.

`Tracer.instrument` replaces the public functions of the layer modules
with timing wrappers in every package module that holds a reference to
them (the defining module and each module that imported the name), so
calls made anywhere in the engine are seen. `Tracer.restore` puts the
originals back. Each span sets its own Spark job group, which lets
`job_table` attribute every Spark job, its stage count and its
submission and completion times (read from Spark's status store) to
the innermost span that launched it.

Spans are kept in memory as dicts: id, name, parent, op, group, start,
end (epoch seconds, comparable with the status store's job times) and,
for wrapped functions, the call's string arguments (paths, table names).
"""

from __future__ import annotations

import inspect
import itertools
import sys
import time
from collections import Counter
from contextlib import contextmanager
from types import ModuleType

PACKAGE = "statcan_etl_pipeline_spark"


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self._patched: list[tuple[ModuleType, str, object]] = []
        self.counts: Counter = Counter()

    def count(self, **amounts: float) -> None:
        """Add to named counters; a no-op when tracing is off."""
        if self.enabled:
            self.counts.update(amounts)

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; a no-op when tracing is off."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": self.op, "group": f"perfbench-{sid}",
               "parent": self._stack[-1]["id"] if self._stack else None, **attrs}
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self.spans.append(rec)

    def _wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name, args=[a for a in args if isinstance(a, str)]):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        traced.__doc__ = fn.__doc__
        return traced

    def instrument(self, layers: dict[str, list[ModuleType]]) -> None:
        """Wrap every public function defined in each layer's modules.
        The span of `fn` in module `m` of layer `L` is named `L.fn`."""
        holders = [m for n, m in list(sys.modules.items())
                   if m is not None and (n == PACKAGE or n.startswith(PACKAGE + "."))]
        for layer, modules in layers.items():
            for mod in modules:
                for attr, fn in list(vars(mod).items()):
                    if (attr.startswith("_") or not inspect.isfunction(fn)
                            or fn.__module__ != mod.__name__):
                        continue
                    wrapper = self._wrap(f"{layer}.{attr}", fn)
                    for holder in holders:
                        for hattr, value in list(vars(holder).items()):
                            if value is fn:
                                self._patched.append((holder, hattr, fn))
                                setattr(holder, hattr, wrapper)

    def restore(self) -> None:
        for holder, attr, fn in reversed(self._patched):
            setattr(holder, attr, fn)
        self._patched.clear()

    def job_table(self) -> dict[str, list[dict]]:
        """Spark jobs per job group: stage count and [submit, complete]
        in epoch seconds. Waits for the listener bus to drain first, so
        every finished job has reached the status store."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        out: dict[str, list[dict]] = {}
        it = jsc.statusStore().jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            group = job.jobGroup()
            if not group.isDefined():
                continue
            sub, done = job.submissionTime(), job.completionTime()
            out.setdefault(group.get(), []).append({
                "stages": job.numCompletedStages(),
                "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "complete": done.get().getTime() / 1000.0 if done.isDefined() else None,
            })
        return out
