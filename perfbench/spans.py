"""In-memory span tracer for traced benchmark runs.

A span is one call into an instrumented function: name, layer, start,
end, parent span, and the Spark job group it ran under. Every span gets
a fresh job group, so ``statusTracker().getJobIdsForGroup`` read right
after the call gives the jobs the span itself submitted (jobs of nested
spans land in the nested spans' groups). Spans are kept in memory and
written out once, at the end of the run.

``instrument`` wraps the public functions of the engine modules listed
in ``LAYERS`` and then replaces *every* module attribute that is one of
the originals -- ``plans/daily.py`` binds ``write_partitioned``,
``lint_plan`` and ``build_alert`` at import time, while ``queries.py``
imports operators inside its functions, so patching only the defining
module would miss the first kind of binding site.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import sys
import time
from dataclasses import dataclass

PKG = "retail_inventory_reconciliation_batch_etl_pipeline_on_aws__spark"

#: module (relative to the engine package) -> layer name
LAYERS = {
    "operators.graph": "operators.graph",
    "operators.bpe": "operators.bpe",
    "operators.similarity": "operators.similarity",
    "operators.dedup": "operators.dedup",
    "operators.multimodal": "operators.multimodal",
    "operators.prefix": "operators.relational",
    "operators.allocate": "operators.relational",
    "operators.asof": "operators.relational",
    "operators.scd": "operators.relational",
    "operators.interval": "operators.relational",
    "operators.sessionize": "operators.relational",
    "plans.fixtures": "plans.fixtures",
    "plans.daily": "plans.daily",
    "sources.writers": "sources.writers",
    "alerts": "alerts",
}

#: single functions traced under their own layer name
FUNCTIONS = {("plans.audit", "lint_plan"): "plans.audit.lint"}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    wall_start: float = 0.0
    jobs: int = 0  # jobs submitted under this span's own group


class Tracer:
    """Records spans. ``call`` always runs its function as a span under a
    fresh job group; ``enabled`` turns on the spans of the instrumented
    engine functions (off, their wrappers are plain calls)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.checkpoints = 0
        self.bookkeeping_s = 0.0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    def begin(self, name: str, layer: str) -> Span:
        b0 = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        span = Span(
            id=sid,
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            group=f"span-{sid}",
            start=0.0,
            wall_start=time.time(),
        )
        self._set_group(span)
        self._stack.append(span)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - b0
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.jobs = len(self.sc.statusTracker().getJobIdsForGroup(span.group))
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)
        self.spans.append(span)
        self.bookkeeping_s += time.perf_counter() - span.end

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        span = self.begin(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(span)


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        return tracer.call(name, layer, fn, *args, **kwargs)

    return wrapper


def _public_functions(module) -> dict[str, object]:
    return {
        attr: obj
        for attr, obj in vars(module).items()
        if not attr.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == module.__name__
    }


def instrument(tracer: Tracer) -> int:
    """Wrap the layer modules' public functions, ``Pipeline.run``/``add``
    and pyspark's checkpoint calls; return the number of binding sites
    replaced."""
    originals: dict[int, object] = {}
    for rel, layer in LAYERS.items():
        module = importlib.import_module(f"{PKG}.{rel}")
        for attr, fn in _public_functions(module).items():
            originals[id(fn)] = _wrap(tracer, fn, f"{rel}.{attr}", layer)
    for (rel, attr), layer in FUNCTIONS.items():
        fn = getattr(importlib.import_module(f"{PKG}.{rel}"), attr)
        originals[id(fn)] = _wrap(tracer, fn, f"{rel}.{attr}", layer)

    replaced = 0
    for mod_name, module in list(sys.modules.items()):
        if module is None or not (mod_name == PKG or mod_name.startswith(PKG + ".")):
            continue
        for attr, obj in list(vars(module).items()):
            if id(obj) in originals:
                setattr(module, attr, originals[id(obj)])
                replaced += 1

    _instrument_pipeline(tracer)
    _count_checkpoints(tracer)
    return replaced


def _instrument_pipeline(tracer: Tracer) -> None:
    cls = importlib.import_module(f"{PKG}.pipeline").Pipeline
    run, add = cls.run, cls.add

    traced_run = _wrap(tracer, run, "pipeline.Pipeline.run", "pipeline")

    def traced_add(self, name, fn, deps=None):
        return add(self, name, _wrap(tracer, fn, f"pipeline.task.{name}", "pipeline.task"), deps)

    cls.run, cls.add = traced_run, traced_add


def _count_checkpoints(tracer: Tracer) -> None:
    from pyspark.sql import SparkSession

    cls = type(SparkSession.getActiveSession().range(1))
    for attr in ("checkpoint", "localCheckpoint"):
        original = getattr(cls, attr)

        def counted(self, *args, _original=original, **kwargs):
            if tracer.enabled:
                tracer.checkpoints += 1
            return _original(self, *args, **kwargs)

        setattr(cls, attr, counted)
