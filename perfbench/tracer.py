"""Layer spans, measured from outside the program.

``Tracer.install`` wraps the public functions of each layer's modules
(and the public methods of ``CheckpointStore``). A wrapped call opens a
span -- name, start, end, parent -- and, while it is open, sets the
span id as the Spark local property ``perfbench.span``; every Spark job
then carries the id of the innermost open span in its event-log
properties, which is how ``eventlog`` folds jobs into spans.

Attribution is by action: a lazy function's span holds only its
planning time, and the work it describes lands in the span of the
action that forces it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import time

SPAN_PROPERTY = "perfbench.span"

# layer modules, by the dotted name spans and metrics use
LAYER_MODULES = {
    "sources.tables": "intent_classifier_service_spark.sources.tables",
    "sources.iceberg": "intent_classifier_service_spark.sources.iceberg",
    "plans.fused": "intent_classifier_service_spark.plans.fused",
    "plans.rules": "intent_classifier_service_spark.plans.rules",
    "operators.drift": "intent_classifier_service_spark.operators.drift",
    "operators.stats": "intent_classifier_service_spark.operators.stats",
    "operators.uniqueness": "intent_classifier_service_spark.operators.uniqueness",
    "operators.dedup": "intent_classifier_service_spark.operators.dedup",
    "operators.sampling": "intent_classifier_service_spark.operators.sampling",
    "operators.packing": "intent_classifier_service_spark.operators.packing",
    "operators.textstats": "intent_classifier_service_spark.operators.textstats",
    "streaming.checkpoint": "intent_classifier_service_spark.streaming.checkpoint",
    "jobs.validate": "jobs.validate",
    "jobs.prepare_corpus": "jobs.prepare_corpus",
}

# CheckpointStore methods that write state, and the store directories
# each one writes
CHECKPOINT_WRITES = {
    "mark_done": ("",), "mark_done_bulk": ("",),
    "append_rule_stats": ("_rules",), "write_profiles": ("_profiles",),
    "write_doc_counts": ("_docids", "_docnames"),
}
CHECKPOINT_SUFFIXES = ("", "_rules", "_profiles", "_docids", "_docnames")


def parquet_files(roots) -> dict[str, int]:
    """{path: bytes} of the parquet data files under ``roots``."""
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(d, n)
                    out[p] = os.path.getsize(p)
    return out


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "files", "bytes")

    def __init__(self, sid: int, name: str, parent: int | None, start: float):
        self.id, self.name, self.parent, self.start = sid, name, parent, start
        self.end = start
        self.files = self.bytes = 0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._undo: list = []

    # -- spans ---------------------------------------------------------
    def open(self, name: str) -> Span:
        t0 = time.time()
        parent = self.stack[-1].id if self.stack else None
        span = Span(len(self.spans), name, parent, t0)
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(span.id))
        span.start = time.time()
        self.overhead_s += span.start - t0
        return span

    def close(self, span: Span) -> None:
        t0 = time.time()
        span.end = t0
        self.stack.pop()
        self.sc.setLocalProperty(
            SPAN_PROPERTY, str(self.stack[-1].id) if self.stack else None)
        self.overhead_s += time.time() - t0

    def _traced(self, name: str, fn, write_roots=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            before = None
            if write_roots is not None:
                t0 = time.time()
                roots = write_roots(args, kwargs)
                before = parquet_files(roots)
                self.overhead_s += time.time() - t0
            span = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(span)
                if before is not None:
                    t0 = time.time()
                    after = parquet_files(roots)
                    new = [p for p in after if p not in before]
                    span.files = len(new)
                    span.bytes = sum(after[p] for p in new)
                    self.overhead_s += time.time() - t0
        return wrapper

    def _patch(self, owner, attr: str, wrapped) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (attr.startswith("_") or not inspect.isfunction(fn)
                        or fn.__module__ != modname
                        or hasattr(fn, "evalType")):  # pandas UDFs stay as they are
                    continue
                roots = None
                if modname.endswith(".tables") and attr.startswith("write"):
                    def roots(args, kwargs):
                        path = kwargs.get("path", args[1] if len(args) > 1 else None)
                        return [path] if isinstance(path, str) else []
                self._patch(mod, attr, self._traced(f"{layer}.{attr}", fn, roots))
        ck = importlib.import_module(LAYER_MODULES["streaming.checkpoint"])
        store = ck.CheckpointStore
        for attr, fn in list(vars(store).items()):
            if attr.startswith("_") or not inspect.isfunction(fn):
                continue
            roots = None
            if attr in CHECKPOINT_WRITES:
                def roots(args, kwargs, _sfx=CHECKPOINT_WRITES[attr]):
                    return [args[0].path + s for s in _sfx]
            self._patch(store, attr, self._traced(
                f"streaming.checkpoint.CheckpointStore.{attr}", fn, roots))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # -- span arithmetic -------------------------------------------------
    def subtree(self, root: Span) -> list[Span]:
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def self_times(self, spans: list[Span]) -> dict[int, float]:
        """span id -> wall minus the walls of its direct children."""
        st = {s.id: s.end - s.start for s in spans}
        for s in spans:
            if s.parent in st:
                st[s.parent] -= s.end - s.start
        return st
