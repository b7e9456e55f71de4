"""Spans around calls into the package's layers, recorded from outside.

``Tracer.install`` wraps the public functions of each layer module (and the
public methods of the classes they define) and rebinds every name in every
loaded package module that refers to an original. ``queries`` binds most
layer functions with ``from … import``, so patching only the defining module
would miss those calls. ``uninstall`` restores the originals.

A span has a name, a start, an end, its parent span and the id of the query
execution it belongs to. Spans stay in memory until the run ends. A thread
the query layer starts (a pool worker, a ``foreachBatch`` callback) has no
open span of its own; its spans hang off the innermost span open on the
thread that runs the query, which is waiting for it.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import sys
import threading
import time
from dataclasses import dataclass

PACKAGE = "steam_data_engineer_project_spark"


def layer_of(module: str) -> str | None:
    """The span-name prefix for functions defined in ``module``."""
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2:
        return None
    top = parts[1]
    if top == "operators" and len(parts) == 3:
        return f"operators.{parts[2]}"
    if top in ("streaming", "sources", "plans", "quality", "multimodal", "corpus_store"):
        return top
    return None


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    exec_id: int | None
    start: float
    end: float = 0.0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.exec_id: int | None = None
        self.phase_span: int | None = None
        self.runner_stack: list[int] = []  # the query thread's open spans
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def thread_stack(self) -> list[int]:
        """The calling thread's open spans, innermost last."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str) -> Span:
        stack = self.thread_stack()
        # a slice, not an index: the query thread may pop its stack meanwhile
        parent = (stack or self.runner_stack[-1:] or [self.phase_span])[-1]
        span = Span(next(self._ids), parent, name, self.exec_id, time.perf_counter())
        stack.append(span.sid)
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self.thread_stack()
        if stack and stack[-1] == span.sid:
            stack.pop()

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            span = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(span)

        return traced

    # -- patching ----------------------------------------------------------
    def install(self) -> None:
        """Wrap every layer's public functions and class methods."""
        wrappers: dict[int, object] = {}
        for modname, mod in list(sys.modules.items()):
            layer = layer_of(modname)
            if layer is None or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isfunction(obj):
                    wrappers[id(obj)] = self._wrap(f"{layer}.{name}", obj)
                elif inspect.isclass(obj):
                    for attr, meth in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(meth):
                            self._set(obj, attr, self._wrap(f"{layer}.{attr}", meth))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PACKAGE) or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in wrappers:
                    self._set(mod, name, wrappers[id(obj)])

    def _set(self, owner, name: str, value) -> None:
        self._patched.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def uninstall(self) -> None:
        for owner, name, original in reversed(self._patched):
            setattr(owner, name, original)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------
    def self_times(self, key=lambda span: span.name) -> dict:
        """Per ``key(span)`` (default: span name): calls, inclusive seconds
        and self seconds, a span's duration minus the part its child spans
        cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict = {}
        for s in self.spans:
            covered, edge = 0.0, s.start
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                a, b = max(c.start, edge), min(c.end, s.end)
                if b > a:
                    covered += b - a
                    edge = b
            agg = out.setdefault(key(s), {"calls": 0, "s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["s"] += s.end - s.start
            agg["self_s"] += s.end - s.start - covered
        return out


def streaming_listener(progress: list[dict]):
    """A ``StreamingQueryListener`` that appends each progress event's batch
    size and duration breakdown to ``progress``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Collector(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            progress.append(
                {
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Collector()
