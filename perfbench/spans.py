"""Spans around the calls into each shelf framework layer.

The tracer replaces the public functions and methods of the framework
modules with wrappers that record a span per call: name, start, end, the
span that caused it, thread, and the benchmark scope (phase) it ran in.
Spans stay in memory until the run ends.

A module that imported a wrapped function by value (``from .utils import
checksum_file``) holds its own reference, so the wrapper is installed on
every framework module whose attribute is the original function object.

Self time of a span is its duration minus the part of it covered by its
children. Phase accounting splits each instant of a phase's wall time
among the innermost spans active on all threads at that instant, so the
shares sum to the covered time and the rest is reported as uninstrumented.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

#: Framework modules whose public functions and methods get spans.
LAYERS = (
    "utils",
    "schemas",
    "core",
    "snapshots",
    "store",
    "steps",
    "tables",
    "table_metadata",
    "query",
)
PACKAGE = "shelf_spark.framework"


@dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float | None
    parent: Span | None
    thread: int
    scope: str
    nbytes: int = 0

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def _path_bytes(value) -> int:
    try:
        return os.path.getsize(value)
    except (OSError, TypeError):
        return 0


#: Spans that also record the bytes of the file they were called on.
_BYTES_ARG = {
    "utils.checksum_file": 0,
    "store.CachedStore.upload": 1,
}


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.scope = "setup"
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack = self._stack()
        self._restore: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _main_top(self) -> Span | None:
        return self._main_stack[-1] if self._main_stack else None

    def begin(self, name: str, nbytes: int = 0) -> Span:
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif threading.get_ident() != self._main:
            # a pool thread's first span was caused by whatever the main
            # thread is inside (execute_dag), not by nothing
            parent = self._main_top()
        else:
            parent = None
        span = Span(name, time.perf_counter(), None, parent, threading.get_ident(), self.scope, nbytes)
        stack.append(span)
        self.spans.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()

    def phase(self, scope: str) -> "_Phase":
        return _Phase(self, scope)

    def wrap(self, name: str, fn):
        tracer = self
        byte_arg = _BYTES_ARG.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            nbytes = _path_bytes(args[byte_arg]) if byte_arg is not None and len(args) > byte_arg else 0
            span = tracer.begin(name, nbytes)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        wrapper.__perfbench_original__ = fn
        return wrapper

    # -- installing wrappers --------------------------------------------------

    def install(self) -> None:
        """Wrap every public function and method of the framework layers."""
        modules = {name: importlib.import_module(f"{PACKAGE}.{name}") for name in LAYERS}
        wrapped: dict[int, object] = {}
        for short, mod in modules.items():
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = self.wrap(f"{short}.{attr}", obj)
                elif inspect.isclass(obj):
                    self._wrap_class(short, obj)
        # every module holding the original by value gets the same wrapper
        for mod in modules.values():
            for attr, obj in list(vars(mod).items()):
                if id(obj) in wrapped:
                    self._set(mod, attr, wrapped[id(obj)])

    def _wrap_class(self, short: str, cls: type) -> None:
        import dataclasses

        for attr, raw in list(vars(cls).items()):
            public = not attr.startswith("_") or (attr == "__init__" and not dataclasses.is_dataclass(cls))
            if not public:
                continue
            name = f"{short}.{cls.__name__}.{attr}"
            if isinstance(raw, classmethod):
                self._set(cls, attr, classmethod(self.wrap(name, raw.__func__)))
            elif isinstance(raw, staticmethod):
                self._set(cls, attr, staticmethod(self.wrap(name, raw.__func__)))
            elif inspect.isfunction(raw):
                self._set(cls, attr, self.wrap(name, raw))

    def _set(self, owner, attr: str, value) -> None:
        self._restore.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._restore):
            setattr(owner, attr, value)
        self._restore.clear()

    # -- reading spans --------------------------------------------------------

    def in_scope(self, scope: str) -> list[Span]:
        return [s for s in self.spans if s.scope == scope and s.end is not None]

    def dump(self) -> list[dict]:
        index = {id(s): i for i, s in enumerate(self.spans)}
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": index.get(id(s.parent)) if s.parent is not None else None,
                "thread": s.thread,
                "scope": s.scope,
                "bytes": s.nbytes,
            }
            for s in self.spans
        ]


class _Phase:
    """Scope marker plus a root span covering the phase's wall time."""

    def __init__(self, tracer: Tracer, scope: str) -> None:
        self.tracer, self.scope = tracer, scope

    def __enter__(self) -> Span:
        self.prev = self.tracer.scope
        self.tracer.scope = self.scope
        self.span = self.tracer.begin(f"phase.{self.scope}")
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer.end(self.span)
        self.tracer.scope = self.prev


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """id(span) → duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[id(s.parent)].append((s.start, s.end))
    return {id(s): s.duration - _union(children.get(id(s), [])) for s in spans}


def summarize(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: calls, inclusive seconds, self seconds, bytes."""
    own = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0, "bytes": 0})
    for s in spans:
        row = out[s.name]
        row["calls"] += 1
        row["s"] += s.duration
        row["self_s"] += own[id(s)]
        row["bytes"] += s.nbytes
    return out


def account(spans: list[Span], root: Span) -> dict[str, float]:
    """Split the root span's wall time among layers.

    At each instant, the innermost active span of every thread is a
    candidate; a candidate that is an ancestor of another candidate is
    waiting on it and gets nothing. The instant's time is shared equally
    among the remaining candidates. Time with no candidate is returned
    under ``(uninstrumented)``.
    """
    inner = [s for s in spans if s is not root]
    by_thread: dict[int, list[Span]] = defaultdict(list)
    for s in inner:
        by_thread[s.thread].append(s)
    segments: list[tuple[float, float, Span]] = []
    for thread_spans in by_thread.values():
        events = sorted(
            [(s.start, 1, s) for s in thread_spans] + [(s.end, 0, s) for s in thread_spans],
            key=lambda e: (e[0], e[1]),
        )
        stack: list[Span] = []
        last = None
        for t, is_start, s in events:
            if stack and last is not None and t > last:
                segments.append((last, t, stack[-1]))
            if is_start:
                stack.append(s)
            else:
                stack.remove(s)
            last = t
    cuts = sorted({root.start, root.end} | {t for a, b, _ in segments for t in (a, b)})
    shares: dict[str, float] = defaultdict(float)
    covered = 0.0
    seg_sorted = sorted(segments, key=lambda x: x[0])
    active: list[tuple[float, float, Span]] = []
    j = 0
    for a, b in zip(cuts, cuts[1:]):
        if a < root.start or b > root.end:
            continue
        while j < len(seg_sorted) and seg_sorted[j][0] <= a:
            active.append(seg_sorted[j])
            j += 1
        active = [seg for seg in active if seg[1] > a]
        current = [seg[2] for seg in active]
        if not current:
            continue
        ancestors = set()
        for s in current:
            p = s.parent
            while p is not None:
                ancestors.add(id(p))
                p = p.parent
        leaves = [s for s in current if id(s) not in ancestors] or current
        dt = b - a
        covered += dt
        for s in leaves:
            shares[s.layer] += dt / len(leaves)
    shares["(uninstrumented)"] = root.duration - covered
    return dict(shares)
