"""In-memory spans, layer wrappers and self time.

A span records its name, start, end (epoch seconds) and the span that was
open when it began.  The benchmark nests them run > pass > job >
construct|execute > layer call, and appends the Spark jobs and stages it
reads back from the event log beneath the span that submitted them.

Layers are timed from outside the package: ``patched`` swaps a public
function for a span-opening wrapper in every module that holds a reference
to it (``queries.read_table``, ``partitioning.spread_small`` ...), and puts
the originals back on exit.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for the benchmark's own (single) thread.

    ``on_current``, when set, is told the innermost open span id each time
    it changes; the benchmark uses it to tag Spark jobs with that id.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.on_current: Callable[[int | None], None] | None = None
        self._stack: list[int] = []
        self._thread = threading.current_thread()
        self._offset = time.time() - time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() + self._offset

    def add(self, name: str, parent: int | None, start: float, end: float, **attrs) -> Span:
        sp = Span(len(self.spans), name, parent, start, end, attrs)
        self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        sp = self.add(name, self._stack[-1] if self._stack else None, self.now(), 0.0, **attrs)
        self._stack.append(sp.id)
        if self.on_current:
            self.on_current(sp.id)
        try:
            yield sp
        finally:
            sp.end = self.now()
            self._stack.pop()
            if self.on_current:
                self.on_current(self._stack[-1] if self._stack else None)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.current_thread() is not self._thread:
                return fn(*args, **kwargs)  # no parent to hang it under
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


@contextmanager
def patched(tracer: Tracer, targets: Iterable[tuple[str, object, str]], package: str):
    """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each
    target, wherever it is referenced: on the owner and in every loaded
    module of ``package`` that imported it by name."""
    undo: list[tuple[object, str, object]] = []
    try:
        for name, owner, attr in targets:
            orig = getattr(owner, attr)
            wrapped = tracer.wrap(name, orig)
            sites = [owner] + [
                m for m in list(sys.modules.values())
                if getattr(m, "__name__", "").startswith(package) and m is not owner
            ]
            for site in sites:
                for key, value in list(vars(site).items()):
                    if value is orig:
                        setattr(site, key, wrapped)
                        undo.append((site, key, orig))
        yield
    finally:
        for site, key, orig in reversed(undo):
            setattr(site, key, orig)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)`` intervals."""
    total = 0.0
    cur: list[float] | None = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its children cover
    (children that overlap each other, like concurrent stages, count once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    return {
        s.id: s.duration - union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[s.id]
        )
        for s in spans
    }


def ancestors(spans: list[Span], sid: int | None) -> Iterator[Span]:
    """The span itself, then its parent, up to the root."""
    while sid is not None:
        sp = spans[sid]
        yield sp
        sid = sp.parent
